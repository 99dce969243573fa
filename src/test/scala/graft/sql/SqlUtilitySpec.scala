package graft.sql

import graft.SparkSpec

/** OPTIONS hint, CREATE TABLE ... LIKE, and utility-statement spellings —
  * the round-12 SQL-surface additions (reference semantics:
  * CatalogSourceTable.java:242-259, SqlTableLike.java:104,
  * MergeTableLikeUtil.java:185-206, TableEnvironmentImpl.executeSql). */
class SqlUtilitySpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def writePipeCsv(dir: String): Unit = {
    val s = spark
    import s.implicits._
    Seq(("click", 1L, 2.5), ("view", 2L, 1.0), ("click", 3L, 4.0))
      .toDF("etype", "eid", "v")
      .coalesce(1).write.mode("overwrite").option("sep", "|").csv(dir)
  }

  test("OPTIONS hint overrides the registered csv delimiter for one query") {
    val dir = freshDir("opthint")
    writePipeCsv(dir)
    spark.conf.set(OptionsHint.ConfKey, "true")
    try {
      spark.sql(s"""CREATE TABLE hint_ev (etype STRING, eid BIGINT, v DOUBLE)
                    WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'csv', 'csv.field-delimiter' = ',')""")
      val rows = spark.sql(
        """SELECT etype, count(*) AS n, sum(v) AS sv
           FROM hint_ev /*+ OPTIONS('csv.field-delimiter' = '|') */
           GROUP BY etype ORDER BY etype""").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq(("click", 2L, 6.5), ("view", 1L, 1.0)))
      // the registration itself is untouched: an unhinted read still uses
      // the (wrong for this file) comma delimiter → values land in col 1
      val unhinted = spark.sql("SELECT * FROM hint_ev").collect()
      assert(unhinted.forall(r => r.isNullAt(1) || r.getString(0).contains("|")))
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }

  test("OPTIONS hint with an explicit alias after the hint") {
    val dir = freshDir("opthint2")
    writePipeCsv(dir)
    spark.conf.set(OptionsHint.ConfKey, "true")
    try {
      spark.sql(s"""CREATE TABLE hint_ev2 (etype STRING, eid BIGINT, v DOUBLE)
                    WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'csv')""")
      val n = spark.sql(
        """SELECT count(*) AS n
           FROM hint_ev2 /*+ OPTIONS('csv.field-delimiter' = '|') */ AS e
           WHERE e.eid > 1""").collect().head.getLong(0)
      assert(n == 2L)
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }

  test("OPTIONS hint without the enabling conf throws the reference's error") {
    val dir = freshDir("opthint3")
    writePipeCsv(dir)
    spark.sql(s"""CREATE TABLE hint_ev3 (etype STRING, eid BIGINT, v DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'csv')""")
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM hint_ev3 /*+ OPTIONS('csv.field-delimiter' = '|') */")
    }
    assert(e.getMessage.contains("table.dynamic-table-options.enabled"))
  }

  test("OPTIONS hint on a non-connector table is a pointed error") {
    spark.conf.set(OptionsHint.ConfKey, "true")
    try {
      spark.range(3).createOrReplaceTempView("plain_view")
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM plain_view /*+ OPTIONS('k' = 'v') */")
      }
      assert(e.getMessage.contains("not a registered connector table"))
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }

  test("a string literal containing the hint spelling is NOT a hint") {
    // no conf enabled — if the literal dispatched as a hint this would
    // throw the conf-gate error instead of returning the literal
    val v = spark.sql("SELECT '/*+ OPTIONS(''k''=''v'') */' AS s").collect().head.getString(0)
    assert(v == "/*+ OPTIONS('k'='v') */")
  }

  test("literal-blanking honors '' and backslash escapes — a hint AFTER the escape stays visible") {
    // 'it''s' / 'it\'s': the escaped quote must not flip the in-string
    // tracking, so the LITERAL hint tail stays hidden and the REAL hint
    // later in the statement still dispatches (here: to the conf-gate error)
    val doubled = spark.sql("SELECT 'it''s /*+ OPTIONS' AS s").collect().head.getString(0)
    assert(doubled == "it's /*+ OPTIONS")
    val backslashed = spark.sql("SELECT 'it\\'s /*+ OPTIONS' AS s").collect().head.getString(0)
    assert(backslashed == "it's /*+ OPTIONS")
    // genuine hint after an escaped-quote literal is still seen (conf off →
    // the reference's gate error, NOT a parse error from a missed rewrite)
    spark.range(1).createOrReplaceTempView("esc_t")
    val e = intercept[Exception] {
      spark.sql("SELECT 'it''s' AS s FROM esc_t /*+ OPTIONS('k'='v') */")
    }
    assert(e.getMessage.contains("table.dynamic-table-options.enabled"))
  }

  test("OPTIONS hint with a BARE alias after the hint (no AS)") {
    val dir = freshDir("opthint4")
    writePipeCsv(dir)
    spark.conf.set(OptionsHint.ConfKey, "true")
    try {
      spark.sql(s"""CREATE TABLE hint_ev4 (etype STRING, eid BIGINT, v DOUBLE)
                    WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'csv')""")
      val n = spark.sql(
        """SELECT count(*) AS n
           FROM hint_ev4 /*+ OPTIONS('csv.field-delimiter' = '|') */ e
           WHERE e.eid > 1""").collect().head.getLong(0)
      assert(n == 2L)
      // a clause keyword after the hint is NOT an alias — must not be eaten
      val n2 = spark.sql(
        """SELECT count(*) AS n
           FROM hint_ev4 /*+ OPTIONS('csv.field-delimiter' = '|') */
           WHERE eid > 1""").collect().head.getLong(0)
      assert(n2 == 2L)
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }

  test("CREATE TEMPORARY VIEW and EXPLAIN over an OPTIONS-hinted table bind the hinted read, no helper view") {
    val dir = freshDir("opthint5")
    writePipeCsv(dir)
    spark.conf.set(OptionsHint.ConfKey, "true")
    try {
      spark.sql(s"""CREATE TABLE hint_ev5 (etype STRING, eid BIGINT, v DOUBLE)
                    WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'csv')""")
      spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW hint_v5 AS
           SELECT etype, eid FROM hint_ev5 /*+ OPTIONS('csv.field-delimiter' = '|') */
           WHERE eid > 1""")
      assert(spark.sql("SELECT count(*) FROM hint_v5").head.getLong(0) == 2L)
      val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
      assert(!views.exists(_.startsWith("__opt_hint")), views.mkString(", "))
      val plan = spark.sql(
        """EXPLAIN PLAN FOR SELECT count(*) FROM hint_ev5 /*+ OPTIONS('csv.field-delimiter' = '|') */""")
        .head.getString(0)
      assert(plan.contains("FileScan csv") && !plan.contains("Error"), plan)
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }

  test("OPTIONS hint on the table of a MATCH_RECOGNIZE, CUMULATE or early-fire statement") {
    val dir = freshDir("opthint6")
    val s = spark
    import s.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    Seq((1L, t(1), "signup", 2.0), (1L, t(2), "purchase", 3.0), (1L, t(12), "signup", 5.0),
      (1L, t(13), "purchase", 7.0), (2L, t(4), "signup", 1.0), (2L, t(5), "view", 4.0))
      .toDF("user_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.conf.set(OptionsHint.ConfKey, "true")
    spark.sql(s"""CREATE TABLE hint_ev6 (user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    // each statement with FROM hint_ev6 HINT: plain, hinted, hinted + alias
    def sameRows(stmt: String): Unit = {
      def rows(hint: String) = spark.sql(stmt.replace("HINT", hint)).collect().map(_.toSeq).toSeq
      val plain = rows("")
      assert(plain.nonEmpty, stmt)
      assert(rows("/*+ OPTIONS('k' = 'v') */") == plain, stmt)
      assert(rows("/*+ OPTIONS('k' = 'v') */ AS e") == plain, stmt)
    }
    try {
      sameRows(
        """SELECT user_id, start_ts, end_ts, n_rows FROM hint_ev6 HINT MATCH_RECOGNIZE (
             PARTITION BY user_id ORDER BY ts ONE ROW PER MATCH
             AFTER MATCH SKIP PAST LAST ROW PATTERN (A B)
             DEFINE A AS event_type = 'signup', B AS event_type = 'purchase'
           ) ORDER BY user_id, start_ts""")
      sameRows(
        """SELECT CUMULATE_START(ts, INTERVAL '10' SECOND, INTERVAL '20' SECOND) AS w_start,
                  CUMULATE_END(ts, INTERVAL '10' SECOND, INTERVAL '20' SECOND) AS w_end,
                  user_id, count(*) AS n, sum(value) AS sv
           FROM hint_ev6 HINT
           GROUP BY CUMULATE(ts, INTERVAL '10' SECOND, INTERVAL '20' SECOND), user_id
           ORDER BY w_start, w_end, user_id""")
      spark.conf.set(EmitStrategy.DelayConf, "5 seconds")
      try sameRows(
        """SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS w_start, user_id,
                  count(*) AS n, sum(value) AS sv
           FROM hint_ev6 HINT GROUP BY TUMBLE(ts, INTERVAL '10' SECOND), user_id
           ORDER BY w_start, user_id, fire_time""")
      finally spark.conf.unset(EmitStrategy.DelayConf)
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }

  test("OPTIONS hint on an unregistered QUALIFIED reference is a pointed error, not broken SQL") {
    spark.conf.set(OptionsHint.ConfKey, "true")
    try {
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM somedb.somet /*+ OPTIONS('k' = 'v') */")
      }
      assert(e.getMessage.contains("qualified reference 'somedb.somet'"))
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }

  test("CREATE TABLE LIKE inherits options; derived WITH overwrites under OVERWRITING OPTIONS") {
    val s = spark
    import s.implicits._
    val baseDir = freshDir("likebase")
    val derivedDir = freshDir("likederived")
    spark.sql(s"""CREATE TABLE like_base (k BIGINT, v DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$baseDir',
                        'format' = 'parquet')""")
    spark.sql("INSERT INTO like_base SELECT id AS k, CAST(id * 1.5 AS DOUBLE) AS v FROM range(4)")
    // derived: same format (inherited), new path (overwritten)
    spark.sql(s"""CREATE TABLE like_derived WITH ('path' = '$derivedDir')
                  LIKE like_base (OVERWRITING OPTIONS)""")
    spark.sql("INSERT INTO like_derived SELECT id AS k, CAST(id * 10.0 AS DOUBLE) AS v FROM range(2)")
    val derived = spark.sql("SELECT k, v FROM like_derived ORDER BY k").collect()
    assert(derived.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((0L, 0.0), (1L, 10.0)))
    // base is untouched by the derived insert
    assert(spark.sql("SELECT count(*) FROM like_base").collect().head.getLong(0) == 4L)
  }

  test("CREATE TABLE LIKE: INCLUDING duplicate option errors with the reference's guidance") {
    val baseDir = freshDir("likedup")
    spark.sql(s"""CREATE TABLE like_dup_base (k BIGINT)
                  WITH ('connector' = 'filesystem', 'path' = '$baseDir')""")
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE like_dup WITH ('path' = '/tmp/other')
                    LIKE like_dup_base (INCLUDING OPTIONS)""")
    }
    assert(e.getMessage.contains("EXCLUDING OPTIONS or OVERWRITING OPTIONS"))
    // INCLUDING ALL sets every feature to INCLUDING — same duplicate error
    val e2 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE like_dup WITH ('path' = '/tmp/other')
                    LIKE like_dup_base (INCLUDING ALL)""")
    }
    assert(e2.getMessage.contains("EXCLUDING OPTIONS or OVERWRITING OPTIONS"))
  }

  test("CREATE TABLE LIKE: bare LIKE defaults OPTIONS to OVERWRITING (the derived WITH silently wins)") {
    // MergeTableLikeUtil.java:75 — the DEFAULT strategy for OPTIONS is
    // OVERWRITING, not INCLUDING; a bare LIKE with a duplicate 'path' must
    // NOT raise, and the derived value must win
    val baseDir = freshDir("likedef"); val drvDir = freshDir("likedef2")
    spark.sql(s"""CREATE TABLE like_def_base (k BIGINT)
                  WITH ('connector' = 'filesystem', 'path' = '$baseDir',
                        'format' = 'parquet')""")
    spark.sql(s"CREATE TABLE like_def_drv WITH ('path' = '$drvDir') LIKE like_def_base")
    spark.sql("INSERT INTO like_def_drv SELECT id AS k FROM range(3)")
    assert(spark.sql("SELECT count(*) FROM like_def_drv").collect().head.getLong(0) == 3L)
    // the derived write landed on the derived path, not the base's
    assert(Option(new java.io.File(baseDir).listFiles).forall(_.isEmpty))
  }

  test("CREATE TABLE LIKE: like-option validation mirrors SqlTableLike.validate()") {
    val baseDir = freshDir("likeval")
    spark.sql(s"""CREATE TABLE like_val_base (k BIGINT)
                  WITH ('connector' = 'filesystem', 'path' = '$baseDir')""")
    // OVERWRITING is illegal for ALL / PARTITIONS / CONSTRAINTS
    val e1 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE lv1 WITH ('path' = '/tmp/x')
                    LIKE like_val_base (OVERWRITING PARTITIONS)""")
    }
    assert(e1.getMessage.contains("Illegal merging strategy 'OVERWRITING' for 'PARTITIONS' option."))
    // each feature at most once
    val e2 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE lv2 WITH ('path' = '/tmp/x')
                    LIKE like_val_base (INCLUDING OPTIONS, EXCLUDING OPTIONS)""")
    }
    assert(e2.getMessage.contains("declared only once"))
  }

  test("CREATE TABLE LIKE: partition merging is the reference's 1.12 shape") {
    val b = freshDir("likepm") + "/b"
    spark.sql(s"""CREATE TABLE pm_base (k BIGINT, grp STRING) PARTITIONED BY (grp)
                  WITH ('connector' = 'filesystem', 'path' = '$b', 'format' = 'parquet')""")
    // both sides partitioned without EXCLUDING → the reference's error
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE pm_err (extra STRING) PARTITIONED BY (extra)
                    WITH ('path' = '/tmp/x') LIKE pm_base""")
    }
    assert(e.getMessage.contains("You might want to specify EXCLUDING PARTITIONS"))
    // EXCLUDING PARTITIONS legalizes the derived override
    val d1 = freshDir("likepm2") + "/d1"
    spark.sql(s"""CREATE TABLE pm_over (extra STRING) PARTITIONED BY (extra)
                  WITH ('path' = '$d1') LIKE pm_base (EXCLUDING PARTITIONS)""")
    spark.sql("INSERT INTO pm_over SELECT id AS k, CAST(id % 2 AS STRING) AS grp, 'x' AS extra FROM range(4)")
    val sub1 = new java.io.File(d1).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(sub1.toSeq == Seq("extra=x")) // derived partitioning won
    // the 1.12 quirk, pinned: EXCLUDING PARTITIONS with NO derived
    // PARTITIONED BY still inherits the base's partitions
    // (mergePartitions falls through to sourcePartitions)
    val d2 = freshDir("likepm3") + "/d2"
    spark.sql(s"""CREATE TABLE pm_quirk WITH ('path' = '$d2')
                  LIKE pm_base (EXCLUDING PARTITIONS)""")
    spark.sql("INSERT INTO pm_quirk SELECT id AS k, CAST(id % 2 AS STRING) AS grp FROM range(4)")
    val sub2 = new java.io.File(d2).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(sub2.toSeq == Seq("grp=0", "grp=1"))
  }

  test("CREATE TABLE LIKE: derived physical column colliding with the base errors; new columns append") {
    val b = freshDir("likecols")
    spark.sql(s"""CREATE TABLE lc_base (k BIGINT, v DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$b', 'format' = 'csv')""")
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE lc_dup (k BIGINT) WITH ('path' = '/tmp/x') LIKE lc_base""")
    }
    assert(e.getMessage.contains("A column named 'k' already exists in the base table."))
    val d = freshDir("likecols2")
    spark.sql(s"""CREATE TABLE lc_app (tag STRING) WITH ('path' = '$d') LIKE lc_base""")
    spark.sql("INSERT INTO lc_app SELECT id AS k, CAST(id AS DOUBLE) AS v, 'a' AS tag FROM range(2)")
    // csv reads through the DECLARED (merged) schema: (k, v) + appended tag
    val df = spark.sql("SELECT * FROM lc_app")
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "tag"))
    assert(df.count() == 2)
  }

  test("CREATE TABLE LIKE: INCLUDING WATERMARKS inherits the base's event-time declaration") {
    val s = spark
    import s.implicits._
    val b = freshDir("likewm"); val d = freshDir("likewm2")
    Seq((1L, "2026-01-01 00:10:00"), (2L, "2026-01-01 01:20:00"))
      .toDF("k", "raw_ts").coalesce(1).write.mode("overwrite").parquet(b)
    spark.sql(s"""CREATE TABLE wm_src (
                    ts AS CAST(raw_ts AS TIMESTAMP),
                    WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
                  ) WITH ('connector' = 'filesystem', 'path' = '$b',
                          'format' = 'parquet')""")
    // bare LIKE: WATERMARKS defaults to INCLUDING → inherited, along with
    // the generated column the rowtime attribute rides on
    spark.sql(s"CREATE TABLE wm_drv WITH ('path' = '$d') LIKE wm_src")
    assert(SystemTimeJoin.watermarkOf("wm_drv").contains(("ts", "5 seconds")))
    // EXCLUDING WATERMARKS → not inherited
    spark.sql(s"CREATE TABLE wm_ex WITH ('path' = '$d') LIKE wm_src (EXCLUDING WATERMARKS)")
    assert(SystemTimeJoin.watermarkOf("wm_ex").isEmpty)
    // derived spec on the same column needs OVERWRITING
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE wm_dup (WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)
                    WITH ('path' = '$d') LIKE wm_src""")
    }
    assert(e.getMessage.contains("EXCLUDING WATERMARKS or OVERWRITING WATERMARKS"))
    spark.sql(s"""CREATE TABLE wm_ov (WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)
                  WITH ('path' = '$d') LIKE wm_src (OVERWRITING WATERMARKS)""")
    assert(SystemTimeJoin.watermarkOf("wm_ov").contains(("ts", "1 seconds")))
    // the inherited table stream-reads with the watermark attached: insert
    // then drive a real streaming count through the inherited attribute
    spark.sql("INSERT INTO wm_drv SELECT k, raw_ts FROM wm_src")
    val stream = ConnectorTables.readStream(spark, "wm_drv")
    assert(stream.isStreaming)
    val q = stream.groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"))
      .count()
      .writeStream.format("memory").queryName("wm_drv_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val n = spark.table("wm_drv_out").collect().map(_.getLong(1)).sum
      assert(n == 2L)
    } finally q.stop()
  }

  test("CREATE TABLE LIKE (EXCLUDING OPTIONS) starts from the derived WITH only") {
    val baseDir = freshDir("likeexcl")
    val exclDir = freshDir("likeexcl2")
    spark.sql(s"""CREATE TABLE like_excl_base (k BIGINT, v DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$baseDir',
                        'format' = 'parquet')""")
    // EXCLUDING: nothing inherited — format falls back to the default
    // (parquet) and path must be supplied
    spark.sql(s"""CREATE TABLE like_excl WITH ('path' = '$exclDir')
                  LIKE like_excl_base (EXCLUDING OPTIONS)""")
    spark.sql("INSERT INTO like_excl SELECT id AS k, CAST(1.0 AS DOUBLE) AS v FROM range(3)")
    assert(spark.sql("SELECT count(*) FROM like_excl").collect().head.getLong(0) == 3L)
  }

  test("CREATE TABLE LIKE inherits the base's partition columns") {
    val b = freshDir("likepart") + "/b"; val d = freshDir("likepart2") + "/d"
    spark.sql(s"""CREATE TABLE lp_base (k BIGINT, grp STRING) PARTITIONED BY (grp)
                  WITH ('connector' = 'filesystem', 'path' = '$b', 'format' = 'parquet')""")
    spark.sql(s"CREATE TABLE lp_drv WITH ('path' = '$d') LIKE lp_base (OVERWRITING OPTIONS)")
    spark.sql("INSERT INTO lp_drv SELECT id AS k, CAST(id % 2 AS STRING) AS grp FROM range(4)")
    val subdirs = new java.io.File(d).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(subdirs.toSeq == Seq("grp=0", "grp=1")) // partitioned layout inherited
  }

  test("connector csv table reads with the DECLARED schema, not inference") {
    val dir = freshDir("csvschema")
    writePipeCsv(dir)
    spark.sql(s"""CREATE TABLE csv_decl (etype STRING, eid BIGINT, v DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$dir',
                        'format' = 'csv', 'csv.field-delimiter' = '|')""")
    val df = spark.sql("SELECT * FROM csv_decl")
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("etype", "string"), ("eid", "long"), ("v", "double")))
    assert(df.count() == 3)
  }

  test("PARTITIONED BY connector table: col=value layout, declared order/types restored, scan prunes") {
    val dir = freshDir("partsink") + "/t"
    spark.sql(s"""CREATE TABLE part_t (k BIGINT, grp STRING) PARTITIONED BY (grp)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    spark.sql("INSERT INTO part_t SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp FROM range(10)")
    // directory layout is the reference's col=value partitioning
    val subdirs = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(subdirs.toSeq == Seq("grp=even", "grp=odd"))
    val df = spark.sql("SELECT k, grp FROM part_t WHERE grp = 'even'")
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("k", "long"), ("grp", "string")))
    assert(df.count() == 5)
    // the partition filter prunes at the scan, not post-read
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("grp"),
      s"partition filter not pushed:\n$plan")
  }

  test("INSERT OVERWRITE on a partitioned table replaces only the written partitions") {
    val dir = freshDir("partovw") + "/t"
    spark.sql(s"""CREATE TABLE part_o (k BIGINT, grp STRING) PARTITIONED BY (grp)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    spark.sql("INSERT INTO part_o SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS grp FROM range(6)")
    // dynamic overwrite: only partition 'a' is replaced (FileSystemCommitter semantics)
    spark.sql("INSERT OVERWRITE part_o SELECT id + 100 AS k, 'a' AS grp FROM range(2)")
    val rows = spark.sql("SELECT grp, count(*) AS n, min(k) AS mn FROM part_o GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("a", 2L, 100L), ("b", 3L, 1L)))
  }

  test("static PARTITION clause pins the partition value as a constant column") {
    val dir = freshDir("partstatic") + "/t"
    spark.sql(s"""CREATE TABLE part_s (k BIGINT, grp STRING) PARTITIONED BY (grp)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    spark.sql("INSERT INTO part_s PARTITION (grp = 'fixed') SELECT id AS k FROM range(3)")
    val rows = spark.sql("SELECT k, grp FROM part_s ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((0L, "fixed"), (1L, "fixed"), (2L, "fixed")))
  }

  test("static PARTITION accepts UNQUOTED literals, cast to the declared type") {
    val dir = freshDir("partstatic2") + "/t"
    spark.sql(s"""CREATE TABLE part_u (k BIGINT, p BIGINT) PARTITIONED BY (p)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    spark.sql("INSERT INTO part_u PARTITION (p = 5) SELECT id AS k FROM range(2)")
    val rows = spark.sql("SELECT k, p FROM part_u ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((0L, 5L), (1L, 5L)))
    // the col=value directory layout carries the typed value
    val sub = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName)
    assert(sub.toSeq == Seq("p=5"))
    // a spec the grammar can't parse is a pointed error, not a silent drop
    val e = intercept[Exception] {
      spark.sql("INSERT INTO part_u PARTITION (p = 1 stray) SELECT id AS k FROM range(2)")
    }
    assert(e.getMessage.contains("unsupported static PARTITION spec"))
  }

  test("SHOW PARTITIONS on a connector table: reference column name, k=v names, partial-spec filter") {
    val dir = freshDir("showparts") + "/t"
    spark.sql(s"""CREATE TABLE sp_t (k BIGINT, grp STRING, sub BIGINT)
                  PARTITIONED BY (grp, sub)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    spark.sql("""INSERT INTO sp_t
                 SELECT id AS k, CAST(id % 2 AS STRING) AS grp, id % 3 AS sub
                 FROM range(6)""")
    val all = spark.sql("SHOW PARTITIONS sp_t")
    assert(all.schema.fieldNames.toSeq == Seq("partition name"))
    assert(all.collect().map(_.getString(0)).toSeq ==
      Seq("grp=0/sub=0", "grp=0/sub=1", "grp=0/sub=2",
          "grp=1/sub=0", "grp=1/sub=1", "grp=1/sub=2"))
    // partial spec filters (quoted and unquoted literals both accepted)
    val filtered = spark.sql("SHOW PARTITIONS sp_t PARTITION (grp = '1')")
      .collect().map(_.getString(0)).toSeq
    assert(filtered == Seq("grp=1/sub=0", "grp=1/sub=1", "grp=1/sub=2"))
    // non-partitioned connector table → the reference's validation error
    val d2 = freshDir("showparts2")
    spark.sql(s"""CREATE TABLE sp_flat (k BIGINT)
                  WITH ('connector' = 'filesystem', 'path' = '$d2', 'format' = 'parquet')""")
    val e = intercept[Exception] { spark.sql("SHOW PARTITIONS sp_flat") }
    assert(e.getMessage.contains("is not partitioned"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT: reference validation and registry effect") {
    val dir = freshDir("altercons")
    spark.sql(s"""CREATE TABLE ac_t (k BIGINT NOT NULL, v DOUBLE NOT NULL,
                    n STRING, c AS k + 1)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    // ENFORCED is the reference's validation error (exact text preserved)
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE ac_t ADD CONSTRAINT pk0 PRIMARY KEY (k)")
    }
    assert(e1.getMessage.contains("the only supported mode is the NOT ENFORCED mode"))
    // UNIQUE is unsupported (validateTableConstraint:799-801)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE ac_t ADD CONSTRAINT u0 UNIQUE (k) NOT ENFORCED")
    }
    assert(e2.getMessage.contains("UNIQUE constraint is not supported yet"))
    // unknown column is a sanity error
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE ac_t ADD CONSTRAINT pk0 PRIMARY KEY (nope) NOT ENFORCED")
    }
    assert(e3.getMessage.contains("Column does not exist"))
    // TableSchema.validatePrimaryKey ladder (TableSchema.java:455-478):
    // a computed column is not physical; a nullable column is rejected
    val e3b = intercept[Exception] {
      spark.sql("ALTER TABLE ac_t ADD CONSTRAINT pkc PRIMARY KEY (c) NOT ENFORCED")
    }
    assert(e3b.getMessage ==
      "Could not create a PRIMARY KEY 'pkc'. Column 'c' is not a physical column.")
    val e3c = intercept[Exception] {
      spark.sql("ALTER TABLE ac_t ADD CONSTRAINT pkn PRIMARY KEY (n) NOT ENFORCED")
    }
    assert(e3c.getMessage ==
      "Could not create a PRIMARY KEY 'pkn'. Column 'n' is nullable.")
    spark.sql("ALTER TABLE ac_t ADD CONSTRAINT pk0 PRIMARY KEY (k) NOT ENFORCED")
    // second PK → TableSchema.Builder's duplicate error
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE ac_t ADD PRIMARY KEY (v) NOT ENFORCED")
    }
    assert(e4.getMessage.contains("Can not create multiple PRIMARY keys."))
    // DROP by wrong name → "CONSTRAINT [x] does not exist"; right name works
    val e5 = intercept[Exception] { spark.sql("ALTER TABLE ac_t DROP CONSTRAINT nope") }
    assert(e5.getMessage.contains("CONSTRAINT [nope] does not exist"))
    spark.sql("ALTER TABLE ac_t DROP CONSTRAINT pk0")
    // dropped → a fresh ADD succeeds again
    spark.sql("ALTER TABLE ac_t ADD PRIMARY KEY (k) NOT ENFORCED")
    // the added PK participates in LIKE's CONSTRAINTS merge
    val e6 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE ac_dup (extra STRING NOT NULL, PRIMARY KEY (extra))
                    WITH ('path' = '/tmp/x') LIKE ac_t""")
    }
    assert(e6.getMessage.contains("The base table already has a primary key."))
  }

  test("CREATE TABLE LIKE: CONSTRAINTS (primary key) merging") {
    val b = freshDir("likepk")
    spark.sql(s"""CREATE TABLE pk_base (k BIGINT NOT NULL, v DOUBLE, PRIMARY KEY (k))
                  WITH ('connector' = 'filesystem', 'path' = '$b', 'format' = 'parquet')""")
    // PK at CREATE validates the TableSchema ladder too: nullable column →
    // the reference's error (TableSchema.java:471-476)
    val e0 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE pk_nullable (k BIGINT, PRIMARY KEY (k))
                    WITH ('connector' = 'filesystem', 'path' = '/tmp/xn',
                          'format' = 'parquet')""")
    }
    assert(e0.getMessage == "Could not create a PRIMARY KEY 'PK_k'. Column 'k' is nullable.")
    // INCLUDING (the default) + derived PK → the reference's error
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE pk_dup (extra STRING NOT NULL, PRIMARY KEY (extra))
                    WITH ('path' = '/tmp/x') LIKE pk_base""")
    }
    assert(e.getMessage.contains("The base table already has a primary key."))
    // EXCLUDING CONSTRAINTS drops the base PK; the derived one stands
    spark.sql(s"""CREATE TABLE pk_own (extra STRING NOT NULL, PRIMARY KEY (extra))
                  WITH ('path' = '/tmp/x1') LIKE pk_base (EXCLUDING CONSTRAINTS)""")
    // OVERWRITING CONSTRAINTS is illegal at the parser (SqlTableLike:191)
    val e2 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE pk_ov WITH ('path' = '/tmp/x2')
                    LIKE pk_base (OVERWRITING CONSTRAINTS)""")
    }
    assert(e2.getMessage.contains("Illegal merging strategy 'OVERWRITING' for 'CONSTRAINTS' option."))
  }

  test("METADATA columns in connector DDL: debezium only, key validation, LIKE inheritance") {
    val s = spark
    import s.implicits._
    val dir = freshDir("dbzmeta")
    Seq("""{"before":null,"after":{"id":1,"name":"a"},"op":"c","ts_ms":1000,"source":{"db":"inv","table":"t1"}}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    spark.sql(s"""CREATE TABLE meta_t (
                    id BIGINT, name STRING,
                    origin STRING METADATA FROM 'source.table' VIRTUAL,
                    ingest TIMESTAMP METADATA FROM 'ingestion-timestamp'
                  ) WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'debezium-json')""")
    val r = spark.sql("SELECT kind, id, name, origin, unix_millis(ingest) AS ms FROM meta_t")
      .collect().head
    assert((r.getString(0), r.getLong(1), r.getString(3), r.getLong(4)) ==
      ("+I", 1L, "t1", 1000L))
    // metadata on a format that lists none (1.12: everything but debezium)
    val e1 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE meta_bad (k BIGINT, o STRING METADATA FROM 'source.table')
                    WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    }
    assert(e1.getMessage.contains("does not support reading metadata"))
    // unknown key validates at DDL time with the reference's error shape
    val e2 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE meta_bad2 (k BIGINT, o STRING METADATA FROM 'bogus')
                    WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'debezium-json')""")
    }
    assert(e2.getMessage.contains("Invalid metadata key 'bogus' in column 'o'"))
    // LIKE: metadata columns inherit by default; EXCLUDING METADATA drops;
    // a same-name derived metadata column needs OVERWRITING
    spark.sql(s"CREATE TABLE meta_like WITH ('path' = '$dir') LIKE meta_t")
    assert(spark.sql("SELECT origin FROM meta_like").collect().head.getString(0) == "t1")
    val e3 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE meta_dup (origin STRING METADATA FROM 'source.database')
                    WITH ('path' = '$dir') LIKE meta_t""")
    }
    assert(e3.getMessage.contains("EXCLUDING METADATA or OVERWRITING METADATA"))
    spark.sql(s"""CREATE TABLE meta_ov (origin STRING METADATA FROM 'source.database')
                  WITH ('path' = '$dir') LIKE meta_t (OVERWRITING METADATA)""")
    assert(spark.sql("SELECT origin FROM meta_ov").collect().head.getString(0) == "inv")
  }

  test("CREATE TABLE LIKE chains: a derived table can be the base of another LIKE; qualified bases resolve") {
    val s = spark
    import s.implicits._
    val b = freshDir("likechain"); val d1 = freshDir("likechain1"); val d2 = freshDir("likechain2")
    Seq((1L, "2026-01-01 00:10:00")).toDF("k", "raw_ts")
      .coalesce(1).write.mode("overwrite").parquet(b)
    spark.sql(s"""CREATE TABLE chain_base (
                    ts AS CAST(raw_ts AS TIMESTAMP),
                    WATERMARK FOR ts AS ts - INTERVAL '7' SECOND
                  ) WITH ('connector' = 'filesystem', 'path' = '$b',
                          'format' = 'parquet')""")
    spark.sql(s"CREATE TABLE chain_d1 WITH ('path' = '$d1') LIKE chain_base")
    // d1 (itself LIKE-derived) is a valid base: watermark + generated
    // column survive TWO hops through the registry
    spark.sql(s"CREATE TABLE chain_d2 WITH ('path' = '$d2') LIKE chain_d1")
    assert(SystemTimeJoin.watermarkOf("chain_d2").contains(("ts", "7 seconds")))
    spark.sql("INSERT INTO chain_d2 SELECT k, raw_ts FROM chain_base")
    val r = spark.sql("SELECT k, ts FROM chain_d2").collect().head
    assert(r.getLong(0) == 1L && r.get(1) != null) // computed col inherited twice
    // a QUALIFIED base name resolves through the same registry
    spark.sql("CREATE DATABASE IF NOT EXISTS likedb")
    val qb = freshDir("likechainq")
    spark.sql(s"""CREATE TABLE likedb.qbase (k BIGINT)
                  WITH ('connector' = 'filesystem', 'path' = '$qb', 'format' = 'parquet')""")
    val dq = freshDir("likechainq2")
    spark.sql(s"CREATE TABLE q_drv WITH ('path' = '$dq') LIKE likedb.qbase")
    spark.sql("INSERT INTO q_drv SELECT id AS k FROM range(2)")
    assert(spark.sql("SELECT count(*) FROM q_drv").collect().head.getLong(0) == 2L)
  }

  test("a LIKE-derived watermarked table serves as the versioned side of FOR SYSTEM_TIME") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val b = freshDir("likesyst"); val d = freshDir("likesyst2")
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0))
      .toDF("rk", "rts", "rate").coalesce(1).write.mode("overwrite").parquet(b)
    spark.sql(s"""CREATE TABLE syst_base (
                    rk BIGINT, rts TIMESTAMP, rate DOUBLE,
                    WATERMARK FOR rts AS rts - INTERVAL '5' SECOND
                  ) WITH ('connector' = 'filesystem', 'path' = '$b',
                          'format' = 'parquet')""")
    spark.sql(s"CREATE TABLE syst_drv WITH ('path' = '$d') LIKE syst_base")
    spark.sql("INSERT INTO syst_drv SELECT rk, rts, rate FROM syst_base")
    Seq((1L, new Timestamp(10000L), 100L), (1L, new Timestamp(25000L), 101L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("syst_orders")
    // the temporal-join front-end resolves the DERIVED table's time
    // attribute from the LIKE-inherited watermark registry entry
    val rows = spark.sql(
      """SELECT oid, rate FROM syst_orders
         JOIN syst_drv FOR SYSTEM_TIME AS OF ots ON ok = rk
         ORDER BY oid""").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((100L, 1.0), (101L, 2.0)))
  }

  test("plan shape: filters push into the parquet scan through a QUALIFIED connector table") {
    val dir = freshDir("dbqplan")
    spark.sql("CREATE DATABASE IF NOT EXISTS plandb")
    spark.sql(s"""CREATE TABLE plandb.pt (k BIGINT, v DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    spark.sql("INSERT INTO plandb.pt SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(10)")
    val q = spark.sql("SELECT k FROM plandb.pt WHERE k > 5")
    val plan = q.queryExecution.executedPlan.toString
    // the qualified-reference pre-pass lands on a plain view over the
    // parquet scan — predicate pushdown and column pruning must survive
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(k,5"),
      s"filter not pushed through the qualified view:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint>"),
      s"projection not pruned to k:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(6L, 7L, 8L, 9L))
  }

  test("database DDL: CREATE/ALTER DATABASE WITH props; SHOW DATABASES has the reference's column name") {
    spark.sql("CREATE DATABASE IF NOT EXISTS ddl_db1 COMMENT 'first' WITH ('team' = 'graft')")
    val dbs = spark.sql("SHOW DATABASES")
    // TableEnvironmentImpl.java:1016 — buildShowResult("database name", ...)
    assert(dbs.schema.fieldNames.toSeq == Seq("database name"))
    assert(dbs.collect().map(_.getString(0)).contains("ddl_db1"))
    spark.sql("ALTER DATABASE ddl_db1 SET ('team' = 'other')")
    val desc = spark.sql("DESCRIBE DATABASE EXTENDED ddl_db1").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("Properties").exists(_.contains("other")))
    // USE / DROP DATABASE are native statements that pass through unchanged
    spark.sql("USE ddl_db1")
    assert(spark.sql("SHOW CURRENT DATABASE").collect().head.getString(0) == "ddl_db1")
    spark.sql("USE default")
    spark.sql("DROP DATABASE ddl_db1")
    assert(!spark.sql("SHOW DATABASES").collect().map(_.getString(0)).contains("ddl_db1"))
  }

  test("connector table registered under a QUALIFIED name reads back qualified") {
    val dir = freshDir("dbqual")
    spark.sql("CREATE DATABASE IF NOT EXISTS qdb")
    spark.sql(s"""CREATE TABLE qdb.qt (k BIGINT, v DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""")
    spark.sql("INSERT INTO qdb.qt SELECT id AS k, CAST(id * 2.0 AS DOUBLE) AS v FROM range(3)")
    // qualified table refs AND fully-qualified column refs both resolve
    val rows = spark.sql(
      "SELECT qdb.qt.k, v FROM qdb.qt WHERE qdb.qt.k > 0 ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 2.0), (2L, 4.0)))
    // a string literal containing the qualified name is untouched
    val lit = spark.sql("SELECT 'qdb.qt' AS s FROM qdb.qt LIMIT 1").collect().head.getString(0)
    assert(lit == "qdb.qt")
    spark.sql("DROP TABLE qdb.qt")
    intercept[Exception] { spark.sql("SELECT * FROM qdb.qt").collect() }
  }

  test("ALTER TABLE SET retargets the connector registration; RENAME TO moves it; DROP TABLE unregisters") {
    val p1 = freshDir("alterp1"); val p2 = freshDir("alterp2")
    spark.sql(s"""CREATE TABLE alt_t (k BIGINT) WITH
                  ('connector' = 'filesystem', 'path' = '$p1', 'format' = 'parquet')""")
    spark.sql("INSERT INTO alt_t SELECT id AS k FROM range(3)")
    spark.sql(s"ALTER TABLE alt_t SET ('path' = '$p2')")
    spark.sql("INSERT INTO alt_t SELECT id + 100 AS k FROM range(2)")
    // reads now come from p2 only — the SET retargeted both halves
    val afterSet = spark.sql("SELECT k FROM alt_t ORDER BY k").collect().map(_.getLong(0))
    assert(afterSet.toSeq == Seq(100L, 101L))
    spark.sql("ALTER TABLE alt_t RENAME TO alt_r")
    assert(spark.sql("SELECT count(*) FROM alt_r").collect().head.getLong(0) == 2L)
    intercept[Exception] { spark.sql("SELECT * FROM alt_t").collect() } // old name gone
    spark.sql("DROP TABLE alt_r")
    intercept[Exception] { spark.sql("SELECT * FROM alt_r").collect() }
    // non-connector ALTER/DROP falls through to Spark's own DDL
    spark.sql("CREATE TABLE IF NOT EXISTS native_drop_probe (x INT) USING parquet")
    spark.sql("DROP TABLE native_drop_probe") // must not be intercepted
  }

  test("EXPLAIN PLAN FOR / SHOW CURRENT CATALOG / SHOW CURRENT DATABASE / USE CATALOG") {
    val plan = spark.sql("EXPLAIN PLAN FOR SELECT 1 AS one").collect().head.getString(0)
    assert(plan.contains("Physical Plan") || plan.contains("Project"))
    val cat = spark.sql("SHOW CURRENT CATALOG")
    assert(cat.columns.toSeq == Seq("current catalog name"))
    assert(cat.collect().head.getString(0) == "spark_catalog")
    val db = spark.sql("SHOW CURRENT DATABASE")
    assert(db.columns.toSeq == Seq("current database name"))
    assert(db.collect().head.getString(0) == "default")
    spark.sql("USE CATALOG spark_catalog") // the reference's USE CATALOG spelling
    assert(spark.sql("SHOW CURRENT CATALOG").collect().head.getString(0) == "spark_catalog")
  }

  test("SHOW TABLES / VIEWS / FUNCTIONS carry the reference's column names; DESCRIBE passes through") {
    spark.range(2).createOrReplaceTempView("util_probe_view")
    // buildShowResult headers (TableEnvironmentImpl.java:1020-1024)
    val views = spark.sql("SHOW VIEWS")
    assert(views.schema.fieldNames.toSeq == Seq("view name"))
    assert(views.collect().map(_.getString(0)).contains("util_probe_view"))
    val tables = spark.sql("SHOW TABLES")
    assert(tables.schema.fieldNames.toSeq == Seq("table name"))
    // temp views list under tables too (catalogManager.listTables semantics),
    // sorted like the reference's listTables().sorted()
    val names = tables.collect().map(_.getString(0))
    assert(names.contains("util_probe_view") && names.toSeq == names.toSeq.sorted)
    val fns = spark.sql("SHOW FUNCTIONS")
    assert(fns.schema.fieldNames.toSeq == Seq("function name"))
    assert(fns.count() > 100)
    // qualified/pattern SHOW forms stay native Spark
    assert(spark.sql("SHOW TABLES IN default").columns.length > 1)
    // six-column DESCRIBE now covers every relation — a plain temp view
    // renders its resolved schema with empty key/extras/watermark
    val desc = spark.sql("DESCRIBE util_probe_view").collect()
    assert(desc.exists(r => r.getString(0) == "id" && r.getString(1) == "BIGINT"))
  }

  test("DESCRIBE on a connector table: the reference's six-column result in declaration order") {
    val dir = freshDir("desc6")
    val s = spark
    import s.implicits._
    Seq((1L, "a", 1.5, "2024-01-01 00:00:01"), (2L, "b", 2.5, "2024-01-01 00:00:02"))
      .toDF("id", "tag", "v", "ts").write.mode("overwrite").parquet(dir)
    spark.sql(s"""CREATE TABLE desc_t (
                    id BIGINT NOT NULL,
                    tag STRING,
                    v DOUBLE,
                    ts_attr AS CAST(ts AS TIMESTAMP),
                    PRIMARY KEY (id) NOT ENFORCED,
                    WATERMARK FOR ts_attr AS ts_attr - INTERVAL '5' SECOND
                  ) WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'parquet')""")
    val d = spark.sql("DESCRIBE desc_t")
    // buildDescribeResult headers (TableEnvironmentImpl.java:1124-1126)
    assert(d.schema.fieldNames.toSeq ==
      Seq("name", "type", "null", "key", "extras", "watermark"))
    val rows = d.collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
      r.getString(3), r.getString(4), r.getString(5))).toSeq
    assert(rows == Seq(
      ("id", "BIGINT", false, "PRI(id)", null, null),
      ("tag", "STRING", true, null, null, null),
      ("v", "DOUBLE", true, null, null, null),
      ("ts_attr", "TIMESTAMP(6)", true, null, "AS CAST(ts AS TIMESTAMP)",
        "`ts_attr` - INTERVAL '5' SECOND")))
    // DESC alias; DESCRIBE EXTENDED yields the same result (1.12's
    // buildDescribeResult ignores the flag); multi-column PK renders
    // every member as PRI(a, b)
    assert(spark.sql("DESC desc_t").collect().length == 4)
    assert(spark.sql("DESCRIBE EXTENDED desc_t").schema.fieldNames.toSeq ==
      Seq("name", "type", "null", "key", "extras", "watermark"))
    val dir2 = freshDir("desc6b")
    spark.sql(s"""CREATE TABLE desc_t2 (a BIGINT NOT NULL, b STRING NOT NULL, c DOUBLE,
                    CONSTRAINT pk_ab PRIMARY KEY (a, b))
                  WITH ('connector' = 'filesystem', 'path' = '$dir2',
                        'format' = 'parquet')""")
    val rows2 = spark.sql("DESCRIBE desc_t2").collect()
      .map(r => (r.getString(0), r.getString(3))).toSeq
    assert(rows2 == Seq(("a", "PRI(a, b)"), ("b", "PRI(a, b)"), ("c", null)))
    // a QUALIFIED connector table keeps its six-column DESCRIBE (the
    // qualified-ref pre-pass must not rewrite the name away first)
    val dir3 = freshDir("desc6c")
    spark.sql("CREATE DATABASE IF NOT EXISTS desc_db")
    spark.sql(s"""CREATE TABLE desc_db.qt (x BIGINT NOT NULL, y STRING)
                  WITH ('connector' = 'filesystem', 'path' = '$dir3',
                        'format' = 'parquet')""")
    val q = spark.sql("DESCRIBE desc_db.qt")
    assert(q.schema.fieldNames.toSeq ==
      Seq("name", "type", "null", "key", "extras", "watermark"))
    assert(q.collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq ==
      Seq(("x", "BIGINT", false), ("y", "STRING", true)))
  }

  test("DESCRIBE fidelity: derived nullability, ROW field-name case, every relation six-column") {
    val dir = freshDir("descfid")
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (3L, 4L)).toDF("nn", "m").write.mode("overwrite").parquet(dir)
    // a computed column over a NOT NULL physical column with a
    // null-preserving expression derives NOT NULL — the reference renders
    // the DERIVED type's isNullable() (TableEnvironmentImpl.java:1112-1117)
    spark.sql(s"""CREATE TABLE desc_nn (
                    nn BIGINT NOT NULL,
                    m BIGINT,
                    c AS CAST(nn AS BIGINT),
                    cm AS m * 2
                  ) WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'parquet')""")
    val byName = spark.sql("DESCRIBE desc_nn").collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(byName("c") == false, "computed over NOT NULL must derive NOT NULL")
    assert(byName("cm") == true, "computed over nullable stays nullable")
    // declared-type rendering preserves identifier case inside ROW<...>
    // (asSummaryString renders field names verbatim); keywords uppercase
    assert(ConnectorTables.normType("row<name string, Age int>") ==
      "ROW<name STRING, Age INT>")
    assert(ConnectorTables.normType("map<string, row<`Quoted Id` double>>") ==
      "MAP<STRING, ROW<`Quoted Id` DOUBLE>>")
    assert(ConnectorTables.normType("decimal(10,2)") == "DECIMAL(10, 2)")
    assert(ConnectorTables.normType("timestamp(3) with local time zone") ==
      "TIMESTAMP(3) WITH LOCAL TIME ZONE")
    // every relation DESCRIBEs six-column: temp views and native tables
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
      .createOrReplaceTempView("desc_plain_v")
    val v = spark.sql("DESCRIBE desc_plain_v")
    assert(v.schema.fieldNames.toSeq ==
      Seq("name", "type", "null", "key", "extras", "watermark"))
    assert(v.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("id", "BIGINT"), ("s", "STRING")))
    // non-relation DESCRIBE spellings stay native Spark
    assert(spark.sql("DESCRIBE FUNCTION abs").collect().nonEmpty)
  }

  test("ALTER TABLE SET keeps schema metadata: DESCRIBE unchanged after a property change") {
    val dir = freshDir("descset")
    spark.sql(s"""CREATE TABLE desc_set (k BIGINT NOT NULL, v DOUBLE, c AS k * 2,
                    PRIMARY KEY (k) NOT ENFORCED)
                  WITH ('connector' = 'filesystem', 'path' = '$dir',
                        'format' = 'parquet')""")
    def snapshot() = spark.sql("DESCRIBE desc_set").collect()
      .map(r => (r.getString(0), r.getString(3), r.getString(4))).toSeq
    val before = snapshot()
    assert(before == Seq(("k", "PRI(k)", null), ("v", null, null), ("c", null, "AS k * 2")))
    // SET changes OPTIONS only — the reference keeps the TableSchema; the
    // registration must not shed PK / computed / declared columns
    spark.sql("ALTER TABLE desc_set SET ('probe' = 'x')")
    assert(snapshot() == before)
    // and ADD CONSTRAINT surfaces in the key column afterwards
    spark.sql("ALTER TABLE desc_set DROP CONSTRAINT PK_k")
    assert(snapshot().forall(_._2 == null))
    spark.sql("ALTER TABLE desc_set ADD CONSTRAINT pk2 PRIMARY KEY (k) NOT ENFORCED")
    assert(snapshot().head == (("k", "PRI(k)", null)))
  }

  test("DESCRIBE on a debezium table renders METADATA extras with declared types") {
    val dir = freshDir("descmeta")
    spark.sql(s"""CREATE TABLE desc_dbz (
                    id BIGINT,
                    origin_db STRING METADATA FROM 'source.database',
                    ingest_ts TIMESTAMP(3) WITH LOCAL TIME ZONE METADATA FROM 'ingestion-timestamp',
                    tbl STRING METADATA FROM 'source.table' VIRTUAL
                  ) WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'debezium-json')""")
    val rows = spark.sql("DESCRIBE desc_dbz").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(4))).toSeq
    assert(rows == Seq(
      ("id", "BIGINT", null),
      ("origin_db", "STRING", "METADATA FROM 'source.database'"),
      ("ingest_ts", "TIMESTAMP(3) WITH LOCAL TIME ZONE",
        "METADATA FROM 'ingestion-timestamp'"),
      ("tbl", "STRING", "METADATA FROM 'source.table' VIRTUAL")))
  }

  test("METADATA decode is positional: shared names and duplicate keys stay distinct") {
    val dir = freshDir("metapos")
    val s = spark
    import s.implicits._
    // a PHYSICAL column literally named `schema` + top-level schema string
    val msg = """{"schema": "sj", "before": null, """ +
      """"after": {"id": 1, "schema": "phys"}, "op": "c", "ts_ms": 1000, """ +
      """"source": {"db": "d1", "table": "t1"}}"""
    Seq(msg).toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    spark.sql(s"""CREATE TABLE meta_pos (
                    id BIGINT,
                    schema STRING,
                    sch STRING METADATA FROM 'schema',
                    db1 STRING METADATA FROM 'source.database',
                    db2 STRING METADATA FROM 'source.database'
                  ) WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'debezium-json')""")
    val r = spark.sql("SELECT id, schema, sch, db1, db2 FROM meta_pos").collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getString(1) == "phys") // the physical column, NOT the metadata
    assert(r.getString(2) == "sj")   // the top-level schema metadata
    assert(r.getString(3) == "d1" && r.getString(4) == "d1") // same key, twice
  }

  test("catalog DDL: CREATE/DROP CATALOG, SHOW CATALOGS, USE CATALOG switches current") {
    try {
      val e0 = intercept[Exception] { spark.sql("CREATE CATALOG c_bad WITH ('foo' = 'x')") }
      assert(e0.getMessage.contains("'type' property is required"))
      spark.sql("CREATE CATALOG cat_mem WITH ('type' = 'generic_in_memory', " +
        "'default-database' = 'memdb')")
      // CatalogManager.registerCatalog:188
      val dup = intercept[Exception] {
        spark.sql("CREATE CATALOG cat_mem WITH ('type' = 'generic_in_memory')")
      }
      assert(dup.getMessage == "Catalog cat_mem already exists.")
      val cats = spark.sql("SHOW CATALOGS")
      // buildShowResult("catalog name", ...) — TableEnvironmentImpl.java:1012
      assert(cats.schema.fieldNames.toSeq == Seq("catalog name"))
      val names = cats.collect().map(_.getString(0)).toSeq
      assert(names.contains("cat_mem") && names.contains("spark_catalog"))
      assert(names == names.sorted) // listCatalogs().sorted()
      spark.sql("USE CATALOG cat_mem")
      assert(spark.sql("SHOW CURRENT CATALOG").collect().head.getString(0) == "cat_mem")
      // setCurrentCatalog also switches to the catalog's default database
      // (CatalogManager.java:618-627)
      assert(spark.sql("SHOW CURRENT DATABASE").collect().head.getString(0) == "memdb")
      assert(spark.sql("SHOW DATABASES").collect().map(_.getString(0)).toSeq == Seq("memdb"))
      // USE <db> resolves against the CURRENT (registered) catalog — its
      // default database exists, anything else is the reference's error
      // (CatalogManager.setCurrentDatabase:648-667)
      spark.sql("USE memdb") // no-op: already current
      val eud = intercept[Exception] { spark.sql("USE default") }
      assert(eud.getMessage.contains(
        "A database with name [default] does not exist in the catalog: [cat_mem]."))
      spark.sql("USE CATALOG spark_catalog")
      assert(spark.sql("SHOW CURRENT CATALOG").collect().head.getString(0) == "spark_catalog")
      // setCurrentCatalog's unknown-name error text
      val eu = intercept[Exception] { spark.sql("USE CATALOG nope_cat") }
      assert(eu.getMessage.contains("A catalog with name [nope_cat] does not exist."))
      // unregisterCatalog:209
      val ed = intercept[Exception] { spark.sql("DROP CATALOG nope_cat") }
      assert(ed.getMessage == "Catalog nope_cat does not exist.")
      spark.sql("DROP CATALOG IF EXISTS nope_cat") // no-op
      spark.sql("DROP CATALOG cat_mem")
      assert(!spark.sql("SHOW CATALOGS").collect().map(_.getString(0)).contains("cat_mem"))
      // DESCRIBE CATALOG parses in the reference's grammar but the 1.12
      // blink planner never converts it (ParserImpl.java:79)
      val ec = intercept[Exception] { spark.sql("DESCRIBE CATALOG spark_catalog") }
      assert(ec.getMessage.contains("Unsupported query: DESCRIBE CATALOG spark_catalog"))
    } finally spark.sql("USE CATALOG spark_catalog")
  }

  test("per-catalog object scoping: two catalogs isolate same-named tables; USE switches resolution") {
    val s = spark
    val dirA = freshDir("catscopeA")
    val dirB = freshDir("catscopeB")
    // two same-named parquet tables with DIFFERENT schemas
    locally {
      import s.implicits._
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "tag")
        .write.mode("overwrite").parquet(dirA)
      Seq((10L, 1.5), (20L, 2.5), (30L, 3.5)).toDF("id", "score")
        .write.mode("overwrite").parquet(dirB)
    }
    try {
      spark.sql("CREATE CATALOG scope_a WITH ('type' = 'generic_in_memory')")
      spark.sql("CREATE CATALOG scope_b WITH ('type' = 'generic_in_memory')")
      // unqualified CREATE lands in the CURRENT catalog.database
      spark.sql("USE CATALOG scope_a")
      spark.sql(s"CREATE TABLE items (id BIGINT, tag STRING) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dirA', 'format' = 'parquet')")
      spark.sql("USE CATALOG scope_b")
      spark.sql(s"CREATE TABLE items (id BIGINT, score DOUBLE) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dirB', 'format' = 'parquet')")
      // SHOW TABLES lists only the current namespace's objects
      assert(spark.sql("SHOW TABLES").collect().map(_.getString(0)).toSeq == Seq("items"))
      // bare-name resolution follows the current catalog
      assert(spark.sql("SELECT count(*) AS n FROM items").collect().head.getLong(0) == 3L)
      assert(spark.table("items").schema.fieldNames.toSeq == Seq("id", "score"))
      spark.sql("USE CATALOG scope_a")
      assert(spark.sql("SELECT count(*) AS n FROM items").collect().head.getLong(0) == 2L)
      assert(spark.table("items").schema.fieldNames.toSeq == Seq("id", "tag"))
      // DESCRIBE resolves through the namespace too (declared list)
      val d = spark.sql("DESCRIBE items").collect()
      assert(d.map(_.getString(0)).toSeq == Seq("id", "tag"))
      // fully-qualified cross-catalog reads work from any current catalog
      val x = spark.sql(
        """SELECT a.id, a.tag, b.score FROM scope_a.default.items a
           JOIN scope_b.default.items b ON a.id * 10 = b.id ORDER BY a.id""").collect()
      assert(x.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
        Seq((1L, "alpha", 1.5), (2L, "beta", 2.5)))
      // partial `db.t` resolves against the CURRENT catalog
      assert(spark.sql("SELECT count(*) AS n FROM default.items").collect()
        .head.getLong(0) == 2L)
      // CREATE/USE DATABASE inside a DDL catalog; db-qualified create
      spark.sql("CREATE DATABASE staging WITH ('owner' = 'graft')")
      assert(spark.sql("SHOW DATABASES").collect().map(_.getString(0)).toSeq ==
        Seq("default", "staging"))
      val dup = intercept[Exception] { spark.sql("CREATE DATABASE staging") }
      assert(dup.getMessage == "Database staging already exists in Catalog scope_a.")
      spark.sql("CREATE DATABASE IF NOT EXISTS staging") // no-op
      spark.sql("USE staging")
      assert(spark.sql("SHOW CURRENT DATABASE").collect().head.getString(0) == "staging")
      spark.sql(s"CREATE TABLE st_items (id BIGINT, tag STRING) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dirA', 'format' = 'parquet')")
      assert(spark.sql("SHOW TABLES").collect().map(_.getString(0)).toSeq == Seq("st_items"))
      // the default database's items is NOT visible unqualified from staging
      assert(spark.sql("SHOW TABLES").collect().forall(_.getString(0) != "items"))
      assert(spark.sql("SELECT count(*) AS n FROM default.items").collect()
        .head.getLong(0) == 2L)
      // creating into a db that does not exist is the reference's error
      val noDb = intercept[Exception] {
        spark.sql(s"CREATE TABLE nodb.t (id BIGINT) WITH " +
          s"('connector' = 'filesystem', 'path' = '$dirA', 'format' = 'parquet')")
      }
      assert(noDb.getMessage == "Database nodb does not exist in Catalog scope_a.")
      // DROP DATABASE: RESTRICT refuses a non-empty db, CASCADE drops it
      val notEmpty = intercept[Exception] { spark.sql("USE default"); spark.sql("DROP DATABASE staging") }
      assert(notEmpty.getMessage == "Database staging in catalog scope_a is not empty.")
      spark.sql("DROP DATABASE staging CASCADE")
      assert(spark.sql("SHOW DATABASES").collect().map(_.getString(0)).toSeq == Seq("default"))
      val gone = intercept[Exception] { spark.sql("DROP DATABASE staging") }
      assert(gone.getMessage == "Database staging does not exist in Catalog scope_a.")
      // ALTER DATABASE on the in-memory catalog's db set
      spark.sql("ALTER DATABASE default SET ('k' = 'v')")
      // DROP CATALOG of the CURRENT catalog resets to the native catalog
      // (divergence from the reference's dangling-name NPE, documented)
      spark.sql("DROP CATALOG scope_a")
      assert(spark.sql("SHOW CURRENT CATALOG").collect().head.getString(0) == "spark_catalog")
      spark.sql("USE default") // native USE works again after the reset
      // the other catalog's table is STILL readable fully-qualified
      assert(spark.sql("SELECT count(*) AS n FROM scope_b.default.items").collect()
        .head.getLong(0) == 3L)
    } finally {
      spark.sql("DROP CATALOG IF EXISTS scope_a")
      spark.sql("DROP CATALOG IF EXISTS scope_b")
      spark.sql("USE CATALOG spark_catalog")
    }
  }

  test("DROP CATALOG destroys the catalog's objects: a re-created same-name catalog starts empty") {
    val s = spark
    import s.implicits._
    val dir = freshDir("catdrop")
    Seq((1L, "x")).toDF("id", "tag").write.mode("overwrite").parquet(dir)
    try {
      spark.sql("CREATE CATALOG drop_cat WITH ('type' = 'generic_in_memory')")
      spark.sql("USE CATALOG drop_cat")
      spark.sql(s"CREATE TABLE dt (id BIGINT, tag STRING) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')")
      assert(spark.sql("SHOW TABLES").collect().map(_.getString(0)).toSeq == Seq("dt"))
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG drop_cat")
      // the in-memory catalog's objects died with it — the same name
      // re-created is EMPTY and the old qualified reference is gone
      spark.sql("CREATE CATALOG drop_cat WITH ('type' = 'generic_in_memory')")
      spark.sql("USE CATALOG drop_cat")
      assert(spark.sql("SHOW TABLES").collect().isEmpty,
        "stale tables resurrected in a re-created catalog")
      // the old qualified reference no longer resolves through the
      // registry — it reaches Spark's native parser and fails there
      intercept[Exception] { spark.sql("SELECT * FROM drop_cat.default.dt") }
      // dropping the CURRENT database leaves the current name dangling
      // (the reference's currentDatabaseName is not cleared); SHOW CURRENT
      // DATABASE still reports it, and an unqualified CREATE then fails
      // with the DatabaseNotExist error rather than crashing
      spark.sql("CREATE DATABASE tmpdb")
      spark.sql("USE tmpdb")
      spark.sql("DROP DATABASE tmpdb")
      assert(spark.sql("SHOW CURRENT DATABASE").collect().head.getString(0) == "tmpdb")
      val eGone = intercept[Exception] {
        spark.sql(s"CREATE TABLE ghost (id BIGINT) WITH " +
          s"('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')")
      }
      assert(eGone.getMessage.contains("Database tmpdb does not exist"))
    } finally {
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG IF EXISTS drop_cat")
    }
  }

  test("catalog/database names keep their SPELLED case in SHOW results; resolution stays case-insensitive") {
    try {
      spark.sql("CREATE CATALOG MixedCase WITH ('type' = 'generic_in_memory', " +
        "'default-database' = 'MyDb')")
      spark.sql("USE CATALOG mixedcase") // resolution is case-insensitive
      assert(spark.sql("SHOW CURRENT CATALOG").collect().head.getString(0) == "MixedCase")
      assert(spark.sql("SHOW CURRENT DATABASE").collect().head.getString(0) == "MyDb")
      spark.sql("CREATE DATABASE StagingX")
      assert(spark.sql("SHOW DATABASES").collect().map(_.getString(0)).toSeq ==
        Seq("MyDb", "StagingX"))
      assert(spark.sql("SHOW CATALOGS").collect().map(_.getString(0)).contains("MixedCase"))
      spark.sql("USE stagingx")
      assert(spark.sql("SHOW CURRENT DATABASE").collect().head.getString(0) == "StagingX")
    } finally {
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG IF EXISTS MixedCase")
    }
  }

  test("namespace shadowing: a session-global table shadowed by a namespaced same-name table is restored on exit") {
    val s = spark
    import s.implicits._
    val dirG = freshDir("shadG"); val dirN = freshDir("shadN"); val dirN2 = freshDir("shadN2")
    Seq((1L, "global")).toDF("id", "src").write.mode("overwrite").parquet(dirG)
    Seq((1L, "ns_default"), (2L, "ns_default")).toDF("id", "src")
      .write.mode("overwrite").parquet(dirN)
    Seq((1L, "ns_staging"), (2L, "ns_staging"), (3L, "ns_staging")).toDF("id", "src")
      .write.mode("overwrite").parquet(dirN2)
    try {
      // session-global registration first — the bare view reads the global data
      spark.sql(s"CREATE TABLE shad_t (id BIGINT, src STRING) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dirG', 'format' = 'parquet')")
      assert(spark.sql("SELECT count(*) AS n FROM shad_t").collect().head.getLong(0) == 1L)
      spark.sql("CREATE CATALOG shad_cat WITH ('type' = 'generic_in_memory')")
      spark.sql("USE CATALOG shad_cat")
      spark.sql("CREATE DATABASE staging")
      // a namespaced SAME-NAME table shadows the bare name while current
      spark.sql(s"CREATE TABLE shad_t (id BIGINT, src STRING) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dirN', 'format' = 'parquet')")
      assert(spark.sql("SELECT count(*) AS n FROM shad_t").collect().head.getLong(0) == 2L)
      // USE <db> swaps the mounts: staging's own same-name table takes over
      spark.sql("USE staging")
      spark.sql(s"CREATE TABLE shad_t (id BIGINT, src STRING) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dirN2', 'format' = 'parquet')")
      assert(spark.sql("SELECT count(*) AS n FROM shad_t").collect().head.getLong(0) == 3L)
      spark.sql("USE default")
      assert(spark.sql("SELECT count(*) AS n FROM shad_t").collect().head.getLong(0) == 2L)
      // leaving the catalog RESTORES the shadowed session-global view
      spark.sql("USE CATALOG spark_catalog")
      val back = spark.sql("SELECT src FROM shad_t").collect().map(_.getString(0)).toSeq
      assert(back == Seq("global"), s"legacy view not restored, got $back")
      // the namespaced variants remain reachable fully-qualified
      assert(spark.sql("SELECT count(*) AS n FROM shad_cat.staging.shad_t")
        .collect().head.getLong(0) == 3L)
    } finally {
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG IF EXISTS shad_cat")
      spark.sql("DROP TABLE IF EXISTS shad_t")
    }
  }

  test("database DDL with escaped-quote hazards in COMMENT/properties runs (ADVICE r15)") {
    try {
      spark.sql("CREATE CATALOG hz_cat WITH ('type' = 'generic_in_memory')")
      spark.sql("USE CATALOG hz_cat")
      // matches() tests the blanked probe; run() must agree on the same
      // text — an escaped quote inside COMMENT previously fell through to
      // the unsupported-statement catch-all
      spark.sql("CREATE DATABASE hz_db COMMENT 'it''s -- not a comment'")
      val dbs = spark.sql("SHOW DATABASES").collect().map(_.getString(0)).toSet
      assert(dbs.contains("hz_db"), s"hz_db missing from $dbs")
      spark.sql("ALTER DATABASE hz_db SET ('note' = 'a''b')")
      spark.sql("DROP DATABASE hz_db")
    } finally {
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG IF EXISTS hz_cat")
    }
  }

  test("a USER temp view displaced by a namespaced mount is restored on exit (ADVICE r15)") {
    val s = spark
    import s.implicits._
    val dirN = freshDir("uvN")
    Seq((1L, "ns"), (2L, "ns")).toDF("id", "src").write.mode("overwrite").parquet(dirN)
    try {
      // a PLAIN temp view (not a connector table) owns the bare name first
      Seq((7L, "user_view")).toDF("id", "src").createOrReplaceTempView("uv_t")
      assert(spark.sql("SELECT src FROM uv_t").collect().head.getString(0) == "user_view")
      spark.sql("CREATE CATALOG uv_cat WITH ('type' = 'generic_in_memory')")
      spark.sql("USE CATALOG uv_cat")
      // the namespaced same-name table mounts over the user's view
      spark.sql(s"CREATE TABLE uv_t (id BIGINT, src STRING) WITH " +
        s"('connector' = 'filesystem', 'path' = '$dirN', 'format' = 'parquet')")
      assert(spark.sql("SELECT count(*) AS n FROM uv_t").collect().head.getLong(0) == 2L)
      // leaving the namespace RESTORES the user's temp view verbatim —
      // previously the mount destroyed it permanently
      spark.sql("USE CATALOG spark_catalog")
      val back = spark.sql("SELECT src FROM uv_t").collect().map(_.getString(0)).toSeq
      assert(back == Seq("user_view"), s"user temp view not restored, got $back")
      // DROP CATALOG with the namespace current must also restore it
      spark.sql("USE CATALOG uv_cat")
      assert(spark.sql("SELECT count(*) AS n FROM uv_t").collect().head.getLong(0) == 2L)
      spark.sql("DROP CATALOG uv_cat")
      val back2 = spark.sql("SELECT src FROM uv_t").collect().map(_.getString(0)).toSeq
      assert(back2 == Seq("user_view"), s"user temp view not restored after DROP CATALOG, got $back2")
    } finally {
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG IF EXISTS uv_cat")
      spark.catalog.dropTempView("uv_t")
    }
  }

  test("cross-catalog composition: LIKE a namespaced base, qualified INSERT/DESCRIBE from outside") {
    val s = spark
    import s.implicits._
    val dirBase = freshDir("xcatBase")
    val dirDrv = freshDir("xcatDrv")
    Seq((1L, "a", new java.sql.Timestamp(5000L)), (2L, "b", new java.sql.Timestamp(15000L)))
      .toDF("id", "tag", "rts").write.mode("overwrite").parquet(dirBase)
    try {
      spark.sql("CREATE CATALOG xcat WITH ('type' = 'generic_in_memory')")
      spark.sql("USE CATALOG xcat")
      spark.sql(s"""CREATE TABLE xbase (
                      id BIGINT NOT NULL, tag STRING, rts TIMESTAMP,
                      PRIMARY KEY (id) NOT ENFORCED,
                      WATERMARK FOR rts AS rts - INTERVAL '5' SECOND
                    ) WITH ('connector' = 'filesystem', 'path' = '$dirBase',
                            'format' = 'parquet')""")
      spark.sql("USE CATALOG spark_catalog")
      // LIKE with a fully-qualified cross-catalog base resolves through the
      // namespace registry (CatalogManager.resolveCompoundIdentifier); bare
      // LIKE defaults OPTIONS→OVERWRITING so the derived path wins, and
      // everything else (schema/GENERATED/WATERMARKS/CONSTRAINTS) inherits
      spark.sql(s"""CREATE TABLE xderived WITH ('path' = '$dirDrv')
                    LIKE xcat.default.xbase""")
      // inherited schema metadata: PK + watermark ride the LIKE
      val d = spark.sql("DESCRIBE xderived").collect()
        .map(r => (r.getString(0), r.getString(3), r.getString(5))).toSeq
      assert(d.map(_._1) == Seq("id", "tag", "rts"))
      assert(d.head._2 == "PRI(id)")
      assert(d.last._3 == "`rts` - INTERVAL '5' SECOND")
      // qualified INSERT into the namespaced table from OUTSIDE its catalog
      spark.sql("INSERT INTO xcat.default.xbase SELECT 3, 'c', TIMESTAMP '1970-01-01 00:00:25'")
      assert(spark.sql("SELECT count(*) AS n FROM xcat.default.xbase")
        .collect().head.getLong(0) == 3L)
      // DESCRIBE of the qualified name renders the declared six columns
      val q = spark.sql("DESCRIBE xcat.default.xbase").collect()
      assert(q.map(_.getString(0)).toSeq == Seq("id", "tag", "rts"))
    } finally {
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG IF EXISTS xcat")
    }
  }

  test("ALTER FUNCTION re-registers; the reference's temporary-function refusals") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE FUNCTION alt_fn AS 'graft.functions.VowelCountFn'")
    Seq("banana").toDF("w").createOrReplaceTempView("alt_words")
    assert(spark.sql("SELECT alt_fn(w) FROM alt_words").collect().head.getInt(0) == 3)
    // re-registration switches the implementation in place
    spark.sql("ALTER FUNCTION alt_fn AS 'graft.functions.LetterCountFn'")
    assert(spark.sql("SELECT alt_fn(w) FROM alt_words").collect().head.getInt(0) == 6)
    // the namespaces are separate: a name created TEMPORARY is invisible
    // to non-TEMPORARY ALTER (Catalog.alterFunction →
    // FunctionNotExistException), and DROP FUNCTION evicts
    spark.sql("CREATE TEMPORARY FUNCTION alt_tmp AS 'graft.functions.VowelCountFn'")
    val eTmp = intercept[Exception] {
      spark.sql("ALTER FUNCTION alt_tmp AS 'graft.functions.LetterCountFn'")
    }
    assert(eTmp.getMessage.contains("Function alt_tmp does not exist."))
    // the two namespaces hold a name INDEPENDENTLY (ADVICE r15): a later
    // CREATE TEMPORARY of an existing catalog name must not hide the
    // catalog entry from ALTER, and DROP TEMPORARY evicts only the temp one
    spark.sql("CREATE TEMPORARY FUNCTION alt_fn AS 'graft.functions.VowelCountFn'")
    spark.sql("ALTER FUNCTION alt_fn AS 'graft.functions.LetterCountFn'")
    assert(spark.sql("SELECT alt_fn(w) FROM alt_words").collect().head.getInt(0) == 6)
    spark.sql("DROP TEMPORARY FUNCTION alt_fn") // evicts the TEMP slot only
    spark.sql("ALTER FUNCTION alt_fn AS 'graft.functions.VowelCountFn'")
    assert(spark.sql("SELECT alt_fn(w) FROM alt_words").collect().head.getInt(0) == 3)
    // (the UDF registration itself is a Spark temp function either way —
    // the TEMPORARY spelling is the native drop that reaches it)
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS alt_fn")
    val eDropped = intercept[Exception] {
      spark.sql("ALTER FUNCTION alt_fn AS 'graft.functions.LetterCountFn'")
    }
    assert(eDropped.getMessage.contains("Function alt_fn does not exist."))
    // SqlToOperationConverter.convertAlterFunction:462
    val e1 = intercept[Exception] {
      spark.sql("ALTER TEMPORARY SYSTEM FUNCTION alt_fn AS 'graft.functions.LetterCountFn'")
    }
    assert(e1.getMessage.contains("Alter temporary system function is not supported"))
    // TableEnvironmentImpl.alterCatalogFunction:1384-1385
    val e2 = intercept[Exception] {
      spark.sql("ALTER TEMPORARY FUNCTION alt_fn AS 'graft.functions.LetterCountFn'")
    }
    assert(e2.getMessage.contains("Alter temporary catalog function is not supported"))
    val e3 = intercept[Exception] {
      spark.sql("ALTER FUNCTION never_made AS 'graft.functions.LetterCountFn'")
    }
    assert(e3.getMessage.contains("Function never_made does not exist."))
    spark.sql("ALTER FUNCTION IF EXISTS never_made AS 'graft.functions.LetterCountFn'")
  }
}
