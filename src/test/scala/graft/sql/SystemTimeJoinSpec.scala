package graft.sql

import graft.SparkSpec
import java.sql.Timestamp

class SystemTimeJoinSpec extends SparkSpec {

  test("FOR SYSTEM_TIME AS OF joins the latest version ≤ row time") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(10000L), 100L), (1L, new Timestamp(25000L), 101L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("st_orders")
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0))
      .toDF("rk", "rts", "rate").createOrReplaceTempView("st_rates")
    SystemTimeJoin.declareWatermark("st_rates", "rts")
    val rows = spark.sql(
      """SELECT oid, rate FROM st_orders
         JOIN st_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
         ORDER BY oid""").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((100L, 1.0), (101L, 2.0))) // versions at 5s and 20s
  }

  test("WATERMARK FOR DDL on a view feeds the as-of join's time attribute") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(10000L), 100L), (1L, new Timestamp(25000L), 101L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("wmd_orders")
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0))
      .toDF("rk", "rts", "rate").createOrReplaceTempView("wmd_rates_src")
    // no programmatic declareWatermark — the DDL clause is the declaration
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW wmd_rates
         WATERMARK FOR rts AS rts - INTERVAL '5' SECOND
         AS SELECT * FROM wmd_rates_src""")
    assert(SystemTimeJoin.watermarkOf("wmd_rates").contains(("rts", "5 seconds")))
    val rows = spark.sql(
      """SELECT oid, rate FROM wmd_orders
         JOIN wmd_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
         ORDER BY oid""").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((100L, 1.0), (101L, 2.0)))
  }

  test("Flink connector-table DDL: CREATE TABLE ... WATERMARK ... WITH path") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wmddl").toString
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0))
      .toDF("rk", "rts", "rate").write.mode("overwrite").parquet(s"$dir/rates")
    spark.sql(
      s"""CREATE TABLE wmd_fs_rates (
            rk BIGINT, rts TIMESTAMP, rate DOUBLE,
            WATERMARK FOR rts AS rts - INTERVAL '10' SECOND
          ) WITH ('connector' = 'filesystem', 'path' = '$dir/rates', 'format' = 'parquet')""")
    assert(SystemTimeJoin.watermarkOf("wmd_fs_rates").contains(("rts", "10 seconds")))
    assert(spark.table("wmd_fs_rates").count() == 2)
  }

  test("arbitrary WATERMARK expressions: identity, composed intervals, non-constant rejection") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wmexpr").toString
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0))
      .toDF("rk", "rts", "rate").write.mode("overwrite").parquet(s"$dir/t")
    def ddl(name: String, wmExpr: String): Unit = spark.sql(
      s"""CREATE TABLE $name (
            rk BIGINT, rts TIMESTAMP, rate DOUBLE,
            WATERMARK FOR rts AS $wmExpr
          ) WITH ('connector' = 'filesystem', 'path' = '$dir/t', 'format' = 'parquet')""")
    // WATERMARK FOR ts AS ts — the 0-delay strictly-ascending spelling
    // (parserImpls.ftl:512-549 admits any expression)
    ddl("wme_id", "rts")
    assert(SystemTimeJoin.watermarkOf("wme_id").contains(("rts", "0 seconds")))
    // composed interval arithmetic: delay folds to a constant 30s
    ddl("wme_comp", "rts - INTERVAL '1' MINUTE + INTERVAL '30' SECOND")
    assert(SystemTimeJoin.watermarkOf("wme_comp").contains(("rts", "30000000 microseconds")))
    // a cast wrapper is 0-delay
    ddl("wme_cast", "CAST(rts AS TIMESTAMP)")
    assert(SystemTimeJoin.watermarkOf("wme_cast").contains(("rts", "0 microseconds")))
    // the view form takes general expressions too
    spark.table("wme_id").createOrReplaceTempView("wme_src")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW wme_v
         WATERMARK FOR rts AS rts - INTERVAL '2' MINUTE + INTERVAL '1' MINUTE
         AS SELECT * FROM wme_src""")
    assert(SystemTimeJoin.watermarkOf("wme_v").contains(("rts", "60000000 microseconds")))
    // non-constant offset (date_trunc) is NOT a bounded-delay watermark
    val eNc = intercept[Exception] { ddl("wme_bad", "date_trunc('DAY', rts)") }
    assert(eNc.getMessage.contains("not a constant offset"))
    // an expression AHEAD of the rowtime can never be a watermark
    val eAhead = intercept[Exception] { ddl("wme_ahead", "rts + INTERVAL '1' SECOND") }
    assert(eAhead.getMessage.contains("runs AHEAD"))
    // the structured interval family still renders the reference's
    // catalog-serialized expression text (DESCRIBE watermark column)
    ddl("wme_classic", "rts - INTERVAL '10' SECOND")
    assert(SystemTimeJoin.watermarkExprOf("wme_classic")
      .contains("`rts` - INTERVAL '10' SECOND"))
    assert(SystemTimeJoin.watermarkExprOf("wme_comp")
      .contains("`rts` - INTERVAL '1' MINUTE + INTERVAL '30' SECOND"))
  }

  test("aliases + multi-key conjunction compose a struct as-of key") {
    val s = spark
    import s.implicits._
    // versions keyed by (currency, region)
    Seq((1L, 7L, new Timestamp(10000L), 100L), (1L, 8L, new Timestamp(10000L), 101L),
        (1L, 7L, new Timestamp(25000L), 102L))
      .toDF("ok", "orgn", "ots", "oid").createOrReplaceTempView("stm_orders")
    Seq((1L, 7L, new Timestamp(5000L), 1.0), (1L, 7L, new Timestamp(20000L), 2.0),
        (1L, 8L, new Timestamp(5000L), 9.0))
      .toDF("rk", "rrgn", "rts", "rate").createOrReplaceTempView("stm_rates")
    SystemTimeJoin.declareWatermark("stm_rates", "rts")
    val rows = spark.sql(
      """SELECT o.oid, r.rate FROM stm_orders o
         JOIN stm_rates r FOR SYSTEM_TIME AS OF o.ots
         ON o.ok = r.rk AND o.orgn = r.rrgn
         ORDER BY o.oid""").collect().map(x => (x.getLong(0), x.getDouble(1)))
    // (1,7)@10s → 1.0; (1,8)@10s → 9.0; (1,7)@25s → 2.0
    assert(rows.toSeq == Seq((100L, 1.0), (101L, 9.0), (102L, 2.0)))
  }

  test("aliases + multi-key over PROCTIME() pick each composite key's latest version") {
    val s = spark
    import s.implicits._
    Seq((1L, 7L, 100L), (1L, 8L, 101L))
      .toDF("ok", "orgn", "oid").createOrReplaceTempView("stp_orders")
    Seq((1L, 7L, new Timestamp(5000L), 1.0), (1L, 7L, new Timestamp(20000L), 2.0),
        (1L, 8L, new Timestamp(9000L), 9.0))
      .toDF("rk", "rrgn", "rts", "rate").createOrReplaceTempView("stp_rates")
    SystemTimeJoin.declareWatermark("stp_rates", "rts")
    val rows = spark.sql(
      """SELECT o.oid, r.rate FROM stp_orders AS o
         JOIN stp_rates AS r FOR SYSTEM_TIME AS OF PROCTIME()
         ON o.ok = r.rk AND o.orgn = r.rrgn
         ORDER BY o.oid""").collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(rows.toSeq == Seq((100L, 2.0), (101L, 9.0)))
  }

  /** Orders 100/101 (key 1, at 10 s/25 s) and 102 (key 2, at 30 s); rates
    * of key 1 at 5 s/20 s and of key 2 only at 40 s. */
  private def stcFixture(): Unit = {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(10000L), 100L), (1L, new Timestamp(25000L), 101L),
        (2L, new Timestamp(30000L), 102L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("stc_orders")
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0),
        (2L, new Timestamp(40000L), 9.0))
      .toDF("rk", "rts", "rate").createOrReplaceTempView("stc_rates")
    SystemTimeJoin.declareWatermark("stc_rates", "rts")
  }

  test("round 9: the temporal join runs inside a CTE and over a FROM-subquery") {
    stcFixture()
    // CTE wrapping the temporal join, probe side itself a derived table;
    // the outer query aggregates the CTE view as plain SQL
    val rows = spark.sql(
      """WITH j AS (
           SELECT oid, rate
           FROM (SELECT ok, ots, oid FROM stc_orders WHERE oid < 102) o
           JOIN stc_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
         )
         SELECT count(*) AS n, CAST(sum(rate) AS DOUBLE) AS total FROM j""")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((2L, 3.0))) // versions 1.0 (at 10s) + 2.0 (at 25s)
    // subquery directly in the outer FROM, no CTE; order 102 probes at 30s
    // before its key's first version (40s) → LEFT JOIN keeps it, null rate
    val rows2 = spark.sql(
      """SELECT oid, rate
         FROM (SELECT ok, ots, oid FROM stc_orders) o
         LEFT JOIN stc_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
         ORDER BY oid""").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(rows2.toSeq == Seq((100L, Some(1.0)), (101L, Some(2.0)), (102L, None)))
  }

  test("a derived table aliased as an existing view shadows it for its own statement only") {
    stcFixture()
    val rows = spark.sql(
      """SELECT oid, rate
         FROM (SELECT ok, ots, oid FROM stc_orders WHERE oid < 102) stc_orders
         JOIN stc_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
         ORDER BY oid""").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((100L, 1.0), (101L, 2.0)))
    assert(spark.table("stc_orders").count() == 3L)
  }

  test("a CTE referenced twice (a self-join) joins its own rows") {
    stcFixture()
    val rows = spark.sql(
      """WITH j AS (
           SELECT oid, rate FROM stc_orders
           JOIN stc_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
         )
         SELECT a.oid, b.oid AS later, b.rate FROM j a JOIN j b ON a.oid <= b.oid
         ORDER BY a.oid, later""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 102 has no version ≤ 30 s: the inner join drops it
    assert(rows.toSeq == Seq((100L, 100L, 1.0), (100L, 101L, 2.0), (101L, 101L, 2.0)))
  }

  test("an unclosed parenthesis in a CTE body or a derived table is a pointed error") {
    stcFixture()
    Seq(
      """WITH j AS (SELECT oid, rate FROM stc_orders
           JOIN stc_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
         SELECT count(*) FROM j""",
      """SELECT oid, rate FROM (SELECT ok, ots, oid FROM stc_orders o
         JOIN stc_rates FOR SYSTEM_TIME AS OF ots ON ok = rk""").foreach { sql =>
      val e = intercept[IllegalArgumentException](spark.sql(sql))
      assert(e.getMessage.startsWith("FOR SYSTEM_TIME AS OF: no ')' closes the '('"),
        e.getMessage)
    }
  }

  test("round 11: plain JOIN is inner, LEFT JOIN null-pads — both time variants") {
    // the reference's keyword mapping (TemporalJoinITCase.scala:344 proctime
    // LEFT, :500 testEventTimeLeftTemporalJoin): plain JOIN FOR SYSTEM_TIME
    // DROPS probes with no valid version; LEFT JOIN keeps them null-padded
    val s = spark
    import s.implicits._
    // order 102 probes before its key's first version; order 103's key has
    // no versions at all
    Seq((1L, new Timestamp(10000L), 100L), (1L, new Timestamp(25000L), 101L),
        (2L, new Timestamp(30000L), 102L), (3L, new Timestamp(30000L), 103L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("kw_orders")
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0),
        (2L, new Timestamp(40000L), 9.0))
      .toDF("rk", "rts", "rate").createOrReplaceTempView("kw_rates")
    SystemTimeJoin.declareWatermark("kw_rates", "rts")
    def run(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    // event time, inner: 102 and 103 drop
    assert(run("""SELECT oid, rate FROM kw_orders
                  JOIN kw_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
                  ORDER BY oid""") == Seq((100L, Some(1.0)), (101L, Some(2.0))))
    // event time, left: 102 and 103 kept null-padded
    assert(run("""SELECT oid, rate FROM kw_orders
                  LEFT JOIN kw_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
                  ORDER BY oid""") ==
      Seq((100L, Some(1.0)), (101L, Some(2.0)), (102L, None), (103L, None)))
    // proc time, inner: key 3 has no version at all → 103 drops; key 2's
    // latest version (by query time everything has arrived) is 9.0
    assert(run("""SELECT oid, rate FROM kw_orders
                  JOIN kw_rates FOR SYSTEM_TIME AS OF PROCTIME() ON ok = rk
                  ORDER BY oid""") ==
      Seq((100L, Some(2.0)), (101L, Some(2.0)), (102L, Some(9.0))))
    // proc time, left: 103 kept null-padded
    assert(run("""SELECT oid, rate FROM kw_orders
                  LEFT JOIN kw_rates FOR SYSTEM_TIME AS OF PROCTIME() ON ok = rk
                  ORDER BY oid""") ==
      Seq((100L, Some(2.0)), (101L, Some(2.0)), (102L, Some(9.0)), (103L, None)))
  }

  test("round 11: inner as-of output schema is non-nullable on the right side") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, new Timestamp(10000L), 100L)).toDF("k", "t", "id")
    val right = Seq((1L, new Timestamp(5000L), 1.0)).toDF("rk", "rt", "v")
    val inner = graft.plans.AsOf.join(left, right, left("k"), right("rk"),
      left("t"), right("rt"), inner = true)
    assert(!inner.schema("v").nullable, "inner mode must not widen right nullability")
    val outer = graft.plans.AsOf.join(left, right, left("k"), right("rk"),
      left("t"), right("rt"))
    assert(outer.schema("v").nullable, "left mode must widen right nullability")
  }

  test("round 11: a scalar-subquery FROM before the real FROM records no false lineage") {
    // ADVICE r10: maybeRecordView scanned past '(' — a body like
    // `SELECT (SELECT max(x) FROM other), ... FROM base` must NOT record
    // view → other
    SystemTimeJoin.maybeRecordView(
      """CREATE OR REPLACE TEMPORARY VIEW fl_v AS
         SELECT (SELECT max(rts) FROM fl_other), rk, rts FROM fl_base""")
    val s = spark
    import s.implicits._
    // fl_other declared; if false lineage were recorded, fl_v would inherit
    Seq((1L, new Timestamp(500L), 1.0)).toDF("rk", "rts", "rate")
      .createOrReplaceTempView("fl_other")
    SystemTimeJoin.declareWatermark("fl_other", "rts")
    Seq((1L, new Timestamp(500L), 1.0)).toDF("rk", "rts", "rate")
      .createOrReplaceTempView("fl_v")
    Seq((1L, new Timestamp(1000L), 10L)).toDF("ok", "ots", "oid")
      .createOrReplaceTempView("fl_orders")
    val e = intercept[Exception] {
      spark.sql("""SELECT oid, rate FROM fl_orders
                   JOIN fl_v FOR SYSTEM_TIME AS OF ots ON ok = rk""")
    }
    assert(e.getMessage.contains("watermark"),
      s"false lineage inherited a watermark through a scalar subquery: ${e.getMessage}")
  }

  test("round 10: a CREATE-VIEW-registered versioned table inherits the watermark") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(10000L), 100L), (1L, new Timestamp(25000L), 101L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("stv_orders")
    Seq((1L, new Timestamp(5000L), 1.0), (1L, new Timestamp(20000L), 2.0),
        (1L, new Timestamp(22000L), -9.0))
      .toDF("rk", "rts", "rate").createOrReplaceTempView("stv_rates")
    SystemTimeJoin.declareWatermark("stv_rates", "rts")
    // a plain view over the declared base — no declaration on the view
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW stv_pos AS
                 SELECT rk, rts, rate FROM stv_rates WHERE rate > 0""")
    val rows = spark.sql(
      """SELECT oid, rate FROM stv_orders
         JOIN stv_pos FOR SYSTEM_TIME AS OF ots ON ok = rk
         ORDER BY oid""").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // the -9.0 version at 22s is filtered by the view, so 101 keeps 2.0
    assert(rows.toSeq == Seq((100L, 1.0), (101L, 2.0)))
    // chained: a view over the view still inherits
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW stv_pos2 AS
                 SELECT rts, rk, rate FROM stv_pos WHERE rate < 2.5""")
    val rows2 = spark.sql(
      """SELECT oid, rate FROM stv_orders
         JOIN stv_pos2 FOR SYSTEM_TIME AS OF ots ON ok = rk
         ORDER BY oid""").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows2.toSeq == Seq((100L, 1.0), (101L, 2.0)))
  }

  test("round 10: the view-chained join still plans the custom AsOfJoinExec") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(10000L), 100L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("stp2_orders")
    Seq((1L, new Timestamp(5000L), 1.0))
      .toDF("rk", "rts", "rate").createOrReplaceTempView("stp2_rates")
    SystemTimeJoin.declareWatermark("stp2_rates", "rts")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW stp2_v AS SELECT * FROM stp2_rates")
    val df = spark.sql(
      """SELECT oid, rate FROM stp2_orders
         JOIN stp2_v FOR SYSTEM_TIME AS OF ots ON ok = rk""")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "),
      s"view-chained temporal join fell off the custom exec:\n$plan")
  }

  test("round 10: a view that projects out the time column does NOT inherit") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(1000L), 100L))
      .toDF("ok", "ots", "oid").createOrReplaceTempView("stx_orders")
    Seq((1L, new Timestamp(500L), 1.0))
      .toDF("rk", "rts", "rate").createOrReplaceTempView("stx_rates")
    SystemTimeJoin.declareWatermark("stx_rates", "rts")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW stx_notime AS SELECT rk, rate FROM stx_rates")
    val e = intercept[Exception] {
      spark.sql("""SELECT oid, rate FROM stx_orders
                   JOIN stx_notime FOR SYSTEM_TIME AS OF ots ON ok = rk""")
    }
    assert(e.getMessage.contains("watermark"),
      s"expected the pointed no-watermark message, got: ${e.getMessage}")
  }

  test("missing watermark declaration fails with a pointed message") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(1000L))).toDF("k", "t").createOrReplaceTempView("st_nowm")
    val e = intercept[Exception] {
      spark.sql(
        """SELECT k FROM st_nowm JOIN st_nowm2 FOR SYSTEM_TIME AS OF t ON k = k2""")
    }
    assert(e.getMessage.contains("watermark") || e.getMessage.contains("WATERMARK") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("round 12: non-equi ON condition fails with a pointed message") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(10000L), 100L)).toDF("ok", "ots", "oid")
      .createOrReplaceTempView("st_ne_orders")
    Seq((1L, new Timestamp(5000L), 1.0)).toDF("rk", "rts", "rate")
      .createOrReplaceTempView("st_ne_rates")
    SystemTimeJoin.declareWatermark("st_ne_rates", "rts")
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """SELECT oid, rate FROM st_ne_orders
           JOIN st_ne_rates FOR SYSTEM_TIME AS OF ots ON ok > rk""")
    }
    assert(e.getMessage.contains("conjunction of equalities"))
  }

  test("round 12: string literal containing an alias prefix survives the strip") {
    val s = spark
    import s.implicits._
    Seq((1L, new Timestamp(10000L), 100L)).toDF("ok", "ots", "oid")
      .createOrReplaceTempView("st_lit_orders")
    Seq((1L, new Timestamp(5000L), 1.0)).toDF("rk", "rts", "rate")
      .createOrReplaceTempView("st_lit_rates")
    SystemTimeJoin.declareWatermark("st_lit_rates", "rts")
    // the projection's literal contains "la." and "ra." — the alias strip
    // must not corrupt it (VERDICT r11: blind replaceAll would)
    val rows = spark.sql(
      """SELECT concat('la.tag=ra.', la.oid) AS tag, ra.rate
         FROM st_lit_orders la JOIN st_lit_rates ra
         FOR SYSTEM_TIME AS OF la.ots ON la.ok = ra.rk
         WHERE concat('ra.', la.oid) = 'ra.100'""").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("la.tag=ra.100", 1.0)))
  }

  test("round 12: closed-paren projection before FROM still records view lineage") {
    // ADVICE r11: `CREATE VIEW v AS SELECT CAST(x AS INT), ts FROM base`
    // has a CLOSED paren group before FROM — depth zero, lineage must record
    SystemTimeJoin.maybeRecordView(
      "CREATE OR REPLACE TEMPORARY VIEW stv_cast AS SELECT CAST(cu AS INT) AS cu2, c_ts FROM stv_base")
    val s = spark
    import s.implicits._
    Seq((1, new Timestamp(5000L))).toDF("cu", "c_ts").createOrReplaceTempView("stv_base")
    SystemTimeJoin.declareWatermark("stv_base", "c_ts")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW stv_cast AS SELECT CAST(cu AS INT) AS cu2, c_ts FROM stv_base")
    // lineage resolved: stv_cast inherits c_ts from stv_base
    Seq((1, new Timestamp(10000L), 7L)).toDF("ok", "ots", "oid")
      .createOrReplaceTempView("stv_cast_orders")
    val rows = spark.sql(
      """SELECT oid, cu2 FROM stv_cast_orders
         JOIN stv_cast FOR SYSTEM_TIME AS OF ots ON ok = cu2""").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 7L)
    // (the unclosed-paren scalar-subquery case stays rejected — pinned by
    // the round-11 "records no false lineage" test above)
  }
}
