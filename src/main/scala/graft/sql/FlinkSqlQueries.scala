package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.operators.TimeOps

/** Oracle-checked queries written in the Flink group-window dialect and
  * executed through the injected parser (FlinkSql.Parser). Semantically
  * identical to TimeOps' DataFrame versions — same oracles — proving the
  * dialect lands on the same Catalyst plans. */
object FlinkSqlQueries {
  type QFn = (SparkSession, String) => DataFrame

  private def run(s: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(sql)
  }

  /** `target/sink_cache/<dir token>/<name>`, emptied of an earlier run's
    * files (the connector sinks append). */
  private def freshSink(dir: String, name: String): String = {
    val path = s"target/sink_cache/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/$name"
    graft.io.LocalFiles.delete(path)
    path
  }

  def queries: Map[String, QFn] = Map(
    "fsql_tumble" -> ((s, dir) => run(s, dir,
      """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events
         GROUP BY TUMBLE(ts, INTERVAL '1' HOUR), event_type
         ORDER BY w_start, event_type""")),
    "fsql_hop" -> ((s, dir) => run(s, dir,
      """SELECT HOP_START(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR) AS w_start,
                count(*) AS n
         FROM events
         GROUP BY HOP(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR)
         ORDER BY w_start""")),
    "fsql_session" -> ((s, dir) => run(s, dir,
      """SELECT user_id,
                SESSION_START(ts, INTERVAL '30' MINUTE) AS s_start,
                SESSION_END(ts, INTERVAL '30' MINUTE) AS s_end,
                count(*) AS n
         FROM events
         GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id
         ORDER BY user_id, s_start""")),
    "fsql_system_time" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""").createOrReplaceTempView("purchases")
      s.sql("""SELECT user_id AS cu, event_id AS c_id, ts AS c_ts FROM events
               WHERE event_type = 'click'""").createOrReplaceTempView("clicks")
      SystemTimeJoin.declareWatermark("clicks", "c_ts") // DDL WATERMARK FOR c_ts
      // LEFT JOIN = null-pad unmatched probes (TemporalJoinITCase.scala:500)
      s.sql("""SELECT u, p_id, c_id AS asof_click_id, c_ts AS asof_click_ts
               FROM purchases LEFT JOIN clicks FOR SYSTEM_TIME AS OF p_ts ON u = cu
               ORDER BY u, p_id""")
    }),
    // round-11 keyword fidelity: plain JOIN is INNER in the reference —
    // purchases with no click version ≤ their time are DROPPED, not
    // null-padded (TemporalJoinITCase.scala:500 is the LEFT form; the plain
    // form drops). Same fixture as fsql_system_time, inner keyword.
    "fsql_system_time_inner" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""").createOrReplaceTempView("purchases")
      s.sql("""SELECT user_id AS cu, event_id AS c_id, ts AS c_ts FROM events
               WHERE event_type = 'click'""").createOrReplaceTempView("clicks")
      SystemTimeJoin.declareWatermark("clicks", "c_ts")
      s.sql("""SELECT u, p_id, c_id AS asof_click_id, c_ts AS asof_click_ts
               FROM purchases JOIN clicks FOR SYSTEM_TIME AS OF p_ts ON u = cu
               ORDER BY u, p_id""")
    }),
    // round-9 front-end widening: the SAME temporal join nested inside a
    // CTE, with the probe side a FROM-subquery — both derived tables are
    // evaluated recursively and bound by name in the statement's plan, then
    // the core join runs and the outer aggregate executes as plain SQL over
    // the CTE
    "fsql_system_time_cte" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS cu, event_id AS c_id, ts AS c_ts FROM events
               WHERE event_type = 'click'""").createOrReplaceTempView("clicks")
      SystemTimeJoin.declareWatermark("clicks", "c_ts")
      s.sql("""WITH j AS (
                 SELECT u, p_id, c_id, c_ts
                 FROM (SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
                       WHERE event_type = 'purchase') p
                 LEFT JOIN clicks FOR SYSTEM_TIME AS OF p_ts ON u = cu
               )
               SELECT u, count(c_id) AS n_with_click, max(c_ts) AS last_asof
               FROM j GROUP BY u ORDER BY u""")
    }),
    // round-10 front-end widening: the versioned side sits under a chain of
    // plain CREATE VIEWs (TemporalJoinRewriteWithUniqueKeyRule.scala — the
    // reference rewrites the join under a view); the watermark is declared
    // on the BASE only and inherited through the recorded view lineage
    "fsql_system_time_view" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS cu, event_id AS c_id, ts AS c_ts FROM events
               WHERE event_type = 'click'""").createOrReplaceTempView("stv_clicks")
      SystemTimeJoin.declareWatermark("stv_clicks", "c_ts")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW stv_even AS
               SELECT cu, c_id, c_ts FROM stv_clicks WHERE c_id % 2 = 0""")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW stv_head AS
               SELECT c_ts, cu, c_id FROM stv_even WHERE cu <= 12""")
      s.sql("""SELECT u, p_id, c_id AS asof_click_id, c_ts AS asof_click_ts
               FROM (SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
                     WHERE event_type = 'purchase') p
               LEFT JOIN stv_head FOR SYSTEM_TIME AS OF p_ts ON u = cu
               ORDER BY u, p_id""")
    }),
    // processing-time temporal join: probe against the build side's LATEST
    // version (TemporalProcessTimeJoinOperator.java:48); the bounded shape
    // degenerates to keep-last-per-key + equi-join
    "fsql_proctime_join" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""").createOrReplaceTempView("purchases")
      s.sql("""SELECT user_id AS cu, event_id AS c_id, ts AS c_ts FROM events
               WHERE event_type = 'click'""").createOrReplaceTempView("clicks")
      SystemTimeJoin.declareWatermark("clicks", "c_ts")
      s.sql("""SELECT u, p_id, c_id AS latest_click_id, c_ts AS latest_click_ts
               FROM purchases JOIN clicks FOR SYSTEM_TIME AS OF PROCTIME() ON u = cu
               ORDER BY u, p_id""")
    }),
    // round-11 keyword fidelity, proc-time LEFT form
    // (TemporalJoinITCase.scala:344 testProcTimeLeftTemporalJoin): probes
    // whose key has NO version at all keep a null-padded row. Probe side is
    // ALL events (clicks exist only for a subset of users' keys? every user
    // clicks in this fixture, so key on (user_id, event_type-less) — use a
    // shifted key to guarantee unmatched probes: purchases keyed on
    // user_id+1000 for odd users never find a version
    "fsql_proctime_left" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT CASE WHEN user_id % 2 = 1 THEN user_id + 1000 ELSE user_id END AS u,
                      event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""").createOrReplaceTempView("lpurchases")
      s.sql("""SELECT user_id AS cu, event_id AS c_id, ts AS c_ts FROM events
               WHERE event_type = 'click'""").createOrReplaceTempView("lclicks")
      SystemTimeJoin.declareWatermark("lclicks", "c_ts")
      s.sql("""SELECT u, p_id, c_id AS latest_click_id, c_ts AS latest_click_ts
               FROM lpurchases LEFT JOIN lclicks FOR SYSTEM_TIME AS OF PROCTIME() ON u = cu
               ORDER BY u, p_id""")
    }),
    // temporal TABLE FUNCTION — the reference's pre-FOR SYSTEM_TIME
    // temporal-join idiom (Table.createTemporalTableFunction +
    // LATERAL TABLE (Rates(o.rowtime)); TemporalTableFunctionJoinITCase
    // .scala:113 event-time form). The comma-join lateral is INNER; the
    // primary-key equality lives in WHERE. Routed onto the same custom
    // AsOfJoin operator as FOR SYSTEM_TIME.
    "fsql_ttf_rowtime" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""").createOrReplaceTempView("ttf_purchases")
      val clicks = s.sql(
        """SELECT user_id AS cu, event_id AS c_id, ts AS c_ts, value AS c_val
           FROM events WHERE event_type = 'click'""")
      TemporalTableFunctions.registerFunction("ClickVersions",
        TemporalTableFunctions.createTemporalTableFunction(clicks, "c_ts", "cu"))
      s.sql("""SELECT o.u, o.p_id, r.c_id AS asof_click_id, r.c_val AS asof_val
               FROM ttf_purchases AS o, LATERAL TABLE (ClickVersions(o.p_ts)) AS r
               WHERE r.cu = o.u
               ORDER BY u, p_id""")
    }),
    // proc-time temporal table function (TemporalTableFunctionJoinITCase
    // .scala:64): LATERAL TABLE (Rates(o.proctime)) — probe against the
    // build side's LATEST version; bounded degeneration = keep-last-per-key
    // + inner equi-join, same keep-last tiebreak as fsql_proctime_join
    "fsql_ttf_proctime" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""").createOrReplaceTempView("ttf_purchases")
      val clicks = s.sql(
        """SELECT user_id AS cu, event_id AS c_id, ts AS c_ts, value AS c_val
           FROM events WHERE event_type = 'click'""")
      TemporalTableFunctions.registerFunction("ClickVersions",
        TemporalTableFunctions.createTemporalTableFunction(clicks, "c_ts", "cu"))
      s.sql("""SELECT o.u, o.p_id, r.c_id AS latest_click_id, r.c_val AS latest_val
               FROM ttf_purchases AS o, LATERAL TABLE (ClickVersions(o.proctime)) AS r
               WHERE r.cu = o.u
               ORDER BY u, p_id""")
    }),
    // nested temporal table functions (TemporalTableFunctionJoinITCase
    // .scala:177): TWO laterals against one probe, where the second
    // lateral's key equality references the FIRST lateral's output
    // (r.currency = p.currency in the reference) — laterals fold
    // left-to-right onto the accumulated probe side. The second versioned
    // table is aggregated to unique (key, time) pairs so version
    // selection is deterministic.
    "fsql_ttf_nested" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT user_id AS u, event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""").createOrReplaceTempView("ttf_purchases")
      val clicks = s.sql(
        """SELECT user_id AS cu, event_id AS c_id, ts AS c_ts, event_id % 8 AS c_bucket
           FROM events WHERE event_type = 'click'""")
      val buckets = s.sql(
        """SELECT event_id % 8 AS b_key, ts AS b_ts, max(value) AS b_val
           FROM events WHERE event_type = 'view' GROUP BY 1, 2""")
      TemporalTableFunctions.registerFunction("ClickB",
        TemporalTableFunctions.createTemporalTableFunction(clicks, "c_ts", "cu"))
      TemporalTableFunctions.registerFunction("BucketV",
        TemporalTableFunctions.createTemporalTableFunction(buckets, "b_ts", "b_key"))
      s.sql("""SELECT o.u, o.p_id, c.c_id AS click_id, b.b_val AS bucket_val
               FROM ttf_purchases AS o,
                 LATERAL TABLE (ClickB(o.p_ts)) AS c,
                 LATERAL TABLE (BucketV(o.p_ts)) AS b
               WHERE c.cu = o.u AND b.b_key = c.c_bucket
               ORDER BY u, p_id""")
    }),
    // dynamic table options: the OPTIONS hint comment after a table ref
    // (FlinkHints.HINT_NAME_OPTIONS; CatalogSourceTable.java:242-259) —
    // the registered csv table declares a COMMA delimiter, the file on disk
    // is PIPE-delimited, and only the hinted read parses it; the hinted
    // options merge over the registration for this one query. Gated by
    // table.dynamic-table-options.enabled exactly like the reference.
    "fsql_options_hint" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val path = freshSink(dir, "opth_ev")
      s.sql("""SELECT event_type, user_id, event_id FROM events
               WHERE event_type IN ('click', 'purchase')""")
        .write.mode("overwrite").option("sep", "|").csv(path)
      s.conf.set(OptionsHint.ConfKey, "true")
      s.sql(s"""CREATE TABLE opth_ev (event_type STRING, user_id BIGINT, event_id BIGINT)
                WITH ('connector' = 'filesystem', 'path' = '$path',
                      'format' = 'csv', 'csv.field-delimiter' = ',')""")
      s.sql("""SELECT event_type, count(*) AS n, sum(event_id) AS sum_eid,
                      count(DISTINCT user_id) AS users
               FROM opth_ev /*+ OPTIONS('csv.field-delimiter' = '|') */
               GROUP BY event_type ORDER BY event_type""")
    }),
    // CREATE TABLE ... LIKE (SqlTableLike.java:104; MergeTableLikeUtil
    // .java:185): the derived sink inherits the base's format option and
    // overwrites its path under OVERWRITING OPTIONS; both sinks are written
    // through INSERT INTO and joined back — the read of the derived table
    // only parses if the format really was inherited
    "fsql_create_table_like" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val (base, drv) = (freshSink(dir, "liketbl_base"), freshSink(dir, "liketbl_drv"))
      s.sql(s"""CREATE TABLE liketbl_base (flag STRING, n BIGINT)
                WITH ('connector' = 'filesystem', 'path' = '$base',
                      'format' = 'parquet')""")
      // derived column list APPENDS to the inherited schema (flag, n) — a
      // re-declared physical name would be the reference's duplicate error
      s.sql(s"""CREATE TABLE liketbl_drv (q BIGINT)
                WITH ('path' = '$drv')
                LIKE liketbl_base (OVERWRITING OPTIONS)""")
      s.sql("""INSERT INTO liketbl_base
               SELECT l_returnflag AS flag, count(*) AS n FROM lineitem GROUP BY 1""")
      s.sql("""INSERT INTO liketbl_drv
               SELECT l_returnflag AS flag, count(*) AS n,
                      sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS q
               FROM lineitem GROUP BY 1""")
      s.sql("""SELECT b.flag, b.n, d.q
               FROM liketbl_base b JOIN liketbl_drv d ON b.flag = d.flag
               ORDER BY b.flag""")
    }),
    // database DDL + a connector table registered INSIDE a non-default
    // database, written and read back fully qualified (Parser.tdd:36-62,
    // SqlCreateDatabase / SqlUseDatabase; TableEnvironmentImpl.java:1016)
    "fsql_database_ddl" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val path = freshSink(dir, "dbddl_t")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_mart WITH ('team' = 'graft')")
      require(s.sql("SHOW DATABASES").collect().exists(_.getString(0) == "graft_mart"))
      s.sql(s"""CREATE TABLE graft_mart.flag_stats (flag STRING, n BIGINT, sum_qty DOUBLE)
                WITH ('connector' = 'filesystem', 'path' = '$path',
                      'format' = 'parquet')""")
      s.sql("""INSERT INTO graft_mart.flag_stats
               SELECT l_returnflag AS flag, count(*) AS n,
                      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
               FROM lineitem GROUP BY 1""")
      s.sql("SELECT flag, n, sum_qty FROM graft_mart.flag_stats ORDER BY flag")
    }),
    // per-catalog object scoping (CatalogManager.qualifyIdentifier,
    // CatalogManager.java:616-621): two DDL catalogs hold SAME-NAMED
    // tables with different shapes; an unqualified CREATE/INSERT lands in
    // the current catalog.database, a bare reference resolves through the
    // current namespace, and a fully-qualified cat.db.t reads across
    // catalogs — the round-15 namespace isolation, oracle-checked on data
    "fsql_catalog_scoping" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val (pathA, pathB) = (freshSink(dir, "cats_a"), freshSink(dir, "cats_b"))
      s.sql("USE CATALOG spark_catalog")
      s.sql("DROP CATALOG IF EXISTS scat_a"); s.sql("DROP CATALOG IF EXISTS scat_b")
      s.sql("CREATE CATALOG scat_a WITH ('type' = 'generic_in_memory')")
      s.sql("CREATE CATALOG scat_b WITH ('type' = 'generic_in_memory')")
      s.sql("USE CATALOG scat_a")
      s.sql(s"""CREATE TABLE mart (n_regionkey BIGINT, nations BIGINT)
                WITH ('connector' = 'filesystem', 'path' = '$pathA',
                      'format' = 'parquet')""")
      s.sql("""INSERT INTO mart
               SELECT n_regionkey, count(*) AS nations FROM nation GROUP BY n_regionkey""")
      s.sql("USE CATALOG scat_b")
      s.sql(s"""CREATE TABLE mart (r_regionkey BIGINT, r_name STRING)
                WITH ('connector' = 'filesystem', 'path' = '$pathB',
                      'format' = 'parquet')""")
      s.sql("INSERT INTO mart SELECT r_regionkey, r_name FROM region")
      // bare `mart` is scat_b's (the current namespace); scat_a's reads
      // fully-qualified from here — cross-catalog resolution
      val out = s.sql(
        """SELECT m.r_name AS r_name, a.nations AS nations
           FROM mart m JOIN scat_a.default.mart a ON m.r_regionkey = a.n_regionkey
           ORDER BY r_name""")
      s.sql("USE CATALOG spark_catalog")
      out
    }),
    // DESCRIBE with the reference's six-column result (name, type, null,
    // key, extras, watermark) — buildDescribeResult,
    // TableEnvironmentImpl.java:1098-1130: PRI(col) key rendering, computed
    // AS-expr extras, the watermark expression on the rowtime row. The
    // oracle is a literal frame: this is catalog metadata, not data
    "fsql_describe" -> ((s, dir) => {
      s.sql(s"""CREATE TABLE desc_events (
                  event_id BIGINT NOT NULL,
                  event_type STRING,
                  value DOUBLE,
                  ts_attr AS CAST(ts AS TIMESTAMP),
                  PRIMARY KEY (event_id) NOT ENFORCED,
                  WATERMARK FOR ts_attr AS ts_attr - INTERVAL '5' SECOND
                ) WITH ('connector' = 'filesystem',
                        'path' = '$dir/events.parquet', 'format' = 'parquet')""")
      s.sql("DESCRIBE desc_events").orderBy("name")
    }),
    // CREATE TABLE LIKE inheriting the base's WATERMARK FOR (+ the generated
    // rowtime column it rides on): the derived table is stream-readable
    // without re-declaring event time — a real StreamingQuery windows over
    // the inherited attribute; emitted rows = windows the final watermark
    // closed, so the oracle filters the batch aggregate the same way
    // (MergeTableLikeUtil.populateWatermarksFromSourceTable:258-266)
    "fsql_like_watermark" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val (base, drv) = (freshSink(dir, "wmlike_base"), freshSink(dir, "wmlike_drv"))
      // seed the base table's path (WatermarkDdl reads it at CREATE time)
      s.sql("SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase'")
        .write.parquet(base)
      s.sql(s"""CREATE TABLE wmlike_base (
                  ts_attr AS CAST(ts AS TIMESTAMP),
                  WATERMARK FOR ts_attr AS ts_attr - INTERVAL '0' SECOND
                ) WITH ('connector' = 'filesystem', 'path' = '$base',
                        'format' = 'parquet')""")
      s.sql(s"CREATE TABLE wmlike_drv WITH ('path' = '$drv') LIKE wmlike_base")
      s.sql("""INSERT INTO wmlike_drv
               SELECT event_id, ts, user_id, value FROM events
               WHERE event_type = 'purchase'""")
      val stream = ConnectorTables.readStream(s, "wmlike_drv")
      val out = stream
        .groupBy(org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("ts_attr"), "1 hour"))
        .agg(org.apache.spark.sql.functions.count("*").as("n"),
          org.apache.spark.sql.functions.expr(
            "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("total"))
        .select(org.apache.spark.sql.functions.col("window.start").as("w_start"),
          org.apache.spark.sql.functions.col("n"),
          org.apache.spark.sql.functions.col("total"))
      graft.RelayDir.drain(s, out, graft.RelayDir.fresh("fsql_relay", dir))
        .selectExpr("CAST(w_start AS TIMESTAMP_NTZ) AS w_start", "n", "total")
        .orderBy("w_start")
    }),
    // partitioned filesystem sink (FileSystemTableSink + PartitionLoader):
    // PARTITIONED BY lays out col=value directories; INSERT OVERWRITE
    // replaces ONLY the partitions present in the written data
    // (FileSystemCommitter.java:97 — Spark's dynamic partitionOverwrite
    // is the same contract); the static PARTITION clause pins a constant
    // partition. Final state composes all three write modes.
    "fsql_partitioned_sink" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val path = freshSink(dir, "part_sink")
      s.sql(s"""CREATE TABLE part_sink (n BIGINT, flag STRING) PARTITIONED BY (flag)
                WITH ('connector' = 'filesystem', 'path' = '$path',
                      'format' = 'parquet')""")
      s.sql("""INSERT INTO part_sink
               SELECT count(*) AS n, l_returnflag AS flag FROM lineitem GROUP BY l_returnflag""")
      s.sql("""INSERT OVERWRITE part_sink
               SELECT count(*) * 2 AS n, l_returnflag AS flag FROM lineitem
               WHERE l_returnflag = 'N' GROUP BY l_returnflag""")
      s.sql("INSERT INTO part_sink PARTITION (flag = 'Z') SELECT count(*) AS n FROM nation")
      s.sql("SELECT flag, n FROM part_sink ORDER BY flag")
    }),
    // ALTER TABLE SET retargets the registration (SqlAlterTableProperties
    // .java:33) and RENAME TO moves it (SqlAlterTableRename.java): the
    // second INSERT lands on the NEW path, the read after the rename sees
    // only it — the final aggregate only matches the oracle if SET really
    // switched both the write and read targets
    "fsql_alter_table" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val (p1, p2) = (freshSink(dir, "alter_p1"), freshSink(dir, "alter_p2"))
      s.sql(s"""CREATE TABLE alter_tbl (flag STRING, n BIGINT)
                WITH ('connector' = 'filesystem', 'path' = '$p1',
                      'format' = 'parquet')""")
      s.sql("""INSERT INTO alter_tbl
               SELECT l_linestatus AS flag, count(*) AS n FROM lineitem GROUP BY 1""")
      s.sql(s"ALTER TABLE alter_tbl SET ('path' = '$p2')")
      s.sql("""INSERT INTO alter_tbl
               SELECT l_returnflag AS flag, count(*) AS n FROM lineitem GROUP BY 1""")
      s.sql("ALTER TABLE alter_tbl RENAME TO alter_dst")
      s.sql("SELECT flag, n FROM alter_dst ORDER BY flag")
    }),
    // watermark declared via DDL (WATERMARK FOR in CREATE VIEW) instead of
    // a programmatic declareWatermark call; the as-of join resolves the
    // versioned side's time attribute from the registry the DDL fed
    "fsql_watermark_ddl" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW wm_purchases
               WATERMARK FOR p_ts AS p_ts - INTERVAL '5' SECOND
               AS SELECT user_id AS u2, event_id AS p_id2, ts AS p_ts FROM events
                  WHERE event_type = 'purchase'""")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW wm_clicks
               WATERMARK FOR c_ts AS c_ts - INTERVAL '5' SECOND
               AS SELECT user_id AS cu, event_id AS c_id, ts AS c_ts FROM events
                  WHERE event_type = 'click'""")
      s.sql("""SELECT u2 AS u, p_id2 AS p_id, c_id AS asof_click_id, c_ts AS asof_click_ts
               FROM wm_purchases LEFT JOIN wm_clicks FOR SYSTEM_TIME AS OF p_ts ON u2 = cu
               ORDER BY u, p_id""")
    }),
    // filesystem connector SINK table + INSERT INTO (the write half of the
    // connector DDL): aggregate lineitem into the sink, read the written
    // files back, prove the round trip against the direct aggregation
    "fsql_insert_sink" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val path = freshSink(dir, "flag_agg")
      s.sql(s"""CREATE TABLE flag_agg (
                  l_returnflag STRING, n BIGINT, sum_qty DOUBLE
                ) WITH ('connector' = 'filesystem', 'path' = '$path',
                        'format' = 'parquet')""")
      s.sql("""INSERT INTO flag_agg
               SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY l_returnflag""")
      s.sql("SELECT l_returnflag, n, sum_qty FROM flag_agg ORDER BY l_returnflag")
    }),
    // StatementSet: two INSERTs into two connector sinks from ONE source
    // scan (shared-subgraph reuse); the read-back joins both sinks to prove
    // both writes landed consistently
    "fsql_statement_set" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      def sinkTable(name: String, ddlCols: String): Unit =
        s.sql(s"""CREATE TABLE $name ($ddlCols)
                  WITH ('connector' = 'filesystem', 'path' = '${freshSink(dir, name)}',
                        'format' = 'parquet')""")
      sinkTable("ss_type", "event_type STRING, n BIGINT")
      sinkTable("ss_user", "bucket BIGINT, n BIGINT")
      StatementSet.create(s)
        .addInsertSql("""INSERT INTO ss_type
                         SELECT event_type, count(*) AS n FROM events GROUP BY event_type""")
        .addInsertSql("""INSERT INTO ss_user
                         SELECT user_id % 10 AS bucket, count(*) AS n
                         FROM events GROUP BY user_id % 10""")
        .execute()
      s.sql("""SELECT t.event_type, t.n, u.total
               FROM ss_type t CROSS JOIN (SELECT sum(n) AS total FROM ss_user) u
               ORDER BY t.event_type""")
    }),
    // CREATE FUNCTION DDL: class resolved reflectively, UDF registered
    // under the DDL name, then used from plain SQL. ALTER FUNCTION then
    // switches a second name's implementation in place
    // (SqlAlterFunction.java; alterCatalogFunction:1379-1402) — the `lv`
    // column only matches the oracle if the re-registration really took
    "fsql_function_ddl" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("CREATE TEMPORARY FUNCTION vowel_count AS 'graft.functions.VowelCountFn'")
      // analysis binds the UDF at spark.sql time, so `before` keeps the
      // vowel implementation even though it evaluates after the ALTER
      val before = s.sql("SELECT n_name, vowel_count(n_name) AS nv FROM nation")
      // non-TEMPORARY create → a CATALOG function, the namespace ALTER
      // FUNCTION resolves in (a temp-only name would refuse — the
      // reference keeps the two namespaces separate)
      s.sql("CREATE FUNCTION mut_count AS 'graft.functions.VowelCountFn'")
      s.sql("ALTER FUNCTION mut_count AS 'graft.functions.LetterCountFn'")
      val after = s.sql("SELECT n_name, mut_count(n_name) AS lv FROM nation")
      before.join(after, Seq("n_name")).orderBy("n_name")
    }),
    // computed column in the connector-table DDL (`col AS expr`), stacked
    // with the WATERMARK clause; the generated column is queryable
    "fsql_computed_column" -> ((s, dir) => {
      s.sql(s"""CREATE TABLE ev_cc (
                  event_id BIGINT,
                  value DOUBLE,
                  value_bucket AS CAST(floor(value) AS BIGINT),
                  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
                ) WITH ('connector' = 'filesystem',
                        'path' = '$dir/events.parquet', 'format' = 'parquet')""")
      s.sql("""SELECT value_bucket, count(*) AS n FROM ev_cc
               GROUP BY value_bucket ORDER BY value_bucket""")
    }),
    "mr_error_pairs" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (E1 E2)
           DEFINE E1 AS event_type = 'error', E2 AS event_type = 'error'
         ) ORDER BY user_id, start_ts""")),
    // the SAME statement as a real StreamingQuery through the watermark-
    // buffered CEP operator — must emit the identical match set
    "mr_stream_error_pairs" -> ((s, dir) => MatchRecognize.runStream(s, dir,
      """SELECT user_id, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (E1 E2)
           DEFINE E1 AS event_type = 'error', E2 AS event_type = 'error'
         ) ORDER BY user_id, start_ts""")),
    // streaming MEASURES + PREV in DEFINE (round 8): adjacent value-drop
    // pairs — B navigates PREV(value) against the watermark-ordered ring,
    // measures join the drained matches' ids back (the batch recipe)
    "mr_stream_nav_measures" -> ((s, dir) => MatchRecognize.runStream(s, dir,
      """SELECT user_id, start_ts, end_ts, n_rows, first_val, last_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES FIRST(A.value) AS first_val, LAST(B.value) AS last_val
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A B)
           DEFINE B AS B.value < PREV(B.value)
         ) ORDER BY user_id, start_ts""")),
    // multi-column PARTITION BY (round 9): the NFA runs one machine per
    // (user, event_type) stream — distinct tuples map to a dense surrogate
    // key via distinct+join (exact, no hash-collision partition merging);
    // SKIP TO NEXT ROW → every adjacent rising-value pair is a match
    "mr_multi_partition" -> ((s, dir) => run(s, dir,
      """SELECT user_id, event_type, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id, event_type
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A B)
           DEFINE B AS B.value > PREV(B.value)
         ) ORDER BY user_id, event_type, start_ts""")),
    // NEXT in DEFINE (batch): clicks whose immediately-following row is a
    // pricier purchase — A's predicate looks ONE ROW AHEAD (lead compile),
    // B's looks one row back, exercising both navigation directions
    "mr_next_define" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'click' AND NEXT(A.value) > A.value,
                  B AS event_type = 'purchase' AND B.value > PREV(B.value)
         ) ORDER BY user_id, start_ts""")),
    // the SAME statement on a real stream — the last batch-only MR feature:
    // Cep.orderedWithNav holds each row until its successor clears the
    // watermark, so NEXT resolves against confirmed lookahead; each key's
    // last row flushes on the end marker's watermark (Bounded.withEnd —
    // Spark file streams emit no end-of-input watermark of their own)
    "mr_stream_next_define" -> ((s, dir) => MatchRecognize.runStream(s, dir,
      """SELECT user_id, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'click' AND NEXT(A.value) > A.value,
                  B AS event_type = 'purchase' AND B.value > PREV(B.value)
         ) ORDER BY user_id, start_ts""")),
    // the SAME ALL-ROWS statement as a real StreamingQuery (round 8): the
    // join-back over the drained matches keeps each matched row with
    // CLASSIFIER; MATCH_NUMBER uses the batch formulation
    "mr_stream_all_rows" -> ((s, dir) => MatchRecognize.runStream(s, dir,
      """SELECT user_id, row_seq, event_id, classifier, match_no FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ALL ROWS PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'click',
                  B AS event_type = 'purchase' AND value > PREV(value)
         ) ORDER BY user_id, match_no, row_seq""")),
    // ALL ROWS PER MATCH + PREV navigation: click followed by a pricier
    // purchase; every matched row comes back with CLASSIFIER/MATCH_NUMBER
    "mr_all_rows_nav" -> ((s, dir) => run(s, dir,
      """SELECT user_id, row_seq, event_id, classifier, match_no FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ALL ROWS PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'click',
                  B AS event_type = 'purchase' AND value > PREV(value)
         ) ORDER BY user_id, match_no, row_seq""")),
    // greedy + quantifier with MEASURES: a maximal run of consecutive errors
    // absorbed by E+, closed by the view that follows it
    "mr_error_run_view" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts, n_rows, n_err, first_val, last_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES COUNT(E.*) AS n_err, FIRST(E.value) AS first_val, LAST(E.value) AS last_val
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (E+ V)
           DEFINE E AS event_type = 'error', V AS event_type = 'view'
         ) ORDER BY user_id, start_ts""")),
    // {n} quantifier: exactly two consecutive clicks then a purchase
    "mr_double_click_buy" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts, click_sum FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES SUM(C.value) AS click_sum
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (C{2} P)
           DEFINE C AS event_type = 'click', P AS event_type = 'purchase'
         ) ORDER BY user_id, start_ts""")),
    // ? quantifier: signup, optionally one view, then purchase — COUNT over
    // the optional variable distinguishes the two shapes
    "mr_signup_opt_view" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts, n_views, n_rows FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES COUNT(V.*) AS n_views
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (S V? P)
           DEFINE S AS event_type = 'signup', V AS event_type = 'view',
                  P AS event_type = 'purchase'
         ) ORDER BY user_id, start_ts""")),
    // RUNNING vs FINAL measures over ALL ROWS PER MATCH: each matched row
    // carries the error count so far, the whole match's total, and the
    // latest error value seen up to that row
    // the SAME running/final-measures ALL-ROWS statement as a real
    // StreamingQuery — per-match measure windows over the drained matches
    "mr_stream_running" -> ((s, dir) => MatchRecognize.runStream(s, dir,
      """SELECT user_id, row_seq, classifier, err_so_far, err_total, last_err_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES RUNNING COUNT(E.*) AS err_so_far,
                    FINAL COUNT(E.*) AS err_total,
                    RUNNING LAST(E.value) AS last_err_val
           ALL ROWS PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (E+ V)
           DEFINE E AS event_type = 'error', V AS event_type = 'view'
         ) ORDER BY user_id, match_no, row_seq""")),
    "mr_running_measures" -> ((s, dir) => run(s, dir,
      """SELECT user_id, row_seq, classifier, err_so_far, err_total, last_err_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES RUNNING COUNT(E.*) AS err_so_far,
                    FINAL COUNT(E.*) AS err_total,
                    RUNNING LAST(E.value) AS last_err_val
           ALL ROWS PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (E+ V)
           DEFINE E AS event_type = 'error', V AS event_type = 'view'
         ) ORDER BY user_id, match_no, row_seq""")),
    // {n,m} bounded range: 2-4 consecutive errors (greedy) closed by any
    // non-error row
    "mr_bounded_times" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts, n_rows, n_err FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES COUNT(E.*) AS n_err
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (E{2,4} N)
           DEFINE E AS event_type = 'error', N AS event_type <> 'error'
         ) ORDER BY user_id, start_ts""")),
    // reluctant +?: fewest clicks before the first error that closes the run
    "mr_reluctant_plus" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts, n_clicks FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES COUNT(C.*) AS n_clicks
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (C+? E)
           DEFINE C AS event_type = 'click', E AS event_type = 'error'
         ) ORDER BY user_id, start_ts""")),
    // early-fire emit strategy on the SQL TUMBLE window: with the
    // table-exec-emit conf set, the query yields the window's emission log —
    // accumulated aggregates at every 10-minute event-time boundary plus the
    // terminal fire (conf-gated exactly like the reference's
    // TABLE_EXEC_EMIT_EARLY_FIRE_ENABLED/_DELAY)
    "fsql_early_fire" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.conf.set(EmitStrategy.DelayConf, "10 minutes")
      s.conf.set(EmitStrategy.TiebreakConf, "event_id")
      try s.sql(
        """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM events
           GROUP BY TUMBLE(ts, INTERVAL '1' HOUR), user_id
           ORDER BY user_id, w_start, fire_time, is_final""")
      finally {
        s.conf.unset(EmitStrategy.DelayConf)
        s.conf.unset(EmitStrategy.TiebreakConf)
      }
    }),
    // early-fire over HOPPING windows: each row lands in its size/slide
    // covering windows; fires per (window, user) at 30-minute boundaries
    "fsql_early_fire_hop" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.conf.set(EmitStrategy.DelayConf, "30 minutes")
      s.conf.set(EmitStrategy.TiebreakConf, "event_id")
      try s.sql(
        """SELECT HOP_START(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM events
           GROUP BY HOP(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR), user_id
           ORDER BY user_id, w_start, fire_time, is_final""")
      finally {
        s.conf.unset(EmitStrategy.DelayConf)
        s.conf.unset(EmitStrategy.TiebreakConf)
      }
    }),
    // early-fire over CUMULATE windows (expanding panes: 4-hour window
    // reported cumulatively at every hour boundary): the pane end joins the
    // key and the output — panes of one window share their start
    "fsql_early_fire_cumulate" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.conf.set(EmitStrategy.DelayConf, "30 minutes")
      s.conf.set(EmitStrategy.TiebreakConf, "event_id")
      try s.sql(
        """SELECT CUMULATE_START(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS w_start,
                  CUMULATE_END(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS w_end,
                  user_id, count(*) AS n, max(value) AS mx
           FROM events
           GROUP BY CUMULATE(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR), user_id
           ORDER BY user_id, w_start, w_end, fire_time, is_final""")
      finally {
        s.conf.unset(EmitStrategy.DelayConf)
        s.conf.unset(EmitStrategy.TiebreakConf)
      }
    }),
    // plain cumulative windows (no emit confs): one row per closed pane,
    // arbitrary aggregates pass through the rewrite verbatim
    "fsql_cumulate" -> ((s, dir) => run(s, dir,
      """SELECT CUMULATE_START(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS w_start,
                CUMULATE_END(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS w_end,
                event_type, count(*) AS n, max(value) AS mx
         FROM events
         GROUP BY CUMULATE(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR), event_type
         ORDER BY w_start, w_end, event_type""")),
    // cascading windows: 10-minute pre-aggregation rolled up into hours via
    // TUMBLE_ROWTIME (the window's event-time attribute, end − 1 ms) — the
    // reference's standard two-level window pattern; the pre-aggregation
    // shrinks the second shuffle by the inner window's compression factor
    "fsql_cascade" -> ((s, dir) => run(s, dir,
      """SELECT TUMBLE_START(rt, INTERVAL '1' HOUR) AS w_start, sum(n) AS n
         FROM (
           SELECT TUMBLE_ROWTIME(ts, INTERVAL '10' MINUTE) AS rt, count(*) AS n
           FROM events
           GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)
         )
         GROUP BY TUMBLE(rt, INTERVAL '1' HOUR)
         ORDER BY w_start""")),
    // early-fire over SESSION windows: gap-driven merging windows, fires at
    // 10-minute boundaries inside an open session, terminal fire at session
    // end = last event + gap
    "fsql_early_fire_session" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.conf.set(EmitStrategy.DelayConf, "10 minutes")
      s.conf.set(EmitStrategy.TiebreakConf, "event_id")
      try s.sql(
        """SELECT SESSION_START(ts, INTERVAL '30' MINUTE) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM events
           GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id
           ORDER BY user_id, w_start, fire_time, is_final""")
      finally {
        s.conf.unset(EmitStrategy.DelayConf)
        s.conf.unset(EmitStrategy.TiebreakConf)
      }
    }),
    // the dialect driving a REAL StreamingQuery end-to-end: file-stream the
    // events table, TUMBLE through the injected parser (same rewrite as
    // fsql_tumble), append-mode memory sink. Emitted rows = exactly the
    // windows the final watermark (max event time, 0s delay) closed — the
    // reference's streaming group-window contract, so the oracle filters
    // the batch aggregate to windows with end <= max(ts).
    "fsql_stream_tumble" -> ((s, dir) => {
      val schema = Tables.schema(s, dir, "events")
      // same NANOS-timestamp handling as Tables.load: the raw nanos long →
      // a real event-time attribute the watermark can ride
      // watermarks require TimestampType (not NTZ); the session runs UTC so
      // the final cast back to NTZ is value-preserving vs the oracle
      Tables.streamTable(s, dir, "events", schema)
        .withColumn("ts", graft.Tables.tsAsTimestamp(schema))
        .withWatermark("ts", "0 seconds")
        .createOrReplaceTempView("events_stream")
      val out = s.sql(
        """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start, event_type,
                  count(*) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events_stream
           GROUP BY TUMBLE(ts, INTERVAL '1' HOUR), event_type""")
      graft.RelayDir.drain(s, out, graft.RelayDir.fresh("fsql_relay", dir))
        .selectExpr("CAST(w_start AS TIMESTAMP_NTZ) AS w_start",
          "event_type", "n", "total")
        .orderBy("w_start", "event_type")
    }),
    // late-fire emit (AFTER WATERMARK strategy): arrival order is a
    // bijective scramble of event_id (odd multiplier mod 2^32 — a stand-in
    // for an ingestion sequence), so most rows arrive after their window
    // closed; each late row inside the 20-day lateness fires the updated
    // accumulate, rows beyond it are dropped, and windows whose on-time
    // prefix is non-empty also final-fire at window end
    "fsql_late_fire" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.conf.set(EmitStrategy.LateConf, "true")
      s.conf.set(EmitStrategy.LatenessConf, "480 hours")
      s.conf.set(EmitStrategy.ArrivalConf, "(event_id * 2654435761) % 4294967296")
      try s.sql(
        """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM events
           GROUP BY TUMBLE(ts, INTERVAL '1' HOUR), user_id
           ORDER BY user_id, w_start, fire_time, is_final, n""")
      finally {
        s.conf.unset(EmitStrategy.LateConf)
        s.conf.unset(EmitStrategy.LatenessConf)
        s.conf.unset(EmitStrategy.ArrivalConf)
      }
    }),
    // streaming early-fire HOP end-to-end: file-stream source → pane-explode
    // → keyed stateful early-fire operator → memory sink. Emitted rows =
    // every early fire plus terminal fires for panes the final watermark
    // (max event time, 0 s delay) closed; an unclosed pane's last-row
    // pending fire stays buffered — the oracle filter mirrors both.
    "fsql_stream_hop" -> ((s, dir) => {
      val schema = Tables.schema(s, dir, "events")
      Tables.streamTable(s, dir, "events", schema)
        .withColumn("ts", graft.Tables.tsAsTimestamp(schema))
        .withWatermark("ts", "0 seconds")
        .createOrReplaceTempView("events_stream_hop")
      s.conf.set(EmitStrategy.DelayConf, "30 minutes")
      s.conf.set(EmitStrategy.TiebreakConf, "event_id")
      try {
        val out = s.sql(
          """SELECT HOP_START(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR) AS w_start,
                    user_id, count(*) AS n, max(value) AS mx
             FROM events_stream_hop
             GROUP BY HOP(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR), user_id""")
        graft.RelayDir.drain(s, out, graft.RelayDir.fresh("fsql_relay", dir))
          .selectExpr("CAST(w_start AS TIMESTAMP_NTZ) AS w_start", "user_id", "n",
            "mx", "CAST(fire_time AS TIMESTAMP_NTZ) AS fire_time", "is_final")
          .orderBy("user_id", "w_start", "fire_time", "is_final")
      } finally {
        s.conf.unset(EmitStrategy.DelayConf)
        s.conf.unset(EmitStrategy.TiebreakConf)
      }
    }),
    // streaming CUMULATE: the same real-StreamingQuery discipline as
    // fsql_stream_hop — expanding panes keyed on (start, end, group), each
    // pane's terminal at its own end when the watermark passes it
    "fsql_stream_cumulate" -> ((s, dir) => {
      val schema = Tables.schema(s, dir, "events")
      Tables.streamTable(s, dir, "events", schema)
        .withColumn("ts", graft.Tables.tsAsTimestamp(schema))
        .withWatermark("ts", "0 seconds")
        .createOrReplaceTempView("events_stream_cum")
      s.conf.set(EmitStrategy.DelayConf, "30 minutes")
      s.conf.set(EmitStrategy.TiebreakConf, "event_id")
      try {
        val out = s.sql(
          """SELECT CUMULATE_START(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS w_start,
                    CUMULATE_END(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS w_end,
                    user_id, count(*) AS n, max(value) AS mx
             FROM events_stream_cum
             GROUP BY CUMULATE(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR), user_id""")
        graft.RelayDir.drain(s, out, graft.RelayDir.fresh("fsql_relay", dir))
          .selectExpr("CAST(w_start AS TIMESTAMP_NTZ) AS w_start",
            "CAST(w_end AS TIMESTAMP_NTZ) AS w_end", "user_id", "n",
            "mx", "CAST(fire_time AS TIMESTAMP_NTZ) AS fire_time", "is_final")
          .orderBy("user_id", "w_start", "w_end", "fire_time", "is_final")
      } finally {
        s.conf.unset(EmitStrategy.DelayConf)
        s.conf.unset(EmitStrategy.TiebreakConf)
      }
    }),
    // streaming early-fire SESSION end-to-end: gap-merged windows in state;
    // non-last sessions terminal-fire data-driven (the row that breaks the
    // gap), each group's last session only if the final watermark passes
    // last event + gap
    "fsql_stream_session" -> ((s, dir) => {
      val schema = Tables.schema(s, dir, "events")
      Tables.streamTable(s, dir, "events", schema)
        .withColumn("ts", graft.Tables.tsAsTimestamp(schema))
        .withWatermark("ts", "0 seconds")
        .createOrReplaceTempView("events_stream_sess")
      s.conf.set(EmitStrategy.DelayConf, "10 minutes")
      s.conf.set(EmitStrategy.TiebreakConf, "event_id")
      try {
        val out = s.sql(
          """SELECT SESSION_START(ts, INTERVAL '30' MINUTE) AS w_start, user_id,
                    count(*) AS n, max(value) AS mx
             FROM events_stream_sess
             GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id""")
        graft.RelayDir.drain(s, out, graft.RelayDir.fresh("fsql_relay", dir))
          .selectExpr("CAST(w_start AS TIMESTAMP_NTZ) AS w_start", "user_id", "n",
            "mx", "CAST(fire_time AS TIMESTAMP_NTZ) AS fire_time", "is_final")
          .orderBy("user_id", "w_start", "fire_time", "is_final")
      } finally {
        s.conf.unset(EmitStrategy.DelayConf)
        s.conf.unset(EmitStrategy.TiebreakConf)
      }
    }),
    // the canonical V-shape with AFTER MATCH SKIP TO FIRST DOWN: overlapping
    // matches cascade — each resumes at the previous match's first DOWN row;
    // STRT has no DEFINE (matches any row, the standard default)
    // the SAME V-shape (SKIP TO FIRST cascade + PREV in DEFINE) as a real
    // StreamingQuery — the skip strategy runs inside the NFA state op
    "mr_stream_v_shape" -> ((s, dir) => MatchRecognize.runStream(s, dir,
      """SELECT user_id, start_ts, end_ts, n_rows FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO FIRST DOWN
           PATTERN (STRT DOWN+ UP)
           DEFINE DOWN AS value < PREV(value), UP AS value > PREV(value)
         ) ORDER BY user_id, start_ts, end_ts""")),
    "mr_v_shape" -> ((s, dir) => run(s, dir,
      """SELECT user_id, start_ts, end_ts, n_rows FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO FIRST DOWN
           PATTERN (STRT DOWN+ UP)
           DEFINE DOWN AS value < PREV(value), UP AS value > PREV(value)
         ) ORDER BY user_id, start_ts, end_ts"""))
  )

  /** Same semantics as the TimeOps DataFrame queries → same oracles.
    * mr_error_pairs: MATCH_RECOGNIZE (E1 E2) over errors with SKIP PAST LAST
    * ROW = greedy pairing inside each maximal run of consecutive errors —
    * the gaps-and-islands formulation below. */
  def oracles: Map[String, String] = Map(
    "fsql_tumble" -> TimeOps.oracles("time_tumble"),
    "fsql_stream_tumble" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2
         HAVING w_start + INTERVAL 1 HOUR <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)
         ORDER BY w_start, event_type""",
    "fsql_hop" -> TimeOps.oracles("time_hop"),
    "fsql_cumulate" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS uts,
                      (epoch_us(ts) // 14400000000) * 14400000000 AS ws
                    FROM events),
          x AS (SELECT *, unnest(generate_series(
                   ws + ((uts - ws) // 3600000000 + 1) * 3600000000,
                   ws + 14400000000, 3600000000)) AS we
                FROM e)
          SELECT make_timestamp(ws) AS w_start, make_timestamp(we) AS w_end,
                 event_type, count(*) AS n, max(value) AS mx
          FROM x GROUP BY 1, 2, 3 ORDER BY w_start, w_end, event_type""",
    "fsql_session" -> TimeOps.oracles("time_session"),
    "fsql_system_time" ->
      """SELECT u, p_id, c_id AS asof_click_id, c_ts AS asof_click_ts FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts,
                  row_number() OVER (PARTITION BY p.user_id, p.event_id
                                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.ts <= p.ts)
         WHERE rn = 1 ORDER BY u, p_id""",
    // plain JOIN = inner: purchases with no click version ≤ their time drop
    // out entirely (the rewrite uses INNER JOIN, so rn=1 only exists for
    // matched probes)
    "fsql_system_time_inner" ->
      """SELECT u, p_id, c_id AS asof_click_id, c_ts AS asof_click_ts FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts,
                  row_number() OVER (PARTITION BY p.user_id, p.event_id
                                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.ts <= p.ts)
         WHERE rn = 1 ORDER BY u, p_id""",
    // the CTE wrapper aggregates the same as-of pairs per user
    "fsql_system_time_cte" ->
      """WITH m AS (
           SELECT u, p_id, c_id, c_ts FROM (
             SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts,
                    row_number() OVER (PARTITION BY p.user_id, p.event_id
                                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
             FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
               ON c.user_id = p.user_id AND c.ts <= p.ts)
           WHERE rn = 1)
         SELECT u, count(c_id) AS n_with_click, max(c_ts) AS last_asof
         FROM m GROUP BY u ORDER BY u""",
    // the view chain only filters the versioned side (even click ids from
    // users ≤ 12); the as-of rewrite is otherwise identical
    "fsql_system_time_view" ->
      """SELECT u, p_id, c_id AS asof_click_id, c_ts AS asof_click_ts FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts,
                  row_number() OVER (PARTITION BY p.user_id, p.event_id
                                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events
                      WHERE event_type = 'click' AND event_id % 2 = 0 AND user_id <= 12) c
             ON c.user_id = p.user_id AND c.ts <= p.ts)
         WHERE rn = 1 ORDER BY u, p_id""",
    // inner join against the single latest click version per user; the
    // Spark side's keep-last tiebreak is (c_ts, cu, c_id) DESC — cu is
    // constant within a partition, so the oracle replays (ts, event_id) DESC
    "fsql_proctime_join" ->
      """SELECT u, p_id, c_id AS latest_click_id, c_ts AS latest_click_ts FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT *, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.rn = 1)
         ORDER BY u, p_id""",
    // proc-time LEFT form: shifted odd-user keys never find a click
    // version and keep a null-padded row; matched keys join the single
    // latest version (same (ts, event_id) DESC keep-last tiebreak replay)
    "fsql_proctime_left" ->
      """SELECT u, p_id, c_id AS latest_click_id, c_ts AS latest_click_ts FROM (
           SELECT p.u AS u, p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts
           FROM (SELECT CASE WHEN user_id % 2 = 1 THEN user_id + 1000 ELSE user_id END AS u, *
                 FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT *, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE event_type = 'click') c
             ON c.user_id = p.u AND c.rn = 1)
         ORDER BY u, p_id""",
    // lateral rowtime form = the inner as-of rewrite (same fixture as
    // fsql_system_time_inner, carrying value instead of ts)
    "fsql_ttf_rowtime" ->
      """SELECT u, p_id, c_id AS asof_click_id, c_val AS asof_val FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.value AS c_val,
                  row_number() OVER (PARTITION BY p.user_id, p.event_id
                                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.ts <= p.ts)
         WHERE rn = 1 ORDER BY u, p_id""",
    // lateral proctime form = inner join against the single latest click
    // version per user (same keep-last tiebreak replay as
    // fsql_proctime_join)
    "fsql_ttf_proctime" ->
      """SELECT u, p_id, c_id AS latest_click_id, c_val AS latest_val FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.value AS c_val
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT *, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.rn = 1)
         ORDER BY u, p_id""",
    // nested laterals: chained as-of rewrites — the second version lookup
    // keys on the FIRST lookup's output bucket; the bucket table is
    // pre-aggregated to unique (key, time) so rn needs no tiebreak
    "fsql_ttf_nested" ->
      """WITH p AS (SELECT user_id AS u, event_id AS p_id, ts AS p_ts
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id AS cu, event_id AS c_id, ts AS c_ts,
                           event_id % 8 AS c_bucket
                    FROM events WHERE event_type = 'click'),
              b AS (SELECT event_id % 8 AS b_key, ts AS b_ts, max(value) AS b_val
                    FROM events WHERE event_type = 'view' GROUP BY 1, 2),
              j1 AS (SELECT u, p_id, p_ts, c_id, c_bucket FROM (
                       SELECT p.u, p.p_id, p.p_ts, c.c_id, c.c_bucket,
                              row_number() OVER (PARTITION BY p.u, p.p_id
                                                 ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
                       FROM p JOIN c ON c.cu = p.u AND c.c_ts <= p.p_ts)
                     WHERE rn = 1),
              j2 AS (SELECT u, p_id, c_id, b_val FROM (
                       SELECT j1.u, j1.p_id, j1.c_id, b.b_val,
                              row_number() OVER (PARTITION BY j1.u, j1.p_id
                                                 ORDER BY b.b_ts DESC) AS rn
                       FROM j1 JOIN b ON b.b_key = j1.c_bucket AND b.b_ts <= j1.p_ts)
                     WHERE rn = 1)
         SELECT u, p_id, c_id AS click_id, b_val AS bucket_val
         FROM j2 ORDER BY u, p_id""",
    // the round trip through the pipe-delimited csv is exact for strings +
    // bigints, so the oracle recomputes straight from events
    "fsql_options_hint" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_eid,
                count(DISTINCT user_id) AS users
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY event_type ORDER BY event_type""",
    // both sinks recompute from lineitem; the join proves both writes
    "fsql_create_table_like" ->
      """WITH b AS (SELECT l_returnflag AS flag, count(*) AS n
                    FROM lineitem GROUP BY 1),
              d AS (SELECT l_returnflag AS flag,
                           CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
                    FROM lineitem GROUP BY 1)
         SELECT b.flag, b.n, d.q FROM b JOIN d ON b.flag = d.flag
         ORDER BY b.flag""",
    "fsql_database_ddl" ->
      """SELECT l_returnflag AS flag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY flag""",
    "fsql_catalog_scoping" ->
      """SELECT r.r_name AS r_name, x.nations AS nations
         FROM region r
         JOIN (SELECT n_regionkey, count(*) AS nations FROM nation GROUP BY 1) x
           ON r.r_regionkey = x.n_regionkey
         ORDER BY r_name""",
    // DESCRIBE is catalog metadata — the oracle is the literal six-column
    // frame the reference's buildDescribeResult would print for this DDL
    "fsql_describe" ->
      """SELECT * FROM (VALUES
           ('event_id', 'BIGINT', false, 'PRI(event_id)',
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
           ('event_type', 'STRING', true, CAST(NULL AS VARCHAR),
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
           ('ts_attr', 'TIMESTAMP(6)', true, CAST(NULL AS VARCHAR),
            'AS CAST(ts AS TIMESTAMP)', '`ts_attr` - INTERVAL ''5'' SECOND'),
           ('value', 'DOUBLE', true, CAST(NULL AS VARCHAR),
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
         ) AS t("name", "type", "null", "key", "extras", "watermark")
         ORDER BY "name"""",
    // batch equivalent of the streaming window agg over the LIKE-derived
    // watermarked table: only windows the final watermark (max purchase ts,
    // 0s delay) closed are emitted by the append-mode stream
    "fsql_like_watermark" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1
         HAVING w_start + INTERVAL 1 HOUR <=
                (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'purchase')
         ORDER BY w_start""",
    // composition of the three write modes: append per-flag counts, the
    // dynamic overwrite doubles ONLY flag N, the static partition adds Z
    "fsql_partitioned_sink" ->
      """WITH c AS (SELECT l_returnflag AS flag, count(*) AS n
                    FROM lineitem GROUP BY 1)
         SELECT flag, CASE WHEN flag = 'N' THEN n * 2 ELSE n END AS n FROM c
         UNION ALL
         SELECT 'Z' AS flag, count(*) AS n FROM nation
         ORDER BY flag""",
    // only the post-ALTER insert (returnflag counts) is visible
    "fsql_alter_table" ->
      """SELECT l_returnflag AS flag, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY flag""",
    // same semantics as fsql_system_time — the DDL only changes how the
    // time attribute is declared, not the join result
    "fsql_watermark_ddl" ->
      """SELECT u, p_id, c_id AS asof_click_id, c_ts AS asof_click_ts FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts,
                  row_number() OVER (PARTITION BY p.user_id, p.event_id
                                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.ts <= p.ts)
         WHERE rn = 1 ORDER BY u, p_id""",
    // (A B) with SKIP PAST LAST ROW can never overlap (B is a purchase, A a
    // click), so the lag formulation is exact; two output rows per match
    "mr_all_rows_nav" ->
      """WITH o0 AS (
           SELECT user_id, ts, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         o AS (
           SELECT *, lag(event_type) OVER w AS t1, lag(value) OVER w AS v1,
                  lag(event_id) OVER w AS id1, lag(rn) OVER w AS rn1
           FROM o0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
         mt AS (
           SELECT user_id, id1, rn1, event_id AS p_id, rn AS p_rn,
                  CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS INT) AS match_no
           FROM o WHERE event_type = 'purchase' AND t1 = 'click' AND value > v1)
         SELECT user_id, rn1 AS row_seq, id1 AS event_id, 'A' AS classifier, match_no FROM mt
         UNION ALL
         SELECT user_id, p_rn, p_id, 'B', match_no FROM mt
         ORDER BY user_id, match_no, row_seq""",
    // streaming ALL ROWS must equal the batch node once the final
    // watermark passes max(ts) — same oracle as mr_all_rows_nav
    "mr_stream_all_rows" ->
      """WITH o0 AS (
           SELECT user_id, ts, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         o AS (
           SELECT *, lag(event_type) OVER w AS t1, lag(value) OVER w AS v1,
                  lag(event_id) OVER w AS id1, lag(rn) OVER w AS rn1
           FROM o0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
         mt AS (
           SELECT user_id, id1, rn1, event_id AS p_id, rn AS p_rn,
                  CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS INT) AS match_no
           FROM o WHERE event_type = 'purchase' AND t1 = 'click' AND value > v1)
         SELECT user_id, rn1 AS row_seq, id1 AS event_id, 'A' AS classifier, match_no FROM mt
         UNION ALL
         SELECT user_id, p_rn, p_id, 'B', match_no FROM mt
         ORDER BY user_id, match_no, row_seq""",
    // E+ V under strict contiguity = each maximal island of consecutive
    // errors whose next row is a view; measures fold over the island
    "mr_error_run_view" ->
      """WITH o AS (
           SELECT user_id, ts, value, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         isl AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM o WHERE event_type = 'error'),
         agg AS (
           SELECT user_id, grp, max(rn) AS rn1, CAST(count(*) AS BIGINT) AS n_err,
                  min(ts) AS t0, arg_min(value, rn) AS first_val, arg_max(value, rn) AS last_val
           FROM isl GROUP BY user_id, grp)
         SELECT a.user_id, epoch_us(a.t0) AS start_ts, epoch_us(v.ts) AS end_ts,
                CAST(a.n_err + 1 AS BIGINT) AS n_rows, a.n_err, a.first_val, a.last_val
         FROM agg a JOIN o v
           ON v.user_id = a.user_id AND v.rn = a.rn1 + 1 AND v.event_type = 'view'
         ORDER BY a.user_id, start_ts""",
    // C{2} P = purchase preceded by exactly two consecutive clicks (the lag
    // formulation; overlaps are impossible because row i is a purchase)
    "mr_double_click_buy" ->
      """WITH o AS (
           SELECT user_id, ts, value, event_type,
                  lag(event_type, 1) OVER w AS t1, lag(event_type, 2) OVER w AS t2,
                  lag(value, 1) OVER w AS v1, lag(value, 2) OVER w AS v2,
                  lag(ts, 2) OVER w AS ts2
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, epoch_us(ts2) AS start_ts, epoch_us(ts) AS end_ts,
                v1 + v2 AS click_sum
         FROM o WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'click'
         ORDER BY user_id, start_ts""",
    // S V? P = purchase preceded by signup directly, or by signup+view
    "mr_signup_opt_view" ->
      """WITH o AS (
           SELECT user_id, ts, event_type,
                  lag(event_type, 1) OVER w AS t1, lag(ts, 1) OVER w AS ts1,
                  lag(event_type, 2) OVER w AS t2, lag(ts, 2) OVER w AS ts2
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id,
                CASE WHEN t1 = 'signup' THEN epoch_us(ts1) ELSE epoch_us(ts2) END AS start_ts,
                epoch_us(ts) AS end_ts,
                CAST(CASE WHEN t1 = 'signup' THEN 0 ELSE 1 END AS BIGINT) AS n_views,
                CAST(CASE WHEN t1 = 'signup' THEN 2 ELSE 3 END AS BIGINT) AS n_rows
         FROM o WHERE event_type = 'purchase'
           AND (t1 = 'signup' OR (t1 = 'view' AND t2 = 'signup'))
         ORDER BY user_id, start_ts""",
    "fsql_insert_sink" ->
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "fsql_statement_set" ->
      """SELECT event_type, count(*) AS n,
                (SELECT count(*) FROM events) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "fsql_function_ddl" ->
      """SELECT n_name,
                CAST(length(lower(n_name)) -
                     length(regexp_replace(lower(n_name), '[aeiou]', '', 'g')) AS INTEGER) AS nv,
                CAST(length(regexp_replace(n_name, '[^a-zA-Z]', '', 'g')) AS INTEGER) AS lv
         FROM nation ORDER BY n_name""",
    "fsql_computed_column" ->
      """SELECT CAST(floor(value) AS BIGINT) AS value_bucket, count(*) AS n
         FROM events GROUP BY 1 ORDER BY value_bucket""",
    // hopping emission log: unnest the covering-window starts, then the
    // same window-frame construction per (window, user)
    "fsql_early_fire_hop" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS uts,
                  unnest(generate_series(
                    (epoch_us(ts) // 3600000000) * 3600000000 - 3600000000,
                    (epoch_us(ts) // 3600000000) * 3600000000, 3600000000)) AS ws,
                  epoch_us(ts) // 1800000000 AS bidx
           FROM events),
         w AS (
           SELECT user_id, ws, bidx, uts, event_id,
                  count(*) OVER win AS n,
                  max(value) OVER win AS mx,
                  lag(bidx) OVER win2 AS pb,
                  row_number() OVER win2 AS rn,
                  count(*) OVER (PARTITION BY ws, user_id) AS cnt
           FROM o
           WINDOW win AS (PARTITION BY ws, user_id ORDER BY uts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  win2 AS (PARTITION BY ws, user_id ORDER BY uts, event_id))
         SELECT make_timestamp(ws) AS w_start, user_id, n, mx,
                CASE WHEN rn = cnt THEN make_timestamp(ws + 7200000000)
                     ELSE make_timestamp((bidx + 1) * 1800000000) END AS fire_time,
                rn = cnt AS is_final
         FROM w
         WHERE (pb IS NOT NULL AND bidx > pb) OR rn = cnt
         ORDER BY user_id, w_start, fire_time, is_final""",
    // cumulate emission log: the hopping construction with the pane END
    // (unnested from the first step boundary past the row up to the max
    // size) in the partition key and the output
    "fsql_early_fire_cumulate" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS uts,
                  (epoch_us(ts) // 14400000000) * 14400000000 AS ws,
                  epoch_us(ts) // 1800000000 AS bidx
           FROM events),
         x AS (
           SELECT *, unnest(generate_series(
                    ws + ((uts - ws) // 3600000000 + 1) * 3600000000,
                    ws + 14400000000, 3600000000)) AS we
           FROM o),
         w AS (
           SELECT user_id, ws, we, bidx, uts, event_id,
                  count(*) OVER win AS n,
                  max(value) OVER win AS mx,
                  lag(bidx) OVER win2 AS pb,
                  row_number() OVER win2 AS rn,
                  count(*) OVER (PARTITION BY ws, we, user_id) AS cnt
           FROM x
           WINDOW win AS (PARTITION BY ws, we, user_id ORDER BY uts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  win2 AS (PARTITION BY ws, we, user_id ORDER BY uts, event_id))
         SELECT make_timestamp(ws) AS w_start, make_timestamp(we) AS w_end,
                user_id, n, mx,
                CASE WHEN rn = cnt THEN make_timestamp(we)
                     ELSE make_timestamp((bidx + 1) * 1800000000) END AS fire_time,
                rn = cnt AS is_final
         FROM w
         WHERE (pb IS NOT NULL AND bidx > pb) OR rn = cnt
         ORDER BY user_id, w_start, w_end, fire_time, is_final""",
    // the late-fire log: watermark = running max event time in scrambled
    // arrival order; late rows (window closed, inside lateness) fire the
    // running accumulate, on-time prefixes final-fire at window end,
    // beyond-lateness rows drop
    "fsql_late_fire" ->
      """WITH base AS (
           SELECT user_id, value, epoch_us(ts) AS uts,
                  (event_id * 2654435761) % 4294967296 AS arr
           FROM events),
         m AS (
           SELECT *, max(uts) OVER (ORDER BY arr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wmb
           FROM base),
         e AS (SELECT *, (uts // 3600000000) * 3600000000 AS ws FROM m),
         k AS (
           SELECT * FROM (
             SELECT *, CASE WHEN wmb IS NULL OR wmb < ws + 3600000000 THEN 0
                            WHEN wmb >= ws + 3600000000 + 1728000000000 THEN 2
                            ELSE 1 END AS cls
             FROM e) WHERE cls <> 2),
         late AS (
           SELECT make_timestamp(ws) AS w_start, user_id,
                  count(*) OVER win AS n, max(value) OVER win AS mx,
                  make_timestamp(wmb) AS fire_time, false AS is_final, cls
           FROM k
           WINDOW win AS (PARTITION BY ws, user_id ORDER BY arr
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         fin AS (
           SELECT make_timestamp(ws) AS w_start, user_id, count(*) AS n,
                  max(value) AS mx,
                  make_timestamp(ws + 3600000000) AS fire_time, true AS is_final
           FROM k WHERE cls = 0 GROUP BY ws, user_id)
         SELECT w_start, user_id, n, mx, fire_time, is_final
         FROM late WHERE cls = 1
         UNION ALL SELECT * FROM fin
         ORDER BY user_id, w_start, fire_time, is_final, n""",
    // the hop emission log restricted to what the STREAM emits: early fires
    // from non-last pane rows, terminals only for panes the final watermark
    // (= max event time) closed — an unclosed pane's last-row pending fire
    // is never flushed
    "fsql_stream_hop" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS uts,
                  unnest(generate_series(
                    (epoch_us(ts) // 3600000000) * 3600000000 - 3600000000,
                    (epoch_us(ts) // 3600000000) * 3600000000, 3600000000)) AS ws,
                  epoch_us(ts) // 1800000000 AS bidx
           FROM events),
         w AS (
           SELECT user_id, ws, bidx, uts, event_id,
                  count(*) OVER win AS n,
                  max(value) OVER win AS mx,
                  lag(bidx) OVER win2 AS pb,
                  row_number() OVER win2 AS rn,
                  count(*) OVER (PARTITION BY ws, user_id) AS cnt
           FROM o
           WINDOW win AS (PARTITION BY ws, user_id ORDER BY uts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  win2 AS (PARTITION BY ws, user_id ORDER BY uts, event_id))
         SELECT make_timestamp(ws) AS w_start, user_id, n, mx,
                CASE WHEN rn = cnt THEN make_timestamp(ws + 7200000000)
                     ELSE make_timestamp((bidx + 1) * 1800000000) END AS fire_time,
                rn = cnt AS is_final
         FROM w
         WHERE (pb IS NOT NULL AND bidx > pb AND rn <> cnt)
            OR (rn = cnt AND ws + 7200000000 <= (SELECT max(epoch_us(ts)) FROM events))
         ORDER BY user_id, w_start, fire_time, is_final""",
    // the cumulate emission log restricted to what the STREAM emits: early
    // fires from non-last pane rows, terminals only for panes whose end the
    // final watermark (= max event time) reached
    "fsql_stream_cumulate" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS uts,
                  (epoch_us(ts) // 14400000000) * 14400000000 AS ws,
                  epoch_us(ts) // 1800000000 AS bidx
           FROM events),
         x AS (
           SELECT *, unnest(generate_series(
                    ws + ((uts - ws) // 3600000000 + 1) * 3600000000,
                    ws + 14400000000, 3600000000)) AS we
           FROM o),
         w AS (
           SELECT user_id, ws, we, bidx, uts, event_id,
                  count(*) OVER win AS n,
                  max(value) OVER win AS mx,
                  lag(bidx) OVER win2 AS pb,
                  row_number() OVER win2 AS rn,
                  count(*) OVER (PARTITION BY ws, we, user_id) AS cnt
           FROM x
           WINDOW win AS (PARTITION BY ws, we, user_id ORDER BY uts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  win2 AS (PARTITION BY ws, we, user_id ORDER BY uts, event_id))
         SELECT make_timestamp(ws) AS w_start, make_timestamp(we) AS w_end,
                user_id, n, mx,
                CASE WHEN rn = cnt THEN make_timestamp(we)
                     ELSE make_timestamp((bidx + 1) * 1800000000) END AS fire_time,
                rn = cnt AS is_final
         FROM w
         WHERE (pb IS NOT NULL AND bidx > pb AND rn <> cnt)
            OR (rn = cnt AND we <= (SELECT max(epoch_us(ts)) FROM events))
         ORDER BY user_id, w_start, w_end, fire_time, is_final""",
    // the session emission log restricted to what the STREAM emits: every
    // terminal whose session end (last event + gap) the final watermark
    // covers — non-last sessions always qualify (the gap-breaking row's
    // timestamp exceeds their end and bounds the watermark from below)
    "fsql_stream_session" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS uts,
                  epoch_us(ts) // 600000000 AS bidx
           FROM events),
         s AS (
           SELECT *, CASE WHEN lag(uts) OVER wg IS NULL
                           OR uts - lag(uts) OVER wg > 1800000000
                          THEN 1 ELSE 0 END AS new_s
           FROM o WINDOW wg AS (PARTITION BY user_id ORDER BY uts, event_id)),
         g AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM s),
         w AS (
           SELECT user_id, sid, bidx, uts, event_id,
                  count(*) OVER win AS n,
                  max(value) OVER win AS mx,
                  lag(bidx) OVER win2 AS pb,
                  row_number() OVER win2 AS rn,
                  count(*) OVER (PARTITION BY user_id, sid) AS cnt,
                  min(uts) OVER (PARTITION BY user_id, sid) AS ss,
                  max(uts) OVER (PARTITION BY user_id, sid) AS se
           FROM g
           WINDOW win AS (PARTITION BY user_id, sid ORDER BY uts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  win2 AS (PARTITION BY user_id, sid ORDER BY uts, event_id))
         SELECT make_timestamp(ss) AS w_start, user_id, n, mx,
                CASE WHEN rn = cnt THEN make_timestamp(se + 1800000000)
                     ELSE make_timestamp((bidx + 1) * 600000000) END AS fire_time,
                rn = cnt AS is_final
         FROM w
         WHERE (pb IS NOT NULL AND bidx > pb AND rn <> cnt)
            OR (rn = cnt AND se + 1800000000 <= (SELECT max(epoch_us(ts)) FROM events))
         ORDER BY user_id, w_start, fire_time, is_final""",
    // E+ V islands exploded to one row per matched position: err_so_far
    // counts errors up to the row, err_total the island, last_err_val the
    // value at position min(row, island end)
    "mr_running_measures" ->
      """WITH o AS (
           SELECT user_id, ts, value, event_type, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         isl AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM o WHERE event_type = 'error'),
         agg AS (
           SELECT user_id, grp, count(*) AS len, min(rn) AS rn0, max(rn) AS rn1
           FROM isl GROUP BY user_id, grp),
         m AS (
           SELECT a.* FROM agg a
           JOIN o v ON v.user_id = a.user_id AND v.rn = a.rn1 + 1 AND v.event_type = 'view')
         SELECT m.user_id, r.rn AS row_seq,
                CASE WHEN r.rn <= m.rn1 THEN 'E' ELSE 'V' END AS classifier,
                CAST(LEAST(r.rn - m.rn0 + 1, m.len) AS BIGINT) AS err_so_far,
                CAST(m.len AS BIGINT) AS err_total,
                lv.value AS last_err_val
         FROM m
         JOIN o r ON r.user_id = m.user_id AND r.rn BETWEEN m.rn0 AND m.rn1 + 1
         JOIN o lv ON lv.user_id = m.user_id AND lv.rn = LEAST(r.rn, m.rn1)
         ORDER BY m.user_id, row_seq""",
    // streaming ALL ROWS + RUNNING/FINAL must equal the batch node
    "mr_stream_running" ->
      """WITH o AS (
           SELECT user_id, ts, value, event_type, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         isl AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM o WHERE event_type = 'error'),
         agg AS (
           SELECT user_id, grp, count(*) AS len, min(rn) AS rn0, max(rn) AS rn1
           FROM isl GROUP BY user_id, grp),
         m AS (
           SELECT a.* FROM agg a
           JOIN o v ON v.user_id = a.user_id AND v.rn = a.rn1 + 1 AND v.event_type = 'view')
         SELECT m.user_id, r.rn AS row_seq,
                CASE WHEN r.rn <= m.rn1 THEN 'E' ELSE 'V' END AS classifier,
                CAST(LEAST(r.rn - m.rn0 + 1, m.len) AS BIGINT) AS err_so_far,
                CAST(m.len AS BIGINT) AS err_total,
                lv.value AS last_err_val
         FROM m
         JOIN o r ON r.user_id = m.user_id AND r.rn BETWEEN m.rn0 AND m.rn1 + 1
         JOIN o lv ON lv.user_id = m.user_id AND lv.rn = LEAST(r.rn, m.rn1)
         ORDER BY m.user_id, row_seq""",
    // emission log reproduced with window frames: running aggregates in
    // (uts, event_id) order; early fires where the 10-min bucket index
    // steps up, terminal fire on the window's last row
    "fsql_early_fire" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS uts,
                  (epoch_us(ts) // 3600000000) * 3600000000 AS ws,
                  epoch_us(ts) // 600000000 AS bidx
           FROM events),
         w AS (
           SELECT user_id, ws, bidx, uts, event_id,
                  count(*) OVER win AS n,
                  max(value) OVER win AS mx,
                  lag(bidx) OVER win2 AS pb,
                  row_number() OVER win2 AS rn,
                  count(*) OVER (PARTITION BY ws, user_id) AS cnt
           FROM o
           WINDOW win AS (PARTITION BY ws, user_id ORDER BY uts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  win2 AS (PARTITION BY ws, user_id ORDER BY uts, event_id))
         SELECT make_timestamp(ws) AS w_start, user_id, n, mx,
                CASE WHEN rn = cnt THEN make_timestamp(ws + 3600000000)
                     ELSE make_timestamp((bidx + 1) * 600000000) END AS fire_time,
                rn = cnt AS is_final
         FROM w
         WHERE (pb IS NOT NULL AND bidx > pb) OR rn = cnt
         ORDER BY user_id, w_start, fire_time, is_final""",
    "fsql_cascade" ->
      """WITH i AS (
           SELECT epoch_us(ts) // 600000000 AS b10, count(*) AS n
           FROM events GROUP BY 1),
         o AS (
           SELECT ((b10 + 1) * 600000000 - 1000) // 3600000000 AS bh,
                  CAST(sum(n) AS BIGINT) AS n
           FROM i GROUP BY 1)
         SELECT make_timestamp(bh * 3600000000) AS w_start, n
         FROM o ORDER BY w_start""",
    "fsql_early_fire_session" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS uts,
                  epoch_us(ts) // 600000000 AS bidx
           FROM events),
         s AS (
           SELECT *, CASE WHEN lag(uts) OVER wg IS NULL
                           OR uts - lag(uts) OVER wg > 1800000000
                          THEN 1 ELSE 0 END AS new_s
           FROM o WINDOW wg AS (PARTITION BY user_id ORDER BY uts, event_id)),
         g AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM s),
         w AS (
           SELECT user_id, sid, bidx, uts, event_id,
                  count(*) OVER win AS n,
                  max(value) OVER win AS mx,
                  lag(bidx) OVER win2 AS pb,
                  row_number() OVER win2 AS rn,
                  count(*) OVER (PARTITION BY user_id, sid) AS cnt,
                  min(uts) OVER (PARTITION BY user_id, sid) AS ss,
                  max(uts) OVER (PARTITION BY user_id, sid) AS se
           FROM g
           WINDOW win AS (PARTITION BY user_id, sid ORDER BY uts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  win2 AS (PARTITION BY user_id, sid ORDER BY uts, event_id))
         SELECT make_timestamp(ss) AS w_start, user_id, n, mx,
                CASE WHEN rn = cnt THEN make_timestamp(se + 1800000000)
                     ELSE make_timestamp((bidx + 1) * 600000000) END AS fire_time,
                rn = cnt AS is_final
         FROM w
         WHERE (pb IS NOT NULL AND bidx > pb) OR rn = cnt
         ORDER BY user_id, w_start, fire_time, is_final""",
    // E{2,4} N: each maximal error island of length >= 2 whose next row
    // exists (and is non-error by maximality) yields one match absorbing the
    // LAST least(len,4) errors — the leftmost surviving anchor is the one
    // whose absorption fits the {2,4} bound
    "mr_bounded_times" ->
      """WITH o AS (
           SELECT user_id, ts, event_type, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         isl AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM o WHERE event_type = 'error'),
         agg AS (
           SELECT user_id, grp, count(*) AS len, max(rn) AS rn_last
           FROM isl GROUP BY user_id, grp),
         m AS (
           SELECT a.user_id, a.len, a.rn_last, n.ts AS n_ts
           FROM agg a JOIN o n ON n.user_id = a.user_id AND n.rn = a.rn_last + 1
           WHERE a.len >= 2)
         SELECT m.user_id, epoch_us(s.ts) AS start_ts, epoch_us(m.n_ts) AS end_ts,
                CAST(LEAST(m.len, 4) + 1 AS BIGINT) AS n_rows,
                CAST(LEAST(m.len, 4) AS BIGINT) AS n_err
         FROM m JOIN o s
           ON s.user_id = m.user_id AND s.rn = m.rn_last - LEAST(m.len, 4) + 1
         ORDER BY m.user_id, start_ts""",
    // C+? E: a maximal click island whose next row is an error — the
    // leftmost anchor still wins (leftmost-first outranks reluctance), so
    // the match covers the whole island plus the error
    "mr_reluctant_plus" ->
      """WITH o AS (
           SELECT user_id, ts, event_type, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         isl AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM o WHERE event_type = 'click'),
         agg AS (
           SELECT user_id, grp, count(*) AS len, min(ts) AS t0, max(rn) AS rn1
           FROM isl GROUP BY user_id, grp)
         SELECT a.user_id, epoch_us(a.t0) AS start_ts, epoch_us(e.ts) AS end_ts,
                CAST(a.len AS BIGINT) AS n_clicks
         FROM agg a JOIN o e
           ON e.user_id = a.user_id AND e.rn = a.rn1 + 1 AND e.event_type = 'error'
         ORDER BY a.user_id, start_ts""",
    // V-shape with SKIP TO FIRST DOWN: each maximal descending run [s..e]
    // whose next row ascends yields one match per anchor in [s-1, e-1] (the
    // cascade: every emitted match resumes at its own first DOWN row)
    "mr_v_shape" ->
      """WITH o AS (
           SELECT user_id, ts, value, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
           FROM events),
         d AS (
           SELECT *, CASE WHEN value < pv THEN 1 ELSE 0 END AS is_down,
                  CASE WHEN value > pv THEN 1 ELSE 0 END AS is_up
           FROM o),
         isl AS (
           SELECT user_id, rn, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM d WHERE is_down = 1),
         runs AS (SELECT user_id, grp, min(rn) AS s, max(rn) AS e FROM isl GROUP BY user_id, grp),
         v AS (
           SELECT r.user_id, r.s, r.e, u.ts AS up_ts
           FROM runs r JOIN d u ON u.user_id = r.user_id AND u.rn = r.e + 1 AND u.is_up = 1)
         SELECT v.user_id, epoch_us(a.ts) AS start_ts, epoch_us(v.up_ts) AS end_ts,
                CAST(v.e - a.rn + 2 AS BIGINT) AS n_rows
         FROM v JOIN o a ON a.user_id = v.user_id AND a.rn BETWEEN v.s - 1 AND v.e - 1
         ORDER BY v.user_id, start_ts, end_ts""",
    // streaming V-shape must equal the batch node — same oracle
    "mr_stream_v_shape" ->
      """WITH o AS (
           SELECT user_id, ts, value, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
           FROM events),
         d AS (
           SELECT *, CASE WHEN value < pv THEN 1 ELSE 0 END AS is_down,
                  CASE WHEN value > pv THEN 1 ELSE 0 END AS is_up
           FROM o),
         isl AS (
           SELECT user_id, rn, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM d WHERE is_down = 1),
         runs AS (SELECT user_id, grp, min(rn) AS s, max(rn) AS e FROM isl GROUP BY user_id, grp),
         v AS (
           SELECT r.user_id, r.s, r.e, u.ts AS up_ts
           FROM runs r JOIN d u ON u.user_id = r.user_id AND u.rn = r.e + 1 AND u.is_up = 1)
         SELECT v.user_id, epoch_us(a.ts) AS start_ts, epoch_us(v.up_ts) AS end_ts,
                CAST(v.e - a.rn + 2 AS BIGINT) AS n_rows
         FROM v JOIN o a ON a.user_id = v.user_id AND a.rn BETWEEN v.s - 1 AND v.e - 1
         ORDER BY v.user_id, start_ts, end_ts""",
    "mr_error_pairs" ->
      """WITH o AS (
           SELECT user_id, event_id, ts, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         runs AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM o WHERE event_type = 'error'),
         err AS (
           SELECT *, row_number() OVER (PARTITION BY user_id, grp ORDER BY rn) AS idx,
                  count(*) OVER (PARTITION BY user_id, grp) AS len,
                  lead(ts) OVER (PARTITION BY user_id, grp ORDER BY rn) AS next_ts
           FROM runs)
         SELECT user_id, epoch_us(ts) AS start_ts, epoch_us(next_ts) AS end_ts
         FROM err WHERE idx % 2 = 1 AND idx < len
         ORDER BY user_id, start_ts""",
    // streaming MATCH_RECOGNIZE must equal the batch row once the final
    // watermark passes max(ts) — same oracle as mr_error_pairs
    "mr_stream_error_pairs" ->
      """WITH o AS (
           SELECT user_id, event_id, ts, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         runs AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM o WHERE event_type = 'error'),
         err AS (
           SELECT *, row_number() OVER (PARTITION BY user_id, grp ORDER BY rn) AS idx,
                  count(*) OVER (PARTITION BY user_id, grp) AS len,
                  lead(ts) OVER (PARTITION BY user_id, grp ORDER BY rn) AS next_ts
           FROM runs)
         SELECT user_id, epoch_us(ts) AS start_ts, epoch_us(next_ts) AS end_ts
         FROM err WHERE idx % 2 = 1 AND idx < len
         ORDER BY user_id, start_ts""",
    // streaming PREV + MEASURES: every adjacent (ts, event_id)-ordered pair
    // whose second value drops below the first (SKIP TO NEXT ROW =
    // overlapping anchors), with FIRST/LAST measures over the matched rows
    "mr_stream_nav_measures" ->
      """WITH o AS (
           SELECT user_id, ts, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (
           SELECT user_id, ts, value,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY rn) AS nts,
                  lead(value) OVER (PARTITION BY user_id ORDER BY rn) AS nval
           FROM o)
         SELECT user_id, epoch_us(ts) AS start_ts, epoch_us(nts) AS end_ts,
                CAST(2 AS BIGINT) AS n_rows, value AS first_val, nval AS last_val
         FROM p WHERE nval < value
         ORDER BY user_id, start_ts""",
    // multi-column PARTITION BY: adjacent rising-value pairs within each
    // (user, event_type) stream; SKIP TO NEXT ROW = every pair, no greedy
    // scan to replay
    "mr_multi_partition" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (
           SELECT user_id, event_type, ts, value,
                  lead(ts) OVER w AS nts, lead(value) OVER w AS nval
           FROM o WINDOW w AS (PARTITION BY user_id, event_type ORDER BY rn))
         SELECT user_id, event_type, epoch_us(ts) AS start_ts, epoch_us(nts) AS end_ts
         FROM p WHERE nval > value
         ORDER BY user_id, event_type, start_ts""",
    // NEXT-in-DEFINE: adjacent (click, pricier purchase) pairs — matches
    // are 2-row and can never overlap (the B row is a purchase, the next
    // A anchor must be a click), so a plain lead-pair filter is exact
    "mr_next_define" ->
      """WITH o AS (
           SELECT user_id, ts, event_type, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (
           SELECT user_id, ts, event_type, value,
                  lead(ts) OVER w AS nts, lead(event_type) OVER w AS ntype,
                  lead(value) OVER w AS nval
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         SELECT user_id, epoch_us(ts) AS start_ts, epoch_us(nts) AS end_ts
         FROM p
         WHERE event_type = 'click' AND nval > value AND ntype = 'purchase'
         ORDER BY user_id, start_ts""",
    // streaming run must equal the batch node once the watermark passes
    // max(ts) — the SAME oracle
    "mr_stream_next_define" ->
      """WITH o AS (
           SELECT user_id, ts, event_type, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (
           SELECT user_id, ts, event_type, value,
                  lead(ts) OVER w AS nts, lead(event_type) OVER w AS ntype,
                  lead(value) OVER w AS nval
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         SELECT user_id, epoch_us(ts) AS start_ts, epoch_us(nts) AS end_ts
         FROM p
         WHERE event_type = 'click' AND nval > value AND ntype = 'purchase'
         ORDER BY user_id, start_ts"""
  )
}
