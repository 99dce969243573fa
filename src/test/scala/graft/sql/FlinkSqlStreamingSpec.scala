package graft.sql

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The Flink-SQL dialect driven by a REAL stream: the injected parser's
  * rewrites must produce streaming plans when the FROM table is a streaming
  * temp view, and the micro-batch output must equal the batch execution of
  * the same SQL text over the same rows (the reference's
  * StreamExecGroupWindowAggregate + WindowEmitStrategy contract). */
/** Top-level so its product encoder needs no outer-instance scope. */
case class FssEv(ts: Timestamp, user_id: Long, event_id: Long, value: Double)

class FlinkSqlStreamingSpec extends SparkSpec {

  private type Ev = FssEv
  private val Ev = FssEv
  private def t(sec: Long) = new Timestamp(sec * 1000L)

  private def rowsOf(sql: String): Seq[String] =
    spark.sql(sql).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("plain TUMBLE SQL over a streaming view is a StreamingQuery matching the batch run") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fss_events")
    val sql =
      """SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS w_start, user_id, count(*) AS n,
                sum(value) AS total
         FROM fss_events
         GROUP BY TUMBLE(ts, INTERVAL '10' SECOND), user_id"""
    val out = s.sql(sql)
    assert(out.isStreaming, "the dialect rewrite must preserve streaming-ness")
    val q = out.writeStream.format("memory").queryName("fss_tumble")
      .outputMode("append").start()
    val data = Seq(
      Ev(t(1), 1, 1, 2.0), Ev(t(4), 1, 2, 3.0), Ev(t(11), 1, 3, 5.0),
      Ev(t(12), 2, 4, 7.0), Ev(t(23), 1, 5, 11.0))
    try {
      in.addData(data.take(3): _*)
      q.processAllAvailable()
      in.addData(data.drop(3): _*)
      q.processAllAvailable()
      in.addData(Ev(t(100), 9, 99, 0.0)) // advance watermark: close all real windows
      q.processAllAvailable()

      // batch run of the SAME SQL text over the same rows
      data.toDF().createOrReplaceTempView("fss_events_batch")
      s.sql(sql.replace("fss_events", "fss_events_batch"))
        .createOrReplaceTempView("fss_tumble_batch")
      val cols = "w_start, user_id, n, total"
      assert(rowsOf(s"SELECT $cols FROM fss_tumble")
        == rowsOf(s"SELECT $cols FROM fss_tumble_batch"))
    } finally q.stop()
  }

  test("early-fire TUMBLE over a streaming view emits the batch emission log across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fse_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    s.conf.set(EmitStrategy.TiebreakConf, "event_id")
    try {
      val sql =
        """SELECT TUMBLE_START(ts, INTERVAL '30' SECOND) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM fse_events
           GROUP BY TUMBLE(ts, INTERVAL '30' SECOND), user_id"""
      val out = s.sql(sql)
      assert(out.isStreaming, "early-fire must plan the stateful streaming operator")
      val q = out.writeStream.format("memory").queryName("fse_emit")
        .outputMode("append").start()
      // user 1, window [0,30): buckets 0,0,1,2 — the bucket-1 row early-fires
      // (n=3), the bucket-2 row at t=25 is the window's LAST row: its early
      // fire must be absorbed by the terminal fire (batch CASE WHEN __last).
      // user 2, window [0,30): buckets 0,1,2 — one early fire survives
      // (t=14), the t=29 crossing is again last-row-absorbed.
      // user 1, window [30,60): single row → terminal fire only.
      val data = Seq(
        Ev(t(1), 1, 1, 2.0), Ev(t(2), 2, 3, 1.0), Ev(t(4), 1, 2, 3.0),
        Ev(t(12), 1, 4, 5.0), Ev(t(14), 2, 8, 6.0), Ev(t(25), 1, 5, 7.0),
        Ev(t(29), 2, 6, 4.0), Ev(t(31), 1, 7, 9.0))
      // split mid-window so state genuinely spans micro-batches
      in.addData(data.take(3): _*)
      q.processAllAvailable()
      in.addData(data.slice(3, 6): _*)
      q.processAllAvailable()
      in.addData(data.drop(6): _*)
      q.processAllAvailable()
      in.addData(Ev(t(1000), 9, 999, 0.0)) // watermark → close every real window
      q.processAllAvailable()

      // batch emission log of the same SQL text (same conf) over the same
      // rows; the stream side excludes the sentinel's still-open window
      data.toDF().createOrReplaceTempView("fse_events_batch")
      s.sql(sql.replace("fse_events", "fse_events_batch"))
        .createOrReplaceTempView("fse_emit_batch")
      val cols = "w_start, user_id, n, CAST(mx AS DOUBLE) AS mx, fire_time, is_final"
      val streamed = rowsOf(s"SELECT $cols FROM fse_emit WHERE user_id <> 9")
      assert(streamed.nonEmpty
        && streamed == rowsOf(s"SELECT $cols FROM fse_emit_batch"))
      // sanity: the log contains early fires AND finals
      assert(s.table("fse_emit").filter(!col("is_final")).count() >= 2)
      assert(s.table("fse_emit").filter(col("is_final")).count() >= 3)
    } finally {
      s.conf.unset(EmitStrategy.DelayConf)
      s.conf.unset(EmitStrategy.TiebreakConf)
      s.streams.active.filter(_.name == "fse_emit").foreach(_.stop())
    }
  }

  test("streaming early-fire skips NULL agg inputs exactly like the batch SQL aggregates") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    // value < 0 is the NULL sentinel: MemoryStream needs a concrete product,
    // the view exposes a genuinely nullable column
    val nullify = expr("CASE WHEN value < 0 THEN CAST(NULL AS DOUBLE) ELSE value END")
    in.toDF().withColumn("value", nullify)
      .withWatermark("ts", "0 seconds").createOrReplaceTempView("fsn_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    s.conf.set(EmitStrategy.TiebreakConf, "event_id")
    try {
      val sql =
        """SELECT TUMBLE_START(ts, INTERVAL '30' SECOND) AS w_start, user_id,
                  count(*) AS n, count(value) AS nv, sum(value) AS sv,
                  min(value) AS mnv, avg(value) AS av
           FROM fsn_events
           GROUP BY TUMBLE(ts, INTERVAL '30' SECOND), user_id"""
      val q = s.sql(sql).writeStream.format("memory").queryName("fsn_emit")
        .outputMode("append").start()
      // user 1, window [0,30): null at t=1 then real values crossing delay
      // buckets — every early fire and the final must exclude the null from
      // nv/sv/mnv/av while counting it in n
      val data = Seq(
        Ev(t(1), 1, 1, -1.0), Ev(t(4), 1, 2, 3.0), Ev(t(12), 1, 3, -1.0),
        Ev(t(14), 1, 4, 5.0), Ev(t(25), 1, 5, 2.0))
      in.addData(data.take(3): _*)
      q.processAllAvailable()
      in.addData(data.drop(3): _*)
      q.processAllAvailable()
      in.addData(Ev(t(1000), 9, 999, 1.0))
      q.processAllAvailable()

      data.toDF().withColumn("value", nullify)
        .createOrReplaceTempView("fsn_events_batch")
      s.sql(sql.replace("fsn_events", "fsn_events_batch"))
        .createOrReplaceTempView("fsn_emit_batch")
      val cols = "w_start, user_id, n, nv, CAST(sv AS DOUBLE) AS sv, " +
        "CAST(mnv AS DOUBLE) AS mnv, av, fire_time, is_final"
      val streamed = rowsOf(s"SELECT $cols FROM fsn_emit WHERE user_id <> 9")
      assert(streamed.nonEmpty
        && streamed == rowsOf(s"SELECT $cols FROM fsn_emit_batch"))
      // sanity: the final must show n=5 but nv=3 (two nulls skipped)
      val fin = s.table("fsn_emit")
        .filter(col("is_final") && col("user_id") === 1).collect()
      assert(fin.length == 1)
      assert(fin.head.getAs[Long]("n") == 5 && fin.head.getAs[Long]("nv") == 3)
      assert(fin.head.getAs[Double]("sv") == 10.0 && fin.head.getAs[Double]("mnv") == 2.0)
    } finally {
      s.conf.unset(EmitStrategy.DelayConf)
      s.conf.unset(EmitStrategy.TiebreakConf)
      s.streams.active.filter(_.name == "fsn_emit").foreach(_.stop())
    }
  }

  test("late rows for a watermark-closed window are dropped, never a second is_final") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fsl_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    s.conf.set(EmitStrategy.TiebreakConf, "event_id")
    try {
      val sql =
        """SELECT TUMBLE_START(ts, INTERVAL '30' SECOND) AS w_start, user_id,
                  count(*) AS n, sum(value) AS total
           FROM fsl_events
           GROUP BY TUMBLE(ts, INTERVAL '30' SECOND), user_id"""
      val q = s.sql(sql).writeStream.format("memory").queryName("fsl_emit")
        .outputMode("append").start()
      in.addData(Ev(t(1), 1, 1, 2.0), Ev(t(14), 1, 2, 3.0))
      q.processAllAvailable()
      in.addData(Ev(t(100), 9, 99, 0.0)) // watermark 100s: window [0,30) closes
      q.processAllAvailable()
      // a straggler for the closed window — state was removed by the
      // terminal fire; before the guard this re-opened the window and later
      // emitted a second is_final with partial aggregates
      in.addData(Ev(t(5), 1, 3, 100.0))
      q.processAllAvailable()
      in.addData(Ev(t(2000), 9, 98, 0.0)) // another watermark advance
      q.processAllAvailable()

      val finals = s.table("fsl_emit")
        .filter(col("is_final") && col("user_id") === 1).collect()
      assert(finals.length == 1, s"window must fire is_final exactly once, got ${finals.length}")
      assert(finals.head.getAs[Long]("n") == 2
        && finals.head.getAs[Double]("total") == 5.0,
        "the late row must not leak into the closed window's aggregates")
    } finally {
      s.conf.unset(EmitStrategy.DelayConf)
      s.conf.unset(EmitStrategy.TiebreakConf)
      s.streams.active.filter(_.name == "fsl_emit").foreach(_.stop())
    }
  }

  test("streaming emission plans: one exchange into the keyed stateful operator, nothing more") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fsp_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    try {
      for ((win, name) <- Seq(
        ("TUMBLE(ts, INTERVAL '30' SECOND)", "tumble"),
        ("HOP(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND)", "hop"),
        ("SESSION(ts, INTERVAL '20' SECOND)", "session"),
        ("CUMULATE(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND)", "cumulate"))) {
        val q = s.sql(
          s"""SELECT user_id, count(*) AS n FROM fsp_events
              GROUP BY $win, user_id""")
        // count exchanges in the analyzed streaming plan: the groupByKey
        // hash repartition must be the ONLY data movement — per-key state
        // is O(#aggs), emission is watermark-driven, no second shuffle,
        // no driver loop (the 100 TB shape)
        val q2 = q.writeStream.format("memory")
          .queryName(s"fsp_$name").outputMode("append").start()
        try {
          in.addData(Ev(t(1), 1, 1, 1.0))
          q2.processAllAvailable()
          val plan = q2
            .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan.toString
          val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
          assert(exchanges == 1,
            s"$name: expected exactly 1 exchange, got $exchanges:\n${plan.take(1200)}")
          assert(plan.contains("FlatMapGroupsWithState"),
            s"$name must run the keyed stateful operator")
        } finally q2.stop()
      }
    } finally s.conf.unset(EmitStrategy.DelayConf)
  }

  test("streaming late-fire: late rows re-fire the closed window inside the allowed lateness") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("flf_events")
    s.conf.set(EmitStrategy.LateConf, "true")
    s.conf.set(EmitStrategy.LatenessConf, "60 seconds")
    try {
      val out = s.sql(
        """SELECT TUMBLE_START(ts, INTERVAL '30' SECOND) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM flf_events
           GROUP BY TUMBLE(ts, INTERVAL '30' SECOND), user_id""")
      assert(out.isStreaming)
      val q = out.writeStream.format("memory").queryName("flf_emit")
        .outputMode("append").start()
      in.addData(Ev(t(5), 1, 1, 2.0), Ev(t(25), 1, 2, 3.0))
      q.processAllAvailable()
      in.addData(Ev(t(40), 1, 3, 5.0)) // watermark → 40 s: closes [0,30)
      q.processAllAvailable()
      // two late rows inside the 60 s lateness, separate batches: each must
      // join the accumulate and fire immediately (admitting watermark 40 s)
      in.addData(Ev(t(10), 1, 4, 100.0))
      q.processAllAvailable()
      in.addData(Ev(t(12), 1, 5, 7.0))
      q.processAllAvailable()
      in.addData(Ev(t(200), 9, 99, 0.0)) // watermark 200 s: lateness [0,90) expired
      q.processAllAvailable()
      in.addData(Ev(t(20), 1, 6, 999.0)) // beyond lateness: dropped silently
      q.processAllAvailable()
      in.addData(Ev(t(300), 9, 98, 0.0))
      q.processAllAvailable()

      val w0 = s.sql(
        """SELECT n, mx, CAST(fire_time AS STRING) AS ft, is_final FROM flf_emit
           WHERE user_id = 1 AND w_start = TIMESTAMP '1970-01-01 00:00:00'
           ORDER BY n""").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getBoolean(3))).toList
      assert(w0 == List(
        (2L, 3.0, "1970-01-01 00:00:30", true), // terminal over on-time rows
        (3L, 100.0, "1970-01-01 00:00:40", false), // late fire @ admitting watermark
        (4L, 100.0, "1970-01-01 00:00:40", false)), // second late fire; 999.0 dropped
        s"got $w0")
      // window [30,60) is untouched by the late traffic
      val w30 = s.table("flf_emit")
        .filter(col("user_id") === 1 && col("w_start") === expr("TIMESTAMP '1970-01-01 00:00:30'"))
        .collect()
      assert(w30.length == 1 && w30.head.getAs[Long]("n") == 1
        && w30.head.getAs[Boolean]("is_final"))
    } finally {
      s.conf.unset(EmitStrategy.LateConf)
      s.conf.unset(EmitStrategy.LatenessConf)
      s.streams.active.filter(_.name == "flf_emit").foreach(_.stop())
    }
  }

  test("streaming combined early-fire + late-fire: the full reference trigger") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fcl_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    s.conf.set(EmitStrategy.TiebreakConf, "event_id")
    s.conf.set(EmitStrategy.LateConf, "true")
    s.conf.set(EmitStrategy.LatenessConf, "120 seconds")
    try {
      val q = s.sql(
        """SELECT TUMBLE_START(ts, INTERVAL '30' SECOND) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM fcl_events
           GROUP BY TUMBLE(ts, INTERVAL '30' SECOND), user_id""")
        .writeStream.format("memory").queryName("fcl_emit")
        .outputMode("append").start()
      // t=12 crosses the 10 s bucket (early fire n=2 buffered, flushed by
      // t=25); terminal at close absorbs t=25's own crossing
      in.addData(Ev(t(1), 1, 1, 2.0), Ev(t(12), 1, 2, 3.0), Ev(t(25), 1, 3, 5.0))
      q.processAllAvailable()
      in.addData(Ev(t(100), 9, 99, 0.0)) // close [0,30); lateness runs to 150 s
      q.processAllAvailable()
      in.addData(Ev(t(7), 1, 4, 50.0)) // late fire at watermark 100 s
      q.processAllAvailable()

      val rows = s.sql(
        """SELECT n, CAST(mx AS DOUBLE) AS mx, CAST(fire_time AS STRING) AS ft, is_final
           FROM fcl_emit WHERE user_id = 1 ORDER BY n""").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getBoolean(3))).toList
      assert(rows == List(
        (2L, 3.0, "1970-01-01 00:00:20", false), // early fire
        (3L, 5.0, "1970-01-01 00:00:30", true), // terminal
        (4L, 50.0, "1970-01-01 00:01:40", false)), // late fire
        s"got $rows")
    } finally {
      s.conf.unset(EmitStrategy.DelayConf)
      s.conf.unset(EmitStrategy.TiebreakConf)
      s.conf.unset(EmitStrategy.LateConf)
      s.conf.unset(EmitStrategy.LatenessConf)
      s.streams.active.filter(_.name == "fcl_emit").foreach(_.stop())
    }
  }

  test("early-fire HOP over a streaming view emits the batch emission log across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fsh_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    s.conf.set(EmitStrategy.TiebreakConf, "event_id")
    try {
      // slide 15 s, size 30 s: every row covers two panes
      val sql =
        """SELECT HOP_START(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND) AS w_start,
                  user_id, count(*) AS n, sum(value) AS sv
           FROM fsh_events
           GROUP BY HOP(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND), user_id"""
      val out = s.sql(sql)
      assert(out.isStreaming, "HOP early-fire must plan the stateful streaming operator")
      val q = out.writeStream.format("memory").queryName("fsh_emit")
        .outputMode("append").start()
      val data = Seq(
        Ev(t(1), 1, 1, 2.0), Ev(t(4), 1, 2, 3.0), Ev(t(12), 1, 3, 5.0),
        Ev(t(17), 1, 4, 7.0), Ev(t(25), 1, 5, 11.0), Ev(t(41), 1, 6, 13.0))
      // split mid-pane so pane state genuinely spans micro-batches
      in.addData(data.take(2): _*)
      q.processAllAvailable()
      in.addData(data.slice(2, 5): _*)
      q.processAllAvailable()
      in.addData(data.drop(5): _*)
      q.processAllAvailable()
      in.addData(Ev(t(1000), 9, 999, 0.0)) // watermark → close every real pane
      q.processAllAvailable()

      data.toDF().createOrReplaceTempView("fsh_events_batch")
      s.sql(sql.replace("fsh_events", "fsh_events_batch"))
        .createOrReplaceTempView("fsh_emit_batch")
      val cols = "w_start, user_id, n, CAST(sv AS DOUBLE) AS sv, fire_time, is_final"
      val streamed = rowsOf(s"SELECT $cols FROM fsh_emit WHERE user_id <> 9")
      assert(streamed.nonEmpty
        && streamed == rowsOf(s"SELECT $cols FROM fsh_emit_batch"))
      // sanity: panes overlap (≥2 finals per covered instant) and early fires exist
      assert(s.table("fsh_emit").filter(col("is_final")).count() >= 4)
      assert(s.table("fsh_emit").filter(!col("is_final")).count() >= 1)
    } finally {
      s.conf.unset(EmitStrategy.DelayConf)
      s.conf.unset(EmitStrategy.TiebreakConf)
      s.streams.active.filter(_.name == "fsh_emit").foreach(_.stop())
    }
  }

  test("plain CUMULATE SQL over a streaming view emits one row per closed pane, matching batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fpc_events")
    val sql =
      """SELECT CUMULATE_START(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND) AS w_start,
                CUMULATE_END(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND) AS w_end,
                user_id, count(*) AS n, sum(value) AS sv
         FROM fpc_events
         GROUP BY CUMULATE(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND), user_id"""
    val out = s.sql(sql)
    assert(out.isStreaming, "plain CUMULATE must preserve streaming-ness")
    assert(!out.columns.contains("fire_time"), "no emission columns without emit confs")
    val q = out.writeStream.format("memory").queryName("fpc_sink")
      .outputMode("append").start()
    val data = Seq(
      Ev(t(1), 1, 1, 2.0), Ev(t(4), 1, 2, 3.0), Ev(t(12), 1, 3, 5.0),
      Ev(t(17), 2, 4, 7.0), Ev(t(25), 1, 5, 11.0))
    try {
      in.addData(data.take(2): _*)
      q.processAllAvailable()
      in.addData(data.drop(2): _*)
      q.processAllAvailable()
      in.addData(Ev(t(1000), 9, 99, 0.0)) // close every real pane
      q.processAllAvailable()
      data.toDF().createOrReplaceTempView("fpc_events_batch")
      s.sql(sql.replace("fpc_events", "fpc_events_batch"))
        .createOrReplaceTempView("fpc_batch")
      val cols = "w_start, w_end, user_id, n, CAST(sv AS DOUBLE) AS sv"
      val streamed = rowsOf(s"SELECT $cols FROM fpc_sink WHERE user_id <> 9")
      assert(streamed.nonEmpty && streamed == rowsOf(s"SELECT $cols FROM fpc_batch"))
    } finally q.stop()
  }

  test("early-fire CUMULATE over a streaming view emits the batch emission log across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fsc_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    s.conf.set(EmitStrategy.TiebreakConf, "event_id")
    try {
      // step 15 s, max 30 s: a row in the first half covers both panes
      val sql =
        """SELECT CUMULATE_START(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND) AS w_start,
                  CUMULATE_END(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND) AS w_end,
                  user_id, count(*) AS n, sum(value) AS sv
           FROM fsc_events
           GROUP BY CUMULATE(ts, INTERVAL '15' SECOND, INTERVAL '30' SECOND), user_id"""
      val out = s.sql(sql)
      assert(out.isStreaming, "CUMULATE early-fire must plan the stateful streaming operator")
      val q = out.writeStream.format("memory").queryName("fsc_emit")
        .outputMode("append").start()
      val data = Seq(
        Ev(t(1), 1, 1, 2.0), Ev(t(4), 1, 2, 3.0), Ev(t(12), 1, 3, 5.0),
        Ev(t(17), 1, 4, 7.0), Ev(t(25), 1, 5, 11.0), Ev(t(41), 1, 6, 13.0))
      // split mid-pane so pane state genuinely spans micro-batches
      in.addData(data.take(2): _*)
      q.processAllAvailable()
      in.addData(data.slice(2, 5): _*)
      q.processAllAvailable()
      in.addData(data.drop(5): _*)
      q.processAllAvailable()
      in.addData(Ev(t(1000), 9, 999, 0.0)) // watermark → close every real pane
      q.processAllAvailable()

      data.toDF().createOrReplaceTempView("fsc_events_batch")
      s.sql(sql.replace("fsc_events", "fsc_events_batch"))
        .createOrReplaceTempView("fsc_emit_batch")
      val cols = "w_start, w_end, user_id, n, CAST(sv AS DOUBLE) AS sv, fire_time, is_final"
      val streamed = rowsOf(s"SELECT $cols FROM fsc_emit WHERE user_id <> 9")
      assert(streamed.nonEmpty
        && streamed == rowsOf(s"SELECT $cols FROM fsc_emit_batch"))
      // sanity: one window yields expanding panes — finals at both the
      // 15 s and 30 s boundaries of the first window
      val finals = s.table("fsc_emit").filter(col("is_final"))
        .select(col("w_start").cast("long"), col("w_end").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(finals.contains((0L, 15L)) && finals.contains((0L, 30L)))
    } finally {
      s.conf.unset(EmitStrategy.DelayConf)
      s.conf.unset(EmitStrategy.TiebreakConf)
      s.streams.active.filter(_.name == "fsc_emit").foreach(_.stop())
    }
  }

  test("early-fire SESSION over a streaming view emits the batch emission log across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.toDF().withWatermark("ts", "0 seconds").createOrReplaceTempView("fss2_events")
    s.conf.set(EmitStrategy.DelayConf, "10 seconds")
    s.conf.set(EmitStrategy.TiebreakConf, "event_id")
    try {
      val sql =
        """SELECT SESSION_START(ts, INTERVAL '20' SECOND) AS w_start, user_id,
                  count(*) AS n, max(value) AS mx
           FROM fss2_events
           GROUP BY SESSION(ts, INTERVAL '20' SECOND), user_id"""
      val out = s.sql(sql)
      assert(out.isStreaming, "SESSION early-fire must plan the stateful streaming operator")
      val q = out.writeStream.format("memory").queryName("fss2_emit")
        .outputMode("append").start()
      // user 1: session A = t 1..35 (each row within 20 s of the last, delay
      // buckets 0,1,2,3 → early fires at crossings, last crossing absorbed);
      // then t=90 starts session B (gap 55 s > 20 s). user 2: one session,
      // closed by the data-driven gap in the SAME key.
      val data = Seq(
        Ev(t(1), 1, 1, 2.0), Ev(t(12), 1, 2, 3.0), Ev(t(22), 1, 3, 5.0),
        Ev(t(35), 1, 4, 7.0), Ev(t(90), 1, 5, 11.0),
        Ev(t(8), 2, 6, 4.0), Ev(t(95), 2, 7, 6.0))
      // session A spans three micro-batches
      in.addData(data.take(2) ++ data.slice(5, 6): _*)
      q.processAllAvailable()
      in.addData(data.slice(2, 4): _*)
      q.processAllAvailable()
      in.addData(data.slice(4, 5) ++ data.drop(6): _*)
      q.processAllAvailable()
      in.addData(Ev(t(1000), 9, 999, 0.0)) // watermark → close the open sessions
      q.processAllAvailable()

      data.toDF().createOrReplaceTempView("fss2_events_batch")
      s.sql(sql.replace("fss2_events", "fss2_events_batch"))
        .createOrReplaceTempView("fss2_emit_batch")
      val cols = "w_start, user_id, n, CAST(mx AS DOUBLE) AS mx, fire_time, is_final"
      val streamed = rowsOf(s"SELECT $cols FROM fss2_emit WHERE user_id <> 9")
      assert(streamed.nonEmpty
        && streamed == rowsOf(s"SELECT $cols FROM fss2_emit_batch"))
      // sanity: 4 sessions close (2 per user), with early fires inside session A
      assert(s.table("fss2_emit").filter(col("is_final") && col("user_id") =!= 9).count() == 4)
      assert(s.table("fss2_emit").filter(!col("is_final")).count() >= 2)
    } finally {
      s.conf.unset(EmitStrategy.DelayConf)
      s.conf.unset(EmitStrategy.TiebreakConf)
      s.streams.active.filter(_.name == "fss2_emit").foreach(_.stop())
    }
  }

  test("streaming MATCH_RECOGNIZE equals the batch scan of the same statement") {
    val mrSql =
      """SELECT user_id, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (E1 E2)
           DEFINE E1 AS event_type = 'error', E2 AS event_type = 'error'
         ) ORDER BY user_id, start_ts"""
    graft.Tables.registerAll(spark, sf)
    val batch = MatchRecognize.run(spark, mrSql).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val streamed = MatchRecognize.runStream(spark, sf, mrSql).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(streamed.nonEmpty, "stream emitted no matches")
    assert(streamed == batch)
  }

  test("streaming NEXT-in-DEFINE equals the batch scan (round 9: lookahead on streams)") {
    // B navigates its OWN successor (a row outside the 2-row match) — the
    // navigation operator's hold-until-successors path, in the NFA's own
    // query, plus the end marker's flush of each key's last rows must
    // reproduce the batch lead() compile exactly
    val mrSql =
      """SELECT user_id, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'click',
                  B AS event_type = 'purchase' AND value > NEXT(value)
         ) ORDER BY user_id, start_ts"""
    graft.Tables.registerAll(spark, sf)
    val batch = MatchRecognize.run(spark, mrSql).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val streamed = MatchRecognize.runStream(spark, sf, mrSql).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(streamed.nonEmpty, "stream emitted no matches")
    assert(streamed == batch)
  }

  test("streaming NEXT-in-DEFINE with MEASURES equals the batch scan, tail rows included") {
    // A navigates its successor, so a match whose B is a partition's LAST
    // row exists only through the end marker's flush of the held rows
    val mrSql =
      """SELECT user_id, start_ts, end_ts, n_rows, click_val, buy_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts
           MEASURES FIRST(A.value) AS click_val, LAST(B.value) AS buy_val
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'click' AND NEXT(A.value) > A.value,
                  B AS event_type = 'purchase' AND B.value > PREV(B.value)
         ) ORDER BY user_id, start_ts"""
    graft.Tables.registerAll(spark, sf)
    val batch = MatchRecognize.run(spark, mrSql)
    val streamed = MatchRecognize.runStream(spark, sf, mrSql)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(streamed).nonEmpty, "stream emitted no matches")
    assert(rows(streamed) == rows(batch))
    val lastRows = spark.sql(
      "SELECT user_id, max(unix_micros(cast(ts as timestamp))) AS end_ts FROM events GROUP BY user_id")
    assert(!streamed.join(lastRows, Seq("user_id", "end_ts")).isEmpty,
      "no match ends on a partition's last row — the end-of-input flush went untested")
  }

  test("streaming MATCH_RECOGNIZE with no match returns the batch columns and no rows") {
    // DEFINE never holds: the match sink commits no data file, in both the
    // ALL ROWS and the MEASURES shape
    val allRows =
      """SELECT user_id, row_seq, event_id, classifier, match_no, n_so_far FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts
           MEASURES RUNNING COUNT(*) AS n_so_far
           ALL ROWS PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'click',
                  B AS event_type = 'no_such_type' AND value > PREV(value)
         ) ORDER BY user_id, match_no, row_seq"""
    val measures =
      """SELECT user_id, start_ts, end_ts, n_rows, first_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts
           MEASURES FIRST(A.value) AS first_val
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'no_such_type', B AS event_type = 'click'
         ) ORDER BY user_id, start_ts"""
    graft.Tables.registerAll(spark, sf)
    for (mrSql <- Seq(allRows, measures)) {
      val batch = MatchRecognize.run(spark, mrSql)
      val streamed = MatchRecognize.runStream(spark, sf, mrSql)
      assert(streamed.columns.toSeq == batch.columns.toSeq)
      assert(batch.isEmpty && streamed.isEmpty)
    }
  }
}
