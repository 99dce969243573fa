package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.time.Duration

/** Unbounded stream-stream outer join (StreamingJoinOperator semantics:
  * eager null-padding with retraction, idle-state TTL) and the late-data
  * side output (WindowOperator.sideOutputLateData). */
class UnboundedJoinSpec extends SparkSpec {

  private def row(key: Long, ts: Long, id: Long, v: Double) = KeyedRow(key, ts, id, "x", v)

  // ProcessingTimeTimeout keeps scheduling batches → poll the sink
  private def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, sink: String)(
      pred: Seq[JoinEmit] => Boolean, what: String): Seq[JoinEmit] = {
    val s = spark
    import s.implicits._
    val deadline = System.nanoTime() + 60L * 1000000000L
    var cur: Seq[JoinEmit] = Nil
    while ({ cur = s.sql(s"select * from $sink").as[JoinEmit].collect().toSeq; !pred(cur) }) {
      if (q.exception.isDefined) throw q.exception.get
      assert(System.nanoTime() < deadline, s"timed out waiting for: $what; got $cur")
      Thread.sleep(100)
    }
    cur
  }

  test("unbounded outer join: eager null-pad, retraction on match, direct join") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val l = MemoryStream[KeyedRow]
    val r = MemoryStream[KeyedRow]
    // roomy TTL: this test is about the retraction semantics, not eviction
    val q = StatefulOps.unboundedLeftOuterJoinWithTtl(l.toDS(), r.toDS(), Duration.ofMinutes(5))
      .writeStream.format("memory").queryName("ubj").outputMode("append").start()
    val await = awaitRows(q, "ubj") _
    try {
      // 1. left row with no match → immediate null-padded +I
      l.addData(row(1, 1000, 1, 10.0))
      val pad = await(_.exists(e => e.left_id == 1 && e.op == "+I" && e.right_id.isEmpty),
        "null-padded +I for left id=1")
      assert(pad.count(_.left_id == 1) == 1)
      // 2. matching right row → retract the pad, emit the real pairing
      r.addData(row(1, 2000, 9, 5.0))
      val upd = await(_.exists(e => e.op == "+U" && e.left_id == 1 && e.right_id.contains(9L)),
        "+U (1, 9)")
      assert(upd.exists(e => e.op == "-U" && e.left_id == 1 && e.right_id.isEmpty))
      // 3. a later left row with state present joins directly (+I, no pad)
      l.addData(row(1, 3000, 2, 20.0))
      val inner = await(_.exists(e => e.left_id == 2 && e.right_id.contains(9L)), "+I (2, 9)")
      assert(!inner.exists(e => e.left_id == 2 && e.right_id.isEmpty), "no pad when a match exists")
    } finally q.stop()
  }

  test("unbounded outer join: idle state is evicted after the TTL") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val l = MemoryStream[KeyedRow]
    val r = MemoryStream[KeyedRow]
    val q = StatefulOps.unboundedLeftOuterJoinWithTtl(l.toDS(), r.toDS(), Duration.ofSeconds(5))
      .writeStream.format("memory").queryName("ubj_ttl").outputMode("append").start()
    val await = awaitRows(q, "ubj_ttl") _
    try {
      r.addData(row(1, 1000, 9, 5.0))
      l.addData(row(1, 2000, 1, 10.0)) // observable proof the right state exists
      await(_.exists(e => e.left_id == 1 && e.right_id.contains(9L)), "(1, 9) while state live")
      Thread.sleep(6500) // idle past the 5s TTL
      // make sure timeout batches have run since expiry (the probe row could
      // otherwise race the eviction under a loaded suite)
      val b0 = Option(q.lastProgress).map(_.batchId).getOrElse(0L)
      val evDeadline = System.nanoTime() + 60L * 1000000000L
      while (Option(q.lastProgress).map(_.batchId).getOrElse(0L) < b0 + 2) {
        if (q.exception.isDefined) throw q.exception.get
        assert(System.nanoTime() < evDeadline, "no timeout batches after TTL expiry")
        Thread.sleep(100)
      }
      // right id=9 is forgotten → the fresh left row null-pads again
      l.addData(row(1, 3000, 3, 30.0))
      val fresh = await(_.exists(e => e.left_id == 3), "row for left id=3")
      assert(fresh.filter(_.left_id == 3).forall(e => e.right_id.isEmpty),
        s"TTL must have evicted right state; got ${fresh.filter(_.left_id == 3)}")
    } finally q.stop()
  }

  test("tumbleAggWithLateSideOutput refuses a bounded Dataset: its late channel needs a watermark") {
    val s = spark
    import s.implicits._
    val e = intercept[IllegalArgumentException](
      StatefulOps.tumbleAggWithLateSideOutput(Seq(row(1, 1000000, 1, 1.0)).toDS(), 10L * 1000000L))
    assert(e.getMessage.contains("watermark"), e.getMessage)
  }

  test("late rows land on the side channel, not in the fired window") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[KeyedRow]
    val width = 10L * 1000000L // 10s tumble
    val q = StatefulOps.tumbleAggWithLateSideOutput(in.toDS(), width)
      .writeStream.format("memory").queryName("latewin").outputMode("append").start()
    def awaitTag(pred: Seq[LateTagEmit] => Boolean, what: String): Seq[LateTagEmit] = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      var cur: Seq[LateTagEmit] = Nil
      while ({ cur = s.sql("select * from latewin").as[LateTagEmit].collect().toSeq; !pred(cur) }) {
        if (q.exception.isDefined) throw q.exception.get
        assert(System.nanoTime() < deadline, s"timed out waiting for: $what; got $cur")
        Thread.sleep(100)
      }
      cur
    }
    try {
      // no processAllAvailable anywhere: with ProcessingTimeTimeout the
      // engine schedules batches continuously and the call never quiesces
      in.addData(row(1, 1000000, 1, 1.0), row(1, 2000000, 2, 2.0)) // window [0, 10s)
      in.addData(row(1, 25000000, 3, 4.0)) // advances watermark to 25s
      in.addData(row(1, 26000000, 4, 8.0)) // next batch sees wm=25s → fires [0,10s)
      val fired = awaitTag(_.exists(e => e.tag == "window" && e.win_start == 0L),
        "window [0,10s) fired")
      val w0 = fired.find(e => e.tag == "window" && e.win_start == 0L).get
      assert(w0.n_events == 2 && w0.sum_value == 3.0)
      // a row for the already-fired window is quarantined, and the fired
      // aggregate is not re-emitted or amended
      in.addData(row(1, 3000000, 5, 99.0))
      val late = awaitTag(_.exists(_.tag == "late"), "late row on the side channel")
      val l5 = late.filter(_.tag == "late")
      assert(l5.map(_.row_id) == Seq(5L) && l5.head.win_start == 0L)
      assert(late.count(e => e.tag == "window" && e.win_start == 0L) == 1)
    } finally q.stop()
  }

  test("stream-stream interval join plans the symmetric hash join, result = batch join") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val pIn = MemoryStream[KeyedRow]
    val cIn = MemoryStream[KeyedRow]
    def side(in: MemoryStream[KeyedRow], a: String) = in.toDS()
      .withColumn("ets", expr("timestamp_micros(ts)"))
      .withWatermark("ets", "0 seconds")
      .select(col("key").as(s"${a}_key"), col("id").as(s"${a}_id"),
        col("ets").as(s"${a}_ts"))
    val joined = side(pIn, "p").join(side(cIn, "c"),
      col("p_key") === col("c_key")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 10 SECONDS")
        && col("c_ts") <= col("p_ts"))
      .select(col("p_key"), col("p_id"), col("c_id"))
    val q = joined.writeStream.format("memory").queryName("ssij")
      .outputMode("append").start()
    try {
      pIn.addData(KeyedRow(1, 15000000L, 1, "p", 0), KeyedRow(1, 40000000L, 2, "p", 0))
      cIn.addData(KeyedRow(1, 8000000L, 10, "c", 0), KeyedRow(1, 14000000L, 11, "c", 0))
      q.processAllAvailable()
      cIn.addData(KeyedRow(1, 33000000L, 12, "c", 0)) // second batch: joins p_id=2
      q.processAllAvailable()
      val plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("StreamingSymmetricHashJoin"),
        s"must plan the stateful stream-stream join:\n${plan.take(800)}")
      val got = s.sql("select * from ssij").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // p1@15s matches c10@8s? 8 >= 5 yes, <= 15 yes; c11@14s yes.
      // p2@40s matches c12@33s (>=30, <=40); c10/c11 are outside.
      assert(got == Set((1L, 1L, 10L), (1L, 1L, 11L), (1L, 2L, 12L)))
    } finally q.stop()
  }

  test("native LEFT OUTER interval join null-pads once the watermark closes the match window") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val pIn = MemoryStream[KeyedRow]
    val cIn = MemoryStream[KeyedRow]
    def side(in: MemoryStream[KeyedRow], a: String) = in.toDS()
      .withColumn("ets", expr("timestamp_micros(ts)"))
      .withWatermark("ets", "0 seconds")
      .select(col("key").as(s"${a}_key"), col("id").as(s"${a}_id"),
        col("ets").as(s"${a}_ts"))
    val joined = side(pIn, "p").join(side(cIn, "c"),
      col("p_key") === col("c_key")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 10 SECONDS")
        && col("c_ts") <= col("p_ts"), "left_outer")
      .select(col("p_key"), col("p_id"), col("c_id"))
    val q = joined.writeStream.format("memory").queryName("ssij_left")
      .outputMode("append").start()
    try {
      // p1@15s unmatched (c@2s is outside its [5s,15s] window); the click
      // watermark sits at 2s, so p1's window is still OPEN
      pIn.addData(KeyedRow(1, 15000000L, 1, "p", 0))
      cIn.addData(KeyedRow(1, 2000000L, 10, "c", 0))
      q.processAllAvailable()
      val early = s.sql("select * from ssij_left").collect()
        .map(r => (r.getLong(1), Option(r.get(2)))).toSet
      assert(early == Set.empty[(Long, Option[Any])],
        s"no premature null-pad while a matching click could still arrive: $early")
      // batch 2 pushes both watermarks past 15s: the match emits AND the
      // engine releases exactly one null-padded row for p1
      pIn.addData(KeyedRow(1, 40000000L, 2, "p", 0))
      cIn.addData(KeyedRow(1, 33000000L, 12, "c", 0))
      q.processAllAvailable()
      q.processAllAvailable()
      val after = s.sql("select * from ssij_left").collect()
        .map(r => (r.getLong(1), Option(r.get(2)))).toSet
      assert(after == Set((1L, None), (2L, Some(12L))),
        s"watermark passage must release exactly one null-padded row: $after")
    } finally q.stop()
  }
}
