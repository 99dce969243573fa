package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** True-streaming behavior of the custom stateful operators: state must
  * carry across micro-batches (the property the batch oracle can't see). */
class StatefulOpsSpec extends SparkSpec {

  private def row(key: Long, ts: Long, id: Long, kind: String = "x", value: Double = 0.0) =
    KeyedRow(key, ts, id, kind, value)

  test("topNPerKey keeps the N best per key across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[KeyedRow]
    val q = StatefulOps.topNPerKey(in.toDS(), 2)
      .writeStream.format("memory").queryName("topn").outputMode("update").start()
    try {
      in.addData(row(1, 10, 1, value = 5.0), row(1, 11, 2, value = 9.0))
      q.processAllAvailable()
      val b1 = s.sql("select * from topn").as[TopNEmit].collect().toSet
      assert(b1 == Set(TopNEmit(1, 2, 9.0, 1), TopNEmit(1, 1, 5.0, 2)))
      // a better row arrives later: displaces rank 2, re-emits the ranking
      in.addData(row(1, 12, 3, value = 7.0))
      q.processAllAvailable()
      val all = s.sql("select * from topn").as[TopNEmit].collect()
      assert(all.count(_.rnk == 1) == 2) // rank-1 emitted in both batches
      assert(all.filter(_.id == 3).map(_.rnk).toSet == Set(2))
      assert(!all.exists(e => e.id == 1 && e.rnk == 1)) // 5.0 never ranked first
    } finally q.stop()
  }

  test("dedupKeepLast emits the latest row per key, state across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[KeyedRow]
    val q = StatefulOps.dedupKeepLast(in.toDS())
      .writeStream.format("memory").queryName("dedup").outputMode("update").start()
    try {
      in.addData(row(1, 100, 1, value = 1.0), row(1, 50, 2, value = 2.0))
      q.processAllAvailable()
      in.addData(row(1, 80, 3, value = 3.0)) // older than current last → no change
      q.processAllAvailable()
      val winners = s.sql("select * from dedup").as[LastRowEmit].collect()
      assert(winners.forall(w => w.id == 1 && w.ts == 100))
    } finally q.stop()
  }

  test("countTumblingWindows closes windows of exactly n rows, pending carries over") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[KeyedRow]
    val q = StatefulOps.countTumblingWindows(in.toDS(), 3)
      .writeStream.format("memory").queryName("cw").outputMode("append").start()
    try {
      in.addData(row(7, 1, 1, value = 1.0), row(7, 2, 2, value = 5.0))
      q.processAllAvailable()
      assert(s.sql("select * from cw").count() == 0) // window still open
      in.addData(row(7, 3, 3, value = 2.0), row(7, 4, 4, value = 9.0))
      q.processAllAvailable()
      val wins = s.sql("select * from cw").as[CountWindowEmit].collect()
      assert(wins.toSeq == Seq(CountWindowEmit(7, 0, 3, 5.0, 3))) // 4th row pending
    } finally q.stop()
  }

  test("runningSumPerKey accumulates exact decimal across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[KeyedRow]
    val q = StatefulOps.runningSumPerKey(in.toDS())
      .writeStream.format("memory").queryName("run").outputMode("append").start()
    try {
      in.addData(row(1, 1, 1, value = 0.1), row(1, 2, 2, value = 0.2))
      q.processAllAvailable()
      in.addData(row(1, 3, 3, value = 0.3))
      q.processAllAvailable()
      val sums = s.sql("select * from run order by id").as[RunningEmit].collect()
      assert(sums.map(_.run_sum).toSeq == Seq(0.1, 0.3, 0.6)) // 0.1+0.2+0.3 exact, not 0.6000000000000001
    } finally q.stop()
  }

  test("boundedRowsPrecedingPerKey: streaming across batches equals the batch scan") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // 12 rows, frame = ROWS 2 PRECEDING → window of 3; split mid-frame so
    // the rolling buffer must carry across micro-batches
    val rows = (1 to 12).map(i => row(1, i * 100L, i, value = i * 0.1))
    val in = MemoryStream[KeyedRow]
    val q = StatefulOps.boundedRowsPrecedingPerKey(in.toDS(), 2)
      .writeStream.format("memory").queryName("rowsb").outputMode("append").start()
    try {
      in.addData(rows.take(5): _*); q.processAllAvailable()
      in.addData(rows.slice(5, 7): _*); q.processAllAvailable()
      in.addData(rows.drop(7): _*); q.processAllAvailable()
      val streamed = s.sql("select * from rowsb").as[RunningEmit].collect()
        .sortBy(_.id).toSeq
      // the frame of row i is rows i-2..i, summed as exact decimals
      val expected = rows.indices.map { i =>
        RunningEmit(1, rows(i).id,
          rows.slice(math.max(0, i - 2), i + 1)
            .map(r => BigDecimal(r.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      }
      assert(streamed == expected, s"stream $streamed != $expected")
      assert(streamed.last.run_sum == 3.3) // exact decimal 1.0+1.1+1.2
    } finally q.stop()
  }

  test("boundedRangePrecedingPerKey: watermark-driven flush, peers + reordering ≡ batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val sec = 1000000L
    // peers at 30 s (ids 4 & 5 share the frame aggregate), a row arriving in
    // a LATER batch that is older than already-seen rows but inside the
    // 1000 s watermark delay (id 3 at 20 s after 30 s was seen), frame = 15 s
    val data = Seq(
      row(1, 10 * sec, 1, value = 1.0), row(1, 12 * sec, 2, value = 2.0),
      row(1, 30 * sec, 4, value = 4.0), row(1, 30 * sec, 5, value = 5.0),
      row(1, 20 * sec, 3, value = 3.0), // out-of-order across batches
      row(1, 40 * sec, 6, value = 6.0))
    val in = MemoryStream[KeyedRow]
    val q = StatefulOps.boundedRangePrecedingPerKey(in.toDS(), 15 * sec, "1000 seconds")
      .writeStream.format("memory").queryName("rangeb").outputMode("append").start()
    try {
      in.addData(data.take(4): _*); q.processAllAvailable()
      in.addData(data(4)); q.processAllAvailable()
      in.addData(data(5)); q.processAllAvailable()
      // sentinel on another key pushes the global watermark past 40 s + delay
      in.addData(row(99, 3000 * sec, 999, value = 0.0)); q.processAllAvailable()
      in.addData(row(99, 9000 * sec, 1000, value = 0.0)); q.processAllAvailable()
      val streamed = s.sql("select * from rangeb where key = 1").as[RunningEmit]
        .collect().sortBy(_.id).toSeq
      // frames: id 3 (20 s, arrived late) sees [5 s, 20 s] = 1+2+3; peers 4
      // & 5 share [15 s, 30 s] = 3+4+5; id 6 sees [25 s, 40 s] = 4+5+6
      assert(streamed == Seq(RunningEmit(1, 1, 1.0), RunningEmit(1, 2, 3.0),
        RunningEmit(1, 3, 6.0), RunningEmit(1, 4, 12.0), RunningEmit(1, 5, 12.0),
        RunningEmit(1, 6, 15.0)), s"stream $streamed")
    } finally q.stop()
  }

  test("dynamicGapSessions: a session spanning micro-batches emits exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val sec = 1000000L
    val in = MemoryStream[KeyedRow]
    // fixed 10 s gap through the dynamic extractor — the contiguity logic is
    // what's under test, not the gap function
    val q = StatefulOps.dynamicGapSessions(in.toDS(), _ => 10 * sec)
      .writeStream.format("memory").queryName("dyn").outputMode("append").start()
    try {
      in.addData(row(1, 1 * sec, 1, value = 5.0), row(1, 3 * sec, 2, value = 7.0))
      q.processAllAvailable()
      assert(s.sql("select * from dyn").count() == 0, "session still open")
      // batch 2 EXTENDS the open session (8 s is within 10 s of 3 s) — the
      // old batch-semantics operator emitted a fragment per micro-batch here
      in.addData(row(1, 8 * sec, 3, value = 2.0))
      q.processAllAvailable()
      assert(s.sql("select * from dyn").count() == 0, "extended session still open")
      // 60 s is > 10 s after 8 s: closes session 0, opens session 1
      in.addData(row(1, 60 * sec, 4, value = 1.0))
      q.processAllAvailable()
      // advance the watermark past 60 s + 10 s so the timeout closes session 1
      in.addData(row(2, 200 * sec, 9, value = 0.0))
      q.processAllAvailable()
      val k1 = s.sql("select * from dyn where key = 1 order by win_id")
        .as[CountWindowEmit].collect().toSeq
      assert(k1 == Seq(
        CountWindowEmit(1, 0, 3, 7.0, 3), // ids 1,2,3 — once, not per-batch fragments
        CountWindowEmit(1, 1, 1, 1.0, 4)))
      // a late row behind the watermark must not re-open session 0
      in.addData(row(1, 5 * sec, 99, value = 100.0))
      q.processAllAvailable()
      in.addData(row(2, 300 * sec, 98, value = 0.0))
      q.processAllAvailable()
      val after = s.sql("select * from dyn where key = 1").count()
      assert(after == 2, s"late row re-opened a closed session ($after rows)")
    } finally q.stop()
  }
}
