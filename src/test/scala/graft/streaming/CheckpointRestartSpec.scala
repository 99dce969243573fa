package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Checkpoint/restore across a QUERY RESTART — the reference's
  * checkpoint-and-resume contract (a stopped job restarted from its
  * checkpoint continues exactly where it left off, with operator state
  * intact). Two properties:
  *  1. exactly-once input: files consumed before the stop are not
  *     reprocessed by the restarted query;
  *  2. state continuity: a window OPEN at the stop accumulates rows from
  *     both sides of the restart and emits ONE combined row.
  */
class CheckpointRestartSpec extends SparkSpec {

  test("stateful window aggregation resumes from checkpoint with open-window state intact") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt_restart").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = "ts TIMESTAMP, k STRING, v LONG"

    def startQuery() = s.readStream.schema(schema).json(s"$in/*")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 seconds").as("w"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("w.start").as("w_start"), col("k"), col("n"), col("sv"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    def addFile(name: String, rows: String*): Unit =
      rows.toSeq.toDF("value").coalesce(1)
        .write.mode("append").text(s"$in/$name")

    // phase 1: window [0,10) closes (watermark from t=15); [10,20) stays
    // OPEN with one row of state when the query stops
    val q1 = startQuery()
    try {
      addFile("f1",
        """{"ts":"1970-01-01T00:00:01Z","k":"a","v":1}""",
        """{"ts":"1970-01-01T00:00:04Z","k":"a","v":2}""",
        """{"ts":"1970-01-01T00:00:15Z","k":"a","v":10}""")
      q1.processAllAvailable()
    } finally q1.stop()
    val afterPhase1 = s.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(afterPhase1 == Set((0L, "a", 2L, 3L)),
      s"phase 1 must emit only the closed [0,10) window, got $afterPhase1")

    // phase 2: a NEW query from the same checkpoint — t=16 joins the
    // restored [10,20) state, t=100 closes it
    val q2 = startQuery()
    try {
      addFile("f2",
        """{"ts":"1970-01-01T00:00:16Z","k":"a","v":20}""",
        """{"ts":"1970-01-01T00:01:40Z","k":"z","v":0}""")
      q2.processAllAvailable()
    } finally q2.stop()

    val finalRows = s.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // [0,10) exactly once (no reprocessing of f1), and [10,20) as ONE row
    // combining the pre-stop t=15 and post-restart t=16 contributions
    assert(finalRows == Set((0L, "a", 2L, 3L), (10L, "a", 2L, 30L)),
      s"restart must continue, not recompute: $finalRows")
  }

  test("custom emission-log accumulator (flatMapGroupsWithState) survives the restart") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("ckpt_emit").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = "ts TIMESTAMP, k STRING, v DOUBLE"

    def startQuery() = {
      val src = s.readStream.schema(schema).json(s"$in/*")
        .withWatermark("ts", "0 seconds")
      graft.sql.StreamingEmit.tumble(s, src, "ts",
        widthUs = 30000000L, delayUs = 10000000L, groupCols = Seq("k"),
        aggs = Seq(("COUNT", "*", "n"), ("SUM", "v", "sv")),
        wsAlias = "w_start", tiebreak = None)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    def addFile(name: String, rows: String*): Unit = {
      import s.implicits._
      rows.toSeq.toDF("value").coalesce(1).write.mode("append").text(s"$in/$name")
    }

    // phase 1: two rows in delay-bucket 0 of window [0,30) — the Accum
    // (n=2, prevBidx=0) is checkpointed state, nothing emitted yet
    val q1 = startQuery()
    try {
      addFile("f1",
        """{"ts":"1970-01-01T00:00:01Z","k":"a","v":1.0}""",
        """{"ts":"1970-01-01T00:00:04Z","k":"a","v":2.0}""")
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!new java.io.File(out).exists() ||
      s.read.parquet(out).count() == 0L, "no fire can precede a bucket crossing")

    // phase 2 (restarted): t=12 crosses into bucket 1 — the early fire
    // counts the RESTORED rows (n=3); t=25 flushes it and buffers the
    // terminal, closed by the watermark row
    val q2 = startQuery()
    try {
      addFile("f2",
        """{"ts":"1970-01-01T00:00:12Z","k":"a","v":10.0}""",
        """{"ts":"1970-01-01T00:00:25Z","k":"a","v":20.0}""",
        """{"ts":"1970-01-01T00:01:40Z","k":"z","v":0.0}""")
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = s.read.parquet(out).filter(col("k") === "a")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("fire_time").getTime / 1000,
        r.getAs[Long]("n"), r.getAs[Double]("sv"), r.getAs[Boolean]("is_final")))
      .toSet
    assert(rows == Set((20L, 3L, 13.0, false), (30L, 4L, 33.0, true)),
      s"early fire must include pre-restart state, terminal the full window: $rows")
  }

  test("the streaming PREV ring survives a restart and a replay") {
    // orderedWithNav without lookahead — MATCH_RECOGNIZE's PREV relay —
    // through the exactly-once file sink, as runStream relays it
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt_nav").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = "key LONG, ts LONG, id LONG, kind STRING, value DOUBLE"
    def startQuery() = Cep.orderedWithNav(
        s.readStream.schema(schema).json(s"$in/*").as[KeyedRow],
        prevDepth = 2, nextDepth = 0)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def addFile(name: String, rows: String*): Unit =
      rows.toSeq.toDF("value").coalesce(1).write.mode("append").text(s"$in/$name")
    // phase 1: the ring accumulates ids 1,2
    val q1 = startQuery()
    try {
      addFile("f1",
        """{"key":1,"ts":1000000,"id":1,"kind":"a","value":1.0}""",
        """{"key":1,"ts":2000000,"id":2,"kind":"b","value":2.0}""")
      q1.processAllAvailable()
    } finally q1.stop()
    // forced replay: drop the newest commit (a crash after the sink wrote
    // batch n, before the commit log recorded it) so the restarted query
    // runs batch n again
    val commits = new java.io.File(s"$ckpt/commits")
    val newest = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    // the replayed batch is one that wrote rows: its sink log entry lists files
    assert(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$out/_spark_metadata/$newest")).size > 1,
      s"batch $newest emitted nothing — the replay would prove nothing")
    new java.io.File(commits, newest.toString).delete()
    new java.io.File(commits, s".$newest.crc").delete()
    // phase 2: a NEW query from the same checkpoint — the post-restart row
    // must see the PRE-restart rows as its PREV ring
    val q2 = startQuery()
    try {
      addFile("f2", """{"key":1,"ts":3000000,"id":3,"kind":"c","value":3.0}""")
      q2.processAllAvailable()
      addFile("f3", """{"key":1,"ts":9000000,"id":9,"kind":"z","value":0.0}""")
      q2.processAllAvailable()
    } finally q2.stop()
    assert(new java.io.File(commits, newest.toString).exists(),
      s"batch $newest must have run again")
    val rows = s.read.parquet(out).as[Cep.NavRowN].collect().toSeq
    val r3 = rows.find(_.id == 3).getOrElse(fail(s"row 3 never emitted: $rows"))
    assert(r3.prev_kind == Seq("b", "a"),
      s"the ring must survive the restart: $rows")
    // exactly-once: pre-restart rows are not re-emitted
    assert(rows.count(_.id == 1) == 1 && rows.count(_.id == 2) == 1)
    // no lookahead: nothing is held, every next_* ring is empty
    assert(rows.forall(r => r.next_ts.isEmpty && r.next_kind.isEmpty && r.next_value.isEmpty))
    // the replayed batch leaves every row exactly once in the read-back
    assert(rows.groupBy(_.id).forall(_._2.size == 1), s"replay duplicated rows: $rows")
  }

  test("the end-of-input flush replays exactly once after a restart") {
    // MATCH_RECOGNIZE's NEXT relay: orderedWithNav with lookahead and the
    // end marker, through the exactly-once file sink, as runStream relays it
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt_end").toString
    val in = s"$root/in"; val out = s"$root/out"; val end = s"$root/out.end"
    Seq(KeyedRow(1, 1000000, 1, "a", 1.0), KeyedRow(1, 2000000, 2, "b", 2.0),
        KeyedRow(1, 3000000, 3, "c", 3.0), KeyedRow(2, 1500000, 4, "d", 4.0))
      .toDS().coalesce(1).write.parquet(in)
    def run(): Unit = graft.RelayDir.sink(Cep.orderedWithNav(Bounded.withEnd(
        s.readStream.schema(org.apache.spark.sql.Encoders.product[KeyedRow].schema)
          .parquet(in).as[KeyedRow], end), prevDepth = 1, nextDepth = 1).toDF(),
      out, Some(end))
    run()
    // without the end marker rows 3 and 4 (each key's last) stay held; the
    // batch after the sentinel's emits them — drop its commit (a crash
    // after the sink wrote it, before the commit log recorded it)
    val commits = new java.io.File(s"$out.ckpt/commits")
    val newest = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    val flushed = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/_spark_metadata/$newest"))
    assert(flushed.size > 1, s"batch $newest emitted nothing — the replay would prove nothing")
    new java.io.File(commits, newest.toString).delete()
    new java.io.File(commits, s".$newest.crc").delete()
    run()
    assert(new java.io.File(commits, newest.toString).exists(),
      s"batch $newest must have run again")
    val rows = s.read.parquet(out).as[Cep.NavRowN].collect().toSeq
    assert(!rows.exists(_.key == Bounded.EndKey), s"sentinel leaked: $rows")
    assert(rows.map(_.id).sorted == Seq(1L, 2L, 3L, 4L), s"each row exactly once: $rows")
    assert(rows.filter(r => r.id == 3 || r.id == 4).forall(_.next_ts.isEmpty))
  }

  test("round 10: the CEP NFA resumes MID-PATTERN from checkpoint") {
    // two errors of an errorBurst (e1,e2,e3 strict) are consumed before the
    // stop — the partial Run (nextStep=2, matched ids, prevId bookkeeping)
    // lives ONLY in CepState; the restarted query's third error must
    // complete exactly that run. Proves the NFA state (List[Run]/pending/
    // holds) round-trips through the state store across a real restart.
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt_cep").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.Encoders.product[KeyedRow].schema

    def startQuery() = Cep.matchStream(
        s.readStream.schema(schema).json(s"$in/*").as[KeyedRow], Cep.errorBurst)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def addFile(name: String, rows: String*): Unit =
      rows.toSeq.toDF("value").coalesce(1).write.mode("append").text(s"$in/$name")

    // phase 1: key 1's two errors, released by key 99's far-future flusher
    // (the global watermark) — the run is mid-pattern when the query stops
    val q1 = startQuery()
    try {
      addFile("f1",
        """{"key":1,"ts":1000000,"id":1,"kind":"error","value":0.0}""",
        """{"key":1,"ts":2000000,"id":2,"kind":"error","value":0.0}""",
        """{"key":99,"ts":60000000,"id":1000,"kind":"ok","value":0.0}""")
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!new java.io.File(out).exists() ||
      s.read.parquet(out).isEmpty, "no match may emit before the third error")

    // phase 2: the third error (ts above the restored watermark, so it is
    // not late-dropped), then a flusher to release it
    val q2 = startQuery()
    try {
      addFile("f2",
        """{"key":1,"ts":61000000,"id":3,"kind":"error","value":0.0}""",
        """{"key":99,"ts":120000000,"id":1001,"kind":"ok","value":0.0}""")
      q2.processAllAvailable()
    } finally q2.stop()
    val matches = s.read.parquet(out).as[Cep.Match].collect().toSeq
    assert(matches.map(m => (m.key, m.ids)) == Seq((1L, Seq(1L, 2L, 3L))),
      s"the pre-restart partial run must complete exactly once: $matches")
  }

  test("round 11: bounded-RANGE OVER pending groups + frame survive a restart") {
    // the RangeOverState holds (a) the PENDING newest timestamp group (held
    // until the watermark passes it) and (b) already-emitted frame rows
    // still inside the horizon. Both must round-trip the checkpoint: the
    // post-restart flush of the pre-restart pending group must emit, and a
    // post-restart row's frame must include PRE-restart rows.
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt_range").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.Encoders.product[KeyedRow].schema
    val sec = 1000000L

    def startQuery() = StatefulOps.boundedRangePrecedingPerKey(
        s.readStream.schema(schema).json(s"$in/*").as[KeyedRow],
        rangeUs = 15 * sec, watermarkDelay = "1000 seconds")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def addFile(name: String, rows: String*): Unit =
      rows.toSeq.toDF("value").coalesce(1).write.mode("append").text(s"$in/$name")

    // phase 1: rows at 10 s and 20 s — both pending (the watermark delay
    // holds them), NOTHING emitted before the stop
    val q1 = startQuery()
    try {
      addFile("f1",
        s"""{"key":1,"ts":${10 * sec},"id":1,"kind":"a","value":1.0}""",
        s"""{"key":1,"ts":${20 * sec},"id":2,"kind":"a","value":2.0}""")
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!new java.io.File(out).exists() || s.read.parquet(out).isEmpty,
      "the watermark has not passed any group — nothing may emit pre-restart")

    // phase 2 (restarted): a row at 30 s (frame [15 s, 30 s] must see the
    // RESTORED 20 s row but not the evicted 10 s one), then a far-future
    // sentinel key drives the watermark past everything
    val q2 = startQuery()
    try {
      addFile("f2", s"""{"key":1,"ts":${30 * sec},"id":3,"kind":"a","value":4.0}""")
      q2.processAllAvailable()
      addFile("f3", s"""{"key":9,"ts":${9000 * sec},"id":99,"kind":"z","value":0.0}""")
      q2.processAllAvailable()
      addFile("f4", s"""{"key":9,"ts":${99000 * sec},"id":100,"kind":"z","value":0.0}""")
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = s.read.parquet(out).filter(col("key") === 1L).as[RunningEmit]
      .collect().sortBy(_.id).toSeq
    assert(rows == Seq(
      RunningEmit(1, 1, 1.0),   // pre-restart pending group, flushed after restore
      RunningEmit(1, 2, 3.0),   // frame [5 s, 20 s] = 1.0 + 2.0
      RunningEmit(1, 3, 6.0)),  // frame [15 s, 30 s] = restored 2.0 + 4.0 (10 s evicted)
      s"pending groups and frame rows must survive the restart: $rows")
  }

  test("round 10: retractable Top-N promotes a pre-restart HIDDEN row after restore") {
    // the ordered-index state is the key's FULL (id -> value) map, not just
    // the visible top-N: a post-restart retraction of a top occupant must
    // promote a row that was below the cut BEFORE the restart — possible
    // only if the whole map survived the checkpoint round-trip.
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt_topn").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.Encoders.product[Changelog.Change].schema

    def startQuery() = Changelog.retractableTopN(
        s.readStream.schema(schema).json(s"$in/*").as[Changelog.Change], 3)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def addFile(name: String, rows: String*): Unit =
      rows.toSeq.toDF("value").coalesce(1).write.mode("append").text(s"$in/$name")

    val q1 = startQuery()
    try {
      addFile("f1",
        """{"kind":"+I","key":7,"id":1,"ts":1,"value":50.0}""",
        """{"kind":"+I","key":7,"id":2,"ts":2,"value":40.0}""",
        """{"kind":"+I","key":7,"id":3,"ts":3,"value":30.0}""",
        """{"kind":"+I","key":7,"id":4,"ts":4,"value":20.0}""") // hidden: rank 4
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = startQuery()
    try {
      addFile("f2", """{"kind":"-D","key":7,"id":2,"ts":5,"value":40.0}""")
      q2.processAllAvailable()
    } finally q2.stop()

    // the parquet read-back is unordered across the two run's files; the
    // fold contract is per-key seq order
    val log = s.read.parquet(out).as[Changelog.RankChange].collect().toSeq
      .sortBy(_.seq)
    val folded = Changelog.applyRankChanges(log)
    assert(folded == Map(
      (7L, 1) -> (1L, 50.0),  // untouched
      (7L, 2) -> (3L, 30.0),  // id 3 moves up
      (7L, 3) -> (4L, 20.0)), // the PRE-RESTART hidden row fills rank 3
      s"restored map must include below-the-cut rows: $folded\nlog: $log")
  }

  test("the CDC upsert sink continues its table across a restart and replays idempotently") {
    // the rank-table sink finds the snapshot to merge into ON DISK, not in
    // a driver-side var: batch 1 runs on a FRESH sink instance (what a
    // query restarted from its checkpoint gets) and must keep batch 0's
    // untouched slots
    val s = spark
    import s.implicits._
    import Changelog.RankChange
    val root = java.nio.file.Files.createTempDirectory("ckpt_cdc_sink").toString
    val table = s"$root/rank_table"
    def read(): Set[(Long, Int, Long, Double)] =
      s.read.parquet(Changelog.latestSnapshot(s, table, Long.MaxValue).get)
        .as[(Long, Int, Long, Double)].collect().toSet

    val batch0 = Seq(
      RankChange("+I", 0L, 1, 7L, 50.0, 1L),
      RankChange("+I", 0L, 2, 3L, 40.0, 2L),
      RankChange("+I", 0L, 3, 5L, 30.0, 3L))
    Changelog.rankTableSink(table)(batch0.toDS(), 0L)
    assert(read() == Set((0L, 1, 7L, 50.0), (0L, 2, 3L, 40.0), (0L, 3, 5L, 30.0)))

    // rank 2's occupant changes; rank 3 empties
    val batch1 = Seq(
      RankChange("-U", 0L, 2, 3L, 40.0, 4L),
      RankChange("+U", 0L, 2, 9L, 45.0, 5L),
      RankChange("-D", 0L, 3, 5L, 30.0, 6L))
    val expected = Set((0L, 1, 7L, 50.0), (0L, 2, 9L, 45.0))
    Changelog.rankTableSink(table)(batch1.toDS(), 1L)
    assert(read() == expected, "batch 0's untouched rank 1 must survive the restart")
    // a replay of batch 1 (crash after the sink, before the commit log)
    // rewrites v1 from v0 — same table, nothing applied twice
    Changelog.rankTableSink(table)(batch1.toDS(), 1L)
    assert(read() == expected)
    assert(Changelog.latestSnapshot(s, table, 1L).exists(_.endsWith("/v0")))
    // an uncommitted (crash-truncated) snapshot is never merged into
    new java.io.File(s"$table/v5").mkdirs()
    assert(Changelog.latestSnapshot(s, table, 9L).exists(_.endsWith("/v1")))
  }
}
