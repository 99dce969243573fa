package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Stream ≡ batch for every [[KeyedFold]] operator: each is written once,
  * and its streaming driver (state across micro-batches) must emit exactly
  * what its bounded driver (the sorted scan) emits. Seeded multi-key rows
  * arrive through a MemoryStream in four micro-batches, in (ts, id) order,
  * cut between distinct timestamps so same-timestamp peers share a batch.
  * A last batch holds one far-future row on another key: it moves the
  * watermark past every open RANGE group and session, as the end of a
  * bounded input does; its own output is left out of the comparison. */
class KeyedFoldSpec extends SparkSpec {
  import KeyedFoldSpec._
  import spark.implicits._

  private val corpus: Seq[KeyedRow] = {
    val r = new scala.util.Random(20261020L)
    val perKey = (1 to 6).map { k =>
      var t = 1000L * sec
      (0 until 30 + r.nextInt(20)).map { i =>
        if (i == 0 || r.nextInt(4) != 0) t += (1 + r.nextInt(200)) * sec // else a peer
        (k.toLong, t, if (r.nextBoolean()) "a" else "b", (r.nextInt(20000) + 1) / 100.0)
      }
    }
    perKey.flatten.sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case ((k, t, kind, v), i) => KeyedRow(k, t, i + 1L, kind, v) }
  }

  private val batches: Seq[Seq[KeyedRow]] = {
    val byTs = corpus.groupBy(_.ts).toSeq.sortBy(_._1).map(_._2)
    byTs.grouped((byTs.size + 3) / 4).map(_.flatten).toSeq :+
      Seq(KeyedRow(farKey, corpus.map(_.ts).max + 100000L * sec, 0L, "z", 0.0))
  }

  private var queries = 0

  /** `op` run as a StreamingQuery over `batches`, then on the bounded
    * `corpus`; returns both outputs, the stream's without `farKey`'s rows,
    * each in the order its query emitted it. */
  private def streamAndBounded[I <: Product : Encoder, O <: Product : Encoder](
      op: Dataset[I] => Dataset[O], corpus: Seq[I], batches: Seq[Seq[I]],
      keyOf: O => Long): (Seq[O], Seq[O]) = {
    val s = spark
    implicit val ctx = s.sqlContext
    val in = MemoryStream[I]
    queries += 1
    val name = s"keyed_fold_$queries"
    val q = op(in.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val streamed = try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      s.table(name).as[O].collect().toSeq.filter(keyOf(_) != farKey)
    } finally q.stop()
    val bounded = op(s.createDataset(corpus)).collect().toSeq
    assert(bounded.map(keyOf).distinct.size > 1, "the bounded run emitted for one key or none")
    (streamed, bounded)
  }

  private def assertSame[O](streamed: Seq[O], bounded: Seq[O]): Unit =
    assert(streamed.sortBy(_.toString) == bounded.sortBy(_.toString),
      s"stream-only ${streamed.diff(bounded).take(3)}, bounded-only ${bounded.diff(streamed).take(3)}")

  /** `op` over [[batches]] as a stream and on the bounded [[corpus]]: the
    * two must be the same multiset of rows. */
  private def sameAsBounded[O <: Product : Encoder](op: Dataset[KeyedRow] => Dataset[O]): Unit = {
    val (streamed, bounded) = streamAndBounded(op, corpus, batches, keyOf)
    assertSame(streamed, bounded)
  }

  test("the micro-batches cut between timestamps and hold every row in (ts, id) order") {
    assert(batches.size == 5 && batches.init.forall(_.nonEmpty))
    assert(batches.flatten.map(r => (r.ts, r.id)) == batches.flatten.map(r => (r.ts, r.id)).sorted)
    batches.sliding(2).foreach { case Seq(a, b) => assert(a.map(_.ts).max < b.map(_.ts).min) }
    assert(corpus.groupBy(r => (r.key, r.ts)).exists(_._2.size > 1), "no same-timestamp peers")
  }

  test("runningSumPerKey: a stream in micro-batches equals the bounded run") {
    sameAsBounded(StatefulOps.runningSumPerKey)
  }

  test("boundedRowsPrecedingPerKey: a stream in micro-batches equals the bounded run") {
    sameAsBounded(StatefulOps.boundedRowsPrecedingPerKey(_, 3))
  }

  test("boundedRangePrecedingPerKey: a stream in micro-batches equals the bounded run") {
    sameAsBounded(StatefulOps.boundedRangePrecedingPerKey(_, 300 * sec))
  }

  test("countTumblingWindows: a stream in micro-batches equals the bounded run") {
    sameAsBounded(StatefulOps.countTumblingWindows(_, 4))
  }

  test("countSlidingWindows: a stream in micro-batches equals the bounded run") {
    sameAsBounded(StatefulOps.countSlidingWindows(_, 5, 2))
  }

  test("dynamicGapSessions: a stream in micro-batches equals the bounded run") {
    sameAsBounded(StatefulOps.dynamicGapSessions(_,
      r => if (r.value < 100) 60 * sec else 150 * sec))
  }

  test("triggeredTumbleWindows: a stream in micro-batches equals the bounded run") {
    import Triggers._
    sameAsBounded(triggeredTumbleWindows(_, 600 * sec, CountTrigger(3), CountEvictor(2)))
    sameAsBounded(triggeredTumbleWindows(_, 600 * sec,
      DeltaTrigger(50.0, (a, b) => math.abs(b.value - a.value)), TimeEvictor(120 * sec)))
  }

  test("triggeredTumbleWindows: a quiet key's last pane fires on the watermark under the event-time triggers") {
    import Triggers._
    // key 1 has panes at 0 s and 600 s, key 2 one pane at 0 s; neither
    // sees a later-window row, so only the watermark (the far-future row
    // on key 99) can close their last panes, as the end of a bounded
    // input does
    val quiet = Seq(KeyedRow(1, 10 * sec, 1, "a", 5.0), KeyedRow(1, 20 * sec, 2, "a", 7.0),
      KeyedRow(2, 30 * sec, 3, "a", 3.0), KeyedRow(1, 350 * sec, 4, "a", 2.0),
      KeyedRow(1, 610 * sec, 5, "a", 4.0))
    val far = KeyedRow(farKey, 100000 * sec, 6, "z", 0.0)
    val quietBatches = Seq(quiet.take(3), quiet.drop(3), Seq(far))
    Seq(EventTimeTriggerOnly, ContinuousEventTimeTrigger(300 * sec)).foreach { trigger =>
      val (streamed, bounded) = streamAndBounded[KeyedRow, TriggerEmit](
        triggeredTumbleWindows(_, 600 * sec, trigger, NoEvictor), quiet, quietBatches, _.key)
      assert(bounded.map(e => (e.key, e.win_start)).distinct.size == 3, s"$trigger: $bounded")
      assertSame(streamed, bounded)
    }
  }

  test("keyedChangelog: a stream in micro-batches equals the bounded run") {
    val (streamed, bounded) = streamAndBounded(Changelog.keyedChangelog, corpus, batches,
      (_: Changelog.Change).key)
    assertSame(streamed, bounded)
  }

  test("retractingAgg: a stream of changes in micro-batches equals the bounded run") {
    // the upsert changelog of the corpus, every change stamped with the
    // time of the row that made it, so the micro-batches cut between
    // timestamps; values in micros
    val last = scala.collection.mutable.Map.empty[Long, KeyedRow]
    def change(kind: String, r: KeyedRow, at: Long) =
      Changelog.Change(kind, r.key, r.id, at, math.round(r.value * 1e6).toDouble)
    val changesOf: Map[Long, Seq[Changelog.Change]] = corpus.map { r =>
      val out = last.get(r.key) match {
        case None => Seq(change("+I", r, r.ts))
        case Some(prev) => Seq(change("-U", prev, r.ts), change("+U", r, r.ts))
      }
      last(r.key) = r
      r.id -> out
    }.toMap
    val changeBatches = batches.init.map(_.flatMap(r => changesOf(r.id)))
    val (streamed, bounded) = streamAndBounded[Changelog.Change, Changelog.Change](
      Changelog.retractingAgg, changeBatches.flatten, changeBatches, _.id)
    assertSame(streamed, bounded)
  }

  test("keyedChangelog → retractableTopN: a stream in micro-batches folds to the bounded rank table") {
    // three cells per ranking key; a retraction carries its row's own
    // (earlier) ts, so the logs differ in order across splits — the
    // folded rank tables must not. One row per (cell, ts): two changes of
    // one cell at one ts would tie in the rank order.
    def topN(rows: Dataset[KeyedRow]): Dataset[Changelog.RankChange] =
      Changelog.retractableTopN(Changelog.keyedChangelog(rows)
        .map(c => c.copy(key = c.key % 2, id = c.key)), 2)
    def firstPeer(rs: Seq[KeyedRow]) =
      rs.filter(r => corpus.find(x => x.key == r.key && x.ts == r.ts).contains(r))
    val cells = firstPeer(corpus)
    val (streamed, bounded) = streamAndBounded(topN, cells, batches.init.map(firstPeer),
      (_: Changelog.RankChange).key)
    def table(log: Seq[Changelog.RankChange]) = Changelog.applyRankChanges(log.sortBy(c => (c.key, c.seq)))
    val lastPerCell = cells.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(r => (r.ts, r.id)).value }
    val expected = lastPerCell.toSeq.groupBy(_._1 % 2).flatMap { case (rk, cells) =>
      cells.sortBy { case (cell, v) => (-v, cell) }.take(2).zipWithIndex
        .map { case ((cell, v), i) => (rk, i + 1) -> ((cell, v)) }
    }
    assert(table(bounded) == expected)
    assert(table(streamed) == expected)
  }

  test("temporalSort: a stream in micro-batches equals the bounded run, each key in (ts, id) order") {
    val (streamed, bounded) = streamAndBounded[KeyedRow, KeyedRow](
      StatefulOps.temporalSort(_), corpus, batches, _.key)
    assertSame(streamed, bounded)
    val want = corpus.groupBy(_.key).map { case (k, rs) => k -> rs.sortBy(r => (r.ts, r.id)) }
    Seq("stream" -> streamed, "bounded" -> bounded).foreach { case (side, out) =>
      assert(out.groupBy(_.key) == want, s"$side: a key's rows are out of (ts, id) order")
    }
  }
}

object KeyedFoldSpec {
  private val sec = 1000000L
  private val farKey = 99L
  private def keyOf(o: Product): Long = o.productElement(0).asInstanceOf[Long]
}
