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

  /** `op` run as a StreamingQuery over [[batches]], then on the bounded
    * corpus: the two must be the same multiset of rows. */
  private def sameAsBounded[O <: Product : Encoder](op: Dataset[KeyedRow] => Dataset[O]): Unit = {
    val s = spark
    implicit val ctx = s.sqlContext
    val in = MemoryStream[KeyedRow]
    queries += 1
    val name = s"keyed_fold_$queries"
    val q = op(in.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val streamed = try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      s.table(name).as[O].collect().toSeq.filter(keyOf(_) != farKey)
    } finally q.stop()
    val bounded = op(corpus.toDS()).collect().toSeq
    assert(bounded.map(keyOf).distinct.size > 1, "the bounded run emitted for one key or none")
    assert(streamed.sortBy(_.toString) == bounded.sortBy(_.toString),
      s"stream-only ${streamed.diff(bounded).take(3)}, bounded-only ${bounded.diff(streamed).take(3)}")
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
}

object KeyedFoldSpec {
  private val sec = 1000000L
  private val farKey = 99L
  private def keyOf(o: Product): Long = o.productElement(0).asInstanceOf[Long]
}
