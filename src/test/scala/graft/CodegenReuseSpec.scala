package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{Changelog, KeyedRow, StatefulOps, Triggers}

/** A generated class that this JVM already compiled must come out of
  * Spark's codegen cache, not out of Janino again ([[GraftSession]]'s
  * codegen bullet). One round of the `stream_iterative` benchmark rows
  * generates about 190 distinct classes, more than the 100 Spark's cache
  * keeps by default, so a repeated round recompiles unless the session
  * pins a larger cache. And a state encoder derived per call, or resolved
  * per plan, draws new lambda-variable ids, so its generated source — the
  * cache key — changes on every run unless it is built once
  * ([[streaming.StateEncoder]]). */
class CodegenReuseSpec extends SparkSpec {

  private val rows = Seq("fsql_stream_tumble", "cdc_pipeline", "cep_stream_error_burst",
    "graph_community", "dedup_minhash_lsh")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One round: every row built and collected, with the row's own result
    * caches dropped first, the way the benchmark runs a pass. Returns the
    * sorted rows and the compiles each row paid. */
  private def round(): Seq[(String, Seq[String], Long)] = rows.map { name =>
    ResultCaches.dropAll()
    val before = compiles
    val out = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
    (name, out, compiles - before)
  }

  /** The keyed folds whose state holds a `Vector` or goes through a
    * codec, each run as a StreamingQuery over a few micro-batches. Returns
    * the compiles each fold's query paid. */
  private def foldRound(round: Int): Seq[(String, Long)] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sec = 1000000L
    val rows = (1 to 40).map(j => KeyedRow(j % 3, j * sec, j, "a", (j * 7 % 13).toDouble))
    val folds: Seq[(String, Dataset[KeyedRow] => Dataset[_])] = Seq(
      "boundedRowsPrecedingPerKey" -> (StatefulOps.boundedRowsPrecedingPerKey(_, 3)),
      "boundedRangePrecedingPerKey" -> (StatefulOps.boundedRangePrecedingPerKey(_, 5 * sec)),
      "countSlidingWindows" -> (StatefulOps.countSlidingWindows(_, 4, 2)),
      "temporalSort" -> (StatefulOps.temporalSort(_)),
      "triggeredTumbleWindows" -> (Triggers.triggeredTumbleWindows(_, 10 * sec,
        Triggers.EventTimeTriggerOnly, Triggers.CountEvictor(2))),
      "retractableTopN" -> (r => Changelog.retractableTopN(Changelog.keyedChangelog(r)
        .map(c => c.copy(key = c.key % 2, id = c.key)), 2)))
    folds.map { case (name, op) =>
      val in = MemoryStream[KeyedRow]
      val before = compiles
      val q = op(in.toDS()).writeStream.format("memory").queryName(s"fold_reuse_${name}_$round")
        .outputMode("append").start()
      try rows.grouped(10).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      name -> (compiles - before)
    }
  }

  test("a repeated streaming run of the keyed folds compiles no class") {
    val first = foldRound(1)
    val second = foldRound(2)
    val recompiled = second.collect { case (n, c) if c > 0 => s"$n: $c" }
    assert(recompiled.isEmpty, s"second run compiled ${recompiled.mkString(", ")} " +
      s"(first run ${first.map(_._2).sum})")
  }

  test("a repeated round of the stream_iterative rows compiles no class") {
    val first = round()
    val second = round()
    val recompiled = second.collect { case (n, _, c) if c > 0 => s"$n: $c" }
    assert(recompiled.isEmpty,
      s"second round compiled ${second.map(_._3).sum} classes " +
        s"(first round ${first.map(_._3).sum}): ${recompiled.mkString(", ")}")
    first.zip(second).foreach { case ((n, a, _), (_, b, _)) =>
      assert(a == b, s"$n returned different rows on its second run")
      assert(a.nonEmpty, s"$n returned no rows")
    }
  }
}
