package graft

import org.apache.spark.metrics.source.CodegenMetrics

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
