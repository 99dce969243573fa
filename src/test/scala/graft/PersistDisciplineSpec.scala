package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Guards the honest-cold bench discipline (round 9's warm-sample bug):
  * Bench drops every [[ResultCaches]]-registered RESULT cache between
  * samples, so a query that persists its result WITHOUT registering it
  * silently reintroduces warm min-of-2 numbers — the exact contamination
  * that invalidated the first sf10 dedup/ANN claims.
  *
  * The gate is a source scan: every `.persist(`/`.cache(` call site in
  * main source must be accounted for here, classified as either
  *   - RESULT: the query's own output, persisted for a consumer — MUST
  *     flow through `ResultCaches.register` (Dedup.releasing,
  *     CorpusOps.lshTopK are the two current owners), or
  *   - RELEASED: an intermediate unpersisted before the query returns
  *     (the `releasing(...)` discipline / explicit unpersist), or
  *   - INPUT fixture: deliberately session-lived shared input (graph edge
  *     caches, StatementSet's shared scan) — amortizing INPUTS across a
  *     workload is a deployment assumption; reusing a query's own result
  *     is not, so these may stay warm.
  *
  * Adding a persist site anywhere fails this spec until the site is
  * classified below — the author must consciously decide whether it needs
  * registration, which is the property VERDICT r9 asked to pin.
  */
class PersistDisciplineSpec extends AnyFunSuite {

  /** file (relative to src/main/scala/graft) -> expected persist/cache
    * call-site count, with the classification of each site. */
  private val classified: Map[String, Int] = Map(
    // RESULT ×1 (releasing()'s out, registered at Dedup.scala:77),
    // RELEASED ×2 (semantic's tagged/dvec, passed to `releasing(...)`) —
    //   the other former intermediates are eager localCheckpoints since
    //   r16 (lineage truncation; reclaimed by the ContextCleaner)
    "pipeline/Dedup.scala" -> 3,
    // RELEASED ×1 (lshTopK's vector cache `e`, unpersisted in-query),
    // RESULT ×1 (lshTopK's ranked result, registered at CorpusOps.scala:349)
    "pipeline/CorpusOps.scala" -> 2,
    // RELEASED ×1 (multi-sink shared scan: persisted for the statement
    //   set's sinks, unpersisted in the execute's finally)
    "sql/StatementSet.scala" -> 1,
    // (round 11: the multi-column partition surrogate key map is now an
    //   eager localCheckpoint — pinned values, severed lineage — instead of
    //   a registered persist, so no classified site remains here)
    // INPUT ×2 (the per-(session,dir) shared edge cache and undirected+deg
    //   cache, consumed by many graph_* queries — dropped via dropCaches),
    //   (r17: pagerank's `linked` layout and HITS' dst-keyed copy are GONE —
    //   both algorithms now aggregate on the shared cache's own layout)
    "graph/Graphs.scala" -> 2,
    // RELEASED ×2 (stream_iterate_components' per-round feedback frame and
    //   the seed frame: each persisted so count+sized-write execute the
    //   expansion exactly once, then unpersisted in the same scope — r16/r17)
    "streaming/Iterations.scala" -> 2,
  )

  import PersistDisciplineSpec.{root, siteCounts}
  private val siteRe = """\.(persist|cache)\(""".r

  test("every persist/cache call site in main source is classified") {
    val found = siteCounts(siteRe)
    val unlisted = found.keySet -- classified.keySet
    assert(unlisted.isEmpty,
      s"unclassified persist/cache sites in $unlisted — classify them here " +
        "and decide ResultCaches.register (see scaladoc)")
    val gone = classified.keySet -- found.keySet
    assert(gone.isEmpty, s"classified files no longer persist: $gone — prune the map")
    found.foreach { case (file, n) =>
      assert(n == classified(file),
        s"$file has $n persist/cache sites, classification says ${classified(file)} — " +
          "re-classify (a NEW site must decide ResultCaches.register)")
    }
  }

  test("the RESULT-cache owners still register") {
    Seq("pipeline/Dedup.scala", "pipeline/CorpusOps.scala").foreach { f =>
      val src = scala.io.Source.fromFile(new File(root, f), "UTF-8")
      val text = try src.mkString finally src.close()
      assert(text.contains("ResultCaches.register"),
        s"$f persists a query RESULT but no longer registers it — Bench's " +
          "between-sample drop would record warm numbers")
    }
  }
}

object PersistDisciplineSpec {
  val root = new File("src/main/scala/graft")

  private def scalaFiles(dir: File): Seq[File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(scalaFiles)
  }

  /** file (relative to [[root]]) -> number of `siteRe` matches, for every
    * main source file with at least one. */
  def siteCounts(siteRe: scala.util.matching.Regex): Map[String, Int] =
    scalaFiles(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try siteRe.findAllIn(src.mkString).size finally src.close()
      if (n == 0) None
      else Some(f.getPath.replace("src/main/scala/graft/", "").replace('\\', '/') -> n)
    }.toMap
}
