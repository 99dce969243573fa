package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The fold operators' per-row logic exists once, as a
  * [[graft.streaming.KeyedFold]]: `streaming/KeyedFold.scala` is the one
  * place that drives a fold on the sorted scan or on
  * `flatMapGroupsWithState`. A `*Batch` twin on `SortedScan.perKeyOrdered`
  * or a streaming twin on `flatMapGroupsWithState` in `StatefulOps`,
  * `Triggers` or `Changelog` fails this source scan. */
class KeyedFoldDisciplineSpec extends AnyFunSuite {
  import PersistDisciplineSpec.{root, siteCounts}

  private val folds = Map(
    "streaming/StatefulOps.scala" -> Seq("runningSumPerKey", "boundedRowsPrecedingPerKey",
      "boundedRangePrecedingPerKey", "countTumblingWindows", "countSlidingWindows",
      "dynamicGapSessions", "temporalSort"),
    "streaming/Triggers.scala" -> Seq("triggeredTumbleWindows"),
    "streaming/Changelog.scala" -> Seq("keyedChangelog", "keyedChangelogMiniBatch",
      "retractingAgg", "retractingAggMiniBatch", "retractableTopN"))
  // StatefulOps' operators that are not folds keep their own state shapes:
  // the Update-mode Top-N and dedup, the processing-time TTL dedup, outer
  // join and late-side-output window, and the two temporal joins
  private val otherStatefulOps = 7

  private def source(f: String): String = {
    val src = scala.io.Source.fromFile(new File(root, f), "UTF-8")
    try src.mkString finally src.close()
  }

  test("the keyed folds have one driver: no scan or flatMapGroupsWithState twin") {
    (folds.keys.toSeq :+ "streaming/KeyedFold.scala").foreach(f =>
      assert(new File(root, f).isFile, s"$f moved — update this list"))
    val scans = siteCounts("""\bperKeyOrdered\(""".r)
    val groups = siteCounts("""\.flatMapGroupsWithState\b""".r)
    assert(scans.get("streaming/KeyedFold.scala").contains(1), s"scan sites: $scans")
    assert(groups.get("streaming/KeyedFold.scala").contains(1), s"flatMapGroupsWithState sites: $groups")
    folds.keys.foreach(f => assert(!scans.contains(f), s"$f scans SortedScan itself — run a KeyedFold"))
    Seq("streaming/Triggers.scala", "streaming/Changelog.scala").foreach(f =>
      assert(!groups.contains(f), s"$f keeps a flatMapGroupsWithState body — run a KeyedFold"))
    assert(groups.get("streaming/StatefulOps.scala").contains(otherStatefulOps),
      s"StatefulOps has ${groups.get("streaming/StatefulOps.scala")} flatMapGroupsWithState " +
        s"sites, $otherStatefulOps operators are not folds — a new site is a fold's twin or a new operator")
    folds.foreach { case (f, ops) =>
      val text = source(f)
      ops.foreach { op =>
        val at = text.indexOf(s"  def $op(")
        assert(at >= 0, s"$f: no def $op")
        val body = text.substring(at, text.indexOf("\n  }\n", at))
        assert(body.contains("KeyedFold.run("), s"$op does not run a KeyedFold")
      }
    }
  }
}
