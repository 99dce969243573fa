package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The query front-ends hand intermediate results to the rest of their
  * statement by name inside its plan ([[graft.sql.SqlText.query]]), never
  * through the session catalog: no `createOrReplaceTempView` /
  * `createTempView` call site in their source. A registered view would
  * outlive the statement and could replace a user's table of that name. */
class TempViewDisciplineSpec extends AnyFunSuite {
  private val frontEnds = Seq("MatchRecognize", "SystemTimeJoin", "TemporalTableFunctions",
    "OptionsHint", "EmitStrategy").map(n => s"sql/$n.scala")

  test("no query front-end registers a temp view") {
    frontEnds.foreach(f =>
      assert(new File(PersistDisciplineSpec.root, f).isFile, s"$f moved — update this list"))
    val found = PersistDisciplineSpec.siteCounts("""\.(createOrReplaceTempView|createTempView)\(""".r)
    assert(found.nonEmpty, "the scan found no temp-view site anywhere")
    val stray = frontEnds.filter(found.contains)
    assert(stray.isEmpty,
      s"temp views registered in $stray — bind the relation in the plan with SqlText.query")
  }
}
