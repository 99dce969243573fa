package graft

import org.scalatest.funsuite.AnyFunSuite

/** One way to run a bounded streaming query to completion: every
  * `.processAllAvailable(` call site in main source sits in
  * `streaming/Bounded.scala`, apart from the two forked probes that drive a
  * query by hand on purpose (AbruptExitProbe exits the JVM mid-query;
  * StateScaleProbe drains a processing-time timer storm its own way). A new
  * hand-rolled start/drain/stop site fails this spec: run it through
  * [[graft.streaming.Bounded.run]] instead. */
class BoundedRunnerSpec extends AnyFunSuite {
  private val allowed = Set("streaming/Bounded.scala", "tools/AbruptExitProbe.scala",
    "StateScaleProbe.scala")

  test("processAllAvailable is called only by the bounded-streaming runner") {
    val found = PersistDisciplineSpec.siteCounts("""\.processAllAvailable\(""".r)
    val stray = found.keySet -- allowed
    assert(stray.isEmpty,
      s"hand-rolled drains in $stray — run the query through Bounded.run")
    assert(found.contains("streaming/Bounded.scala"), s"the runner no longer drains: $found")
  }
}
