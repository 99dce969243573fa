package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bounded-memory batch path: SortedScan.perKeyOrdered replaces per-key
  * `toArray.sortBy` group materialization with a spillable partition sort +
  * boundary scan, and every keyed fold runs on it for bounded input. The
  * skew test feeds ONE key with 10⁶ rows through the CEP NFA and the
  * rolling aggregates — under group materialization that key would buffer
  * all 10⁶ rows on one thread; under the scan, per-key state is the active
  * run set / rolling counters only. */
class SortedScanSpec extends SparkSpec {
  import spark.implicits._

  private def skewed(n: Int): org.apache.spark.sql.Dataset[KeyedRow] =
    spark.range(n.toLong).select(
      lit(7L).as("key"),
      (col("id") * 1000000L).as("ts"),
      col("id").as("id"),
      when(col("id") % 10 < 3, "error").otherwise("view").as("kind"),
      (col("id") % 100).cast("double").as("value")
    ).as[KeyedRow]

  test("plan shape: scan = exchange on key + in-partition sort + mapPartitions, no flatMapGroups") {
    val multiKey = spark.range(100).select(
      (col("id") % 7).as("key"), col("id").as("ts"), col("id").as("id"),
      lit("a").as("kind"), lit(0.0).as("value")).as[KeyedRow]
    val out = SortedScan.perKeyOrdered(multiKey, KeyOrder.rows) { (_, it) => it.map(_.id) }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(key"), plan)
    assert(plan.toLowerCase.contains("sort"), plan)
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("FlatMapGroups"), plan)
  }

  test("plan shape: each keyed fold on a bounded input plans the scan, no FlatMapGroupsWithState") {
    val multiKey = spark.range(100).select(
      (col("id") % 7).as("key"), col("id").as("ts"), col("id").as("id"),
      lit("a").as("kind"), lit(0.0).as("value")).as[KeyedRow]
    val ops: Seq[(String, org.apache.spark.sql.Dataset[_])] = Seq(
      "runningSumPerKey" -> StatefulOps.runningSumPerKey(multiKey),
      "boundedRowsPrecedingPerKey" -> StatefulOps.boundedRowsPrecedingPerKey(multiKey, 3),
      "boundedRangePrecedingPerKey" -> StatefulOps.boundedRangePrecedingPerKey(multiKey, 10L),
      "countTumblingWindows" -> StatefulOps.countTumblingWindows(multiKey, 3),
      "countSlidingWindows" -> StatefulOps.countSlidingWindows(multiKey, 3, 2),
      "dynamicGapSessions" -> StatefulOps.dynamicGapSessions(multiKey, _ => 5L),
      "triggeredTumbleWindows" -> Triggers.triggeredTumbleWindows(multiKey, 10L,
        Triggers.CountTrigger(2), Triggers.CountEvictor(1)))
    ops.foreach { case (name, ds) =>
      val logical = ds.queryExecution.optimizedPlan.toString
      val physical = ds.queryExecution.executedPlan.toString
      assert(!logical.contains("FlatMapGroupsWithState"), s"$name:\n$logical")
      assert(physical.contains("MapPartitions") && !physical.contains("MapGroups"), s"$name:\n$physical")
    }
  }

  test("group boundaries: unread tails drained, early-stop callbacks isolated") {
    val rows = Seq(
      KeyedRow(1, 30, 3, "a", 1.0), KeyedRow(1, 10, 1, "a", 1.0), KeyedRow(1, 20, 2, "a", 1.0),
      KeyedRow(2, 10, 4, "b", 1.0),
      KeyedRow(3, 20, 6, "c", 1.0), KeyedRow(3, 10, 5, "c", 1.0)
    ).toDS()
    // callback reads only the FIRST row of each group — the scan must drain
    // the rest and still start the next group at the right boundary
    val firsts = SortedScan.perKeyOrdered(rows, KeyOrder.rows) { (key, it) =>
      Iterator.single((key, it.next().id))
    }.collect().sortBy(_._1)
    assert(firsts.toSeq == Seq((1L, 1L), (2L, 4L), (3L, 5L)))
    // full consumption sees (ts, id) order within each key
    val ordered = SortedScan.perKeyOrdered(rows, KeyOrder.rows) { (key, it) =>
      Iterator.single(key -> it.map(_.id).toList)
    }.collect().toMap
    assert(ordered == Map(1L -> List(1L, 2L, 3L), 2L -> List(4L), 3L -> List(5L, 6L)))
  }

  test("skew: 10^6 rows on one key through the CEP NFA — scan, not group buffer") {
    val n = 1000000
    // kind = error on id%10 in {0,1,2}: exactly one strict error-triple per
    // 10-row block, counted with SkipToNextRow overlap semantics
    val matches = Cep.matchBatch(skewed(n), Cep.errorBurst)
    assert(matches.count() == n / 10)
  }

  test("skew: 10^6 rows on one key through running sum / count windows / sessions") {
    val ds = skewed(1000000)
    // running sum: last row's accumulator = sum of all values
    val last = StatefulOps.runningSumPerKey(ds).orderBy(desc("id")).limit(1).collect()(0)
    val expect = (0L until 1000000L).map(i => (i % 100).toDouble).sum
    assert(math.abs(last.run_sum - expect) < 1e-6)
    // count-tumbling(1000): exactly n/1000 full windows, max value 99
    val wins = StatefulOps.countTumblingWindows(ds, 1000)
    assert(wins.count() == 1000L)
    assert(wins.agg(min("max_value"), max("n_events")).as[(Double, Long)].collect()(0) == ((99.0, 1000L)))
    // dynamic sessions with constant 1s gap and 1s spacing: a single session
    val sess = StatefulOps.dynamicGapSessions(ds, _ => 1000000L).collect()
    assert(sess.length == 1 && sess(0).n_events == 1000000L)
  }
}
