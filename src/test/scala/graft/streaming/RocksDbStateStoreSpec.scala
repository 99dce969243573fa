package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** State-backend proof: the stateful operators produce identical output on
  * the RocksDB state store provider (SURVEY.md maps
  * flink-statebackend-rocksdb → Spark's built-in RocksDB provider).
  *
  * Why this matters at 100 TB: the default HDFS-backed provider keeps every
  * key's state on the executor HEAP between batches — fine for test-scale
  * state, fatal when keyed state outgrows memory (the norm for big joins /
  * Top-N / long sessions). RocksDB spills to local disk with the same
  * StateStore contract, so the SAME query + checkpoint discipline scales to
  * state ≫ heap. These tests pin the contract: two representative stateful
  * pipelines (a -U/+U retractable Top-N and the CUMULATE streaming SQL
  * emitter) run bit-identically under both providers, streaming
  * MATCH_RECOGNIZE — on `transformWithState`, which needs RocksDB — equals
  * the batch node, and a provider-metric probe proves RocksDB actually
  * served the state (no silent fallback).
  */
class RocksDbStateStoreSpec extends SparkSpec {

  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ConfKey = "spark.sql.streaming.stateStore.providerClass"

  private def withProvider[A](provider: Option[String])(body: => A): A = {
    val prev = spark.conf.getOption(ConfKey)
    provider.fold(spark.conf.unset(ConfKey))(spark.conf.set(ConfKey, _))
    try body
    finally prev.fold(spark.conf.unset(ConfKey))(spark.conf.set(ConfKey, _))
  }

  private def rowsOf(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[String] =
    fn(spark, sf).collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("retractable Top-N emits identical rank changelog on RocksDB state") {
    val fn = StatefulOps.queries("stream_retract_topn")
    val default = withProvider(None)(rowsOf(fn))
    val rocks = withProvider(Some(Rocks))(rowsOf(fn))
    assert(default.nonEmpty)
    assert(rocks == default)
  }

  test("streaming CUMULATE SQL emits identical panes on RocksDB state") {
    val fn = graft.sql.FlinkSqlQueries.queries("fsql_stream_cumulate")
    val default = withProvider(None)(rowsOf(fn))
    val rocks = withProvider(Some(Rocks))(rowsOf(fn))
    assert(default.nonEmpty)
    assert(rocks == default)
  }

  test("streaming MATCH_RECOGNIZE with PREV + MEASURES is identical on RocksDB state") {
    // ONE query with TWO stateful operators (the PREV ring and the NFA),
    // both on transformWithState — which runs on the RocksDB provider only,
    // so the stream is compared with the batch node on the same statement
    val stmt =
      """SELECT user_id, start_ts, end_ts, n_rows, first_val, last_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES FIRST(A.value) AS first_val, LAST(B.value) AS last_val
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A B)
           DEFINE B AS B.value < PREV(B.value)
         ) ORDER BY user_id, start_ts"""
    graft.Tables.registerAll(spark, sf)
    val batch = rowsOf((s, _) => graft.sql.MatchRecognize.run(s, stmt))
    val rocks = withProvider(Some(Rocks))(rowsOf(graft.sql.MatchRecognize.runStream(_, _, stmt)))
    assert(batch.nonEmpty)
    assert(rocks == batch)
  }

  test("the RocksDB provider actually serves the state (metrics probe)") {
    import spark.implicits._
    withProvider(Some(Rocks)) {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[(Long, Long)]
      val counts = in.toDS().groupByKey(_._1)
        .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout()) {
          case (k, it, st: GroupState[Long]) =>
            val n = st.getOption.getOrElse(0L) + it.size
            st.update(n); (k, n)
        }
      val q = counts.writeStream.format("memory").queryName("rocks_probe")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData((1L, 1L), (2L, 1L)); q.processAllAvailable()
        in.addData((1L, 2L)); q.processAllAvailable()
        val custom = q.lastProgress.stateOperators.head.customMetrics
        // rocksdb-prefixed custom metrics only exist on the RocksDB provider
        assert(custom.keySet.toArray.exists(_.toString.startsWith("rocksdb")),
          s"expected rocksdb custom metrics, got: ${custom.keySet}")
        val out = spark.table("rocks_probe").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // key 1 saw one row per batch: count 2 only if batch-1 state survived
        assert(out.contains((1L, 2L)), s"state lost across batches: $out")
      } finally q.stop()
    }
  }
}
