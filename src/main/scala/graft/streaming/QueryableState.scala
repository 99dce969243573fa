package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Queryable state — the reference's flink-queryable-state surface
  * (`KeyedStream.asQueryableState`, flink-streaming-java/.../datastream/
  * KeyedStream.java:1034, served by flink-queryable-state/
  * flink-queryable-state-runtime's KvStateServer and read with
  * QueryableStateClient.getKvState): expose a streaming job's keyed state
  * to readers OUTSIDE the job.
  *
  * Spark's native analogue is the `statestore` batch data source: every
  * streaming checkpoint is already a durable key → state-row table, and an
  * external session scans it like any other source — no state server
  * process, and the read is partition-parallel over the whole keyspace
  * rather than point-lookup-only (strictly more capable than the
  * reference's per-key getKvState; a point lookup is a filter pushdown on
  * the same scan). The state value schema is the operator's own: for a
  * mapGroupsWithState op it is the user case class, so the read below is
  * the exact analogue of querying the reference's named
  * ValueStateDescriptor.
  *
  * At 100 TB this is the right deployment shape: state lives in the
  * checkpoint (RocksDB-backed), and analytical reads of it scale out as
  * scans instead of hammering a job-embedded KV server.
  */
object QueryableState {
  type QFn = (SparkSession, String) => DataFrame

  /** Per-user running (count, integer-micro sum) state — a named value
    * state the job maintains and an external reader queries. */
  private[streaming] case class UserAgg(n: Long, sumMicros: Long)

  /** Run `body` (a state-WRITING job whose checkpoint will be point-read
    * with [[getKvState]]) with per-version full RocksDB snapshots instead
    * of the session default changelog commits: fine-grained replay
    * (`snapshotStartBatchId`/`snapshotPartitionId`) loads a SNAPSHOT at the
    * requested version, and under changelog checkpointing snapshots only
    * appear via async maintenance — a short-lived job may have none at all.
    * State declared queryable trades commit latency for read-side
    * serveability, the same trade the reference's KV server makes. */
  def withSnapshotCommits[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  def qQueryableState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ckpt = graft.RelayDir.fresh("qstate_ckpt", dir)
    val schema = graft.Tables.schema(s, dir, "events")
    val rows = graft.Tables.streamTable(s, dir, "events", schema)
      .select(col("user_id").as("_1"),
        round(col("value") * 1e6, 0).cast("long").as("_2"))
      .as[(Long, Long)]
    // the job: maintain the keyed state (asQueryableState registers the
    // descriptor; here the checkpoint IS the registration) — emissions go
    // to a noop sink, the STATE is the product
    withSnapshotCommits(s) {
      Bounded.run(rows.groupByKey(_._1)
        .mapGroupsWithState[UserAgg, Long](GroupStateTimeout.NoTimeout()) {
          case (key, it, st) =>
            var cur = st.getOption.getOrElse(UserAgg(0L, 0L))
            it.foreach(r => cur = UserAgg(cur.n + 1, cur.sumMicros + r._2))
            st.update(cur)
            key
        }
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt))
    }
    // the external reader: a DIFFERENT job scans the keyed state
    // (QueryableStateClient.getKvState, but set-oriented)
    // state row schema: key = the grouping key struct, value.groupState =
    // the user case class (the named ValueStateDescriptor analogue)
    s.read.format("statestore").option("path", ckpt).load()
      .select(col("key.value").as("user_id"),
        col("value.groupState.n").as("n_events"),
        (col("value.groupState.sumMicros").cast("double") / 1e6).as("total"))
      .orderBy("user_id")
  }

  /** Point lookup — the reference's QueryableStateClient.getKvState
    * (KeyedStream.java:1034 registers the descriptor; the client reads ONE
    * key): read a single key's state row WITHOUT scanning the whole
    * keyspace. Streaming state is hash-clustered by the grouping key —
    * HashPartitioning places a key at `pmod(murmur3(key), nParts)` — so the
    * lookup computes the key's state partition driver-side and restricts
    * the statestore read to THAT partition (`snapshotStartBatchId` +
    * `snapshotPartitionId`), then filters the key inside it: 1 of nParts
    * partitions touched, the scan-side analogue of a KV point read.
    * QueryableStateSpec asserts both the restriction (a one-partition scan)
    * and agreement with the full-keyspace scan.
    *
    * `nParts` is the job's shuffle-partition count when the state was
    * written — read from the checkpoint's own offsets metadata (the
    * checkpoint pins the conf), falling back to the session setting for
    * checkpoints without it. */
  def getKvState(spark: SparkSession, ckpt: String, key: Long,
                 nPartsOpt: Option[Int] = None): DataFrame = {
    // last committed batch: the snapshot read needs an explicit version
    val lastBatch = Option(new java.io.File(s"$ckpt/commits").listFiles())
      .map(_.map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong))
      .filter(_.nonEmpty).map(_.max)
      .getOrElse(throw new IllegalArgumentException(s"no committed batch under $ckpt"))
    val nParts = nPartsOpt.orElse {
      // the offsets log's metadata line records the conf the state was
      // hash-partitioned with — the authoritative count even if the
      // reading session runs a different setting
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$ckpt/offsets/$lastBatch"))
        """"spark\.sql\.shuffle\.partitions"\s*:\s*"?(\d+)"?""".r
          .findFirstMatchIn(txt).map(_.group(1).toInt)
      } catch { case _: Throwable => None }
    }.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // the exact HashPartitioning expression (Murmur3, seed 42) on the key —
    // evaluated through Spark so the hash implementation can never drift
    val pid = spark.range(1)
      .select(pmod(hash(lit(key)), lit(nParts))).head().getInt(0)
    spark.read.format("statestore")
      .option("path", ckpt)
      .option("snapshotStartBatchId", lastBatch)
      .option("snapshotPartitionId", pid)
      .option("batchId", lastBatch)
      .load()
      .filter(col("key.value") === key)
  }

  def queries: Map[String, QFn] = Map(
    "queryable_state" -> (qQueryableState _)
  )

  def oracles: Map[String, String] = Map(
    // the externally-read state must equal the aggregate recomputed from
    // first principles over the whole input
    "queryable_state" ->
      """SELECT user_id, count(*) AS n_events,
                sum(CAST(round(value * 1e6, 0) AS BIGINT)) / 1e6 AS total
         FROM events GROUP BY user_id ORDER BY user_id"""
  )
}
