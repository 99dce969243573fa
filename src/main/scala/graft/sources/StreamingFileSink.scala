package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming partitioned file sink with checkpointed exactly-once — the
  * reference's StreamingFileSink (flink-streaming-java/.../functions/sink/
  * filesystem/StreamingFileSink.java:104, rolling part files promoted on
  * checkpoint) and FileSystemTableSink's streaming mode with partition
  * commit (flink-table-runtime-blink FileSystemTableSink.java:94).
  *
  * Spark shape: `df.writeStream.format("parquet").partitionBy(...)` with a
  * `checkpointLocation`. Exactly-once comes from the sink's
  * `_spark_metadata` manifest — a batch read of the sink directory lists
  * files THROUGH the manifest, so uncommitted/orphaned part files from a
  * failed trigger are invisible (the same contract Flink gets from
  * pending→finished part-file promotion on checkpoint). Partition commit ↔
  * the `event_type=.../` directory layout, which the batch reader prunes
  * (PartitionFilters) exactly like a static partitioned table.
  *
  * The oracle row streams the events table through the sink, reads the
  * sink back as a batch table, and aggregates — hash-matching DuckDB over
  * the ORIGINAL table proves the streaming write was complete and lossless.
  */
object StreamingFileSink {
  type QFn = (SparkSession, String) => DataFrame

  private def token(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Sink + checkpoint live under target/; wiped per call so every run is
    * a fresh end-to-end write (idempotent for bench re-runs). */
  def sinkDir(dir: String): String = s"target/stream_sink/${token(dir)}/data"
  private def ckptDir(dir: String): String = s"target/stream_sink/${token(dir)}/ckpt"

  private def wipe(s: SparkSession, p: String): Unit = {
    val path = new Path(p)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(path, true): Unit
  }

  /** Run the streaming write: file-source over events → partitioned
    * parquet sink, drained to completion by [[graft.streaming.Bounded.run]]. */
  def writeEvents(s: SparkSession, dir: String): Unit = {
    wipe(s, sinkDir(dir)); wipe(s, ckptDir(dir))
    val schema = graft.Tables.schema(s, dir, "events")
    val in = graft.Tables.streamTable(s, dir, "events", schema)
      .withColumn("ts", graft.Tables.tsAsTimestamp(schema).cast("timestamp_ntz"))
    graft.streaming.Bounded.run(in.writeStream.format("parquet")
      .partitionBy("event_type")
      .option("path", sinkDir(dir))
      .option("checkpointLocation", ckptDir(dir)))
  }

  /** Aggregate the sink read back as a batch table; the manifest-visible
    * rows must be exactly the source rows. */
  private def roundTrip(s: SparkSession, dir: String): DataFrame = {
    writeEvents(s, dir)
    s.read.parquet(sinkDir(dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
        max(col("ts")).as("max_ts"))
      .orderBy(col("event_type"))
  }

  def queries: Map[String, QFn] = Map(
    "fmt_stream_file_sink" -> (roundTrip _)
  )

  def oracles: Map[String, String] = Map(
    "fmt_stream_file_sink" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
                max(CAST(ts AS TIMESTAMP)) AS max_ts
         FROM events GROUP BY event_type ORDER BY event_type"""
  )
}
