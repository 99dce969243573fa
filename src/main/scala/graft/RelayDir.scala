package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Per-invocation streaming relay, sink and checkpoint directories — e.g.
  * the parquet "topic between jobs" channel `MatchRecognize.runStream`'s
  * PREV stage relays through (the reference's deployment shape chains jobs
  * through Kafka topics; here the channel is the exactly-once streaming
  * file sink), and the sinks [[drain]] writes.
  *
  * Each invocation needs a FRESH dir (the file sink's commit log never
  * overwrites), but callers read the channel LAZILY after the call returns —
  * so the dir cannot be deleted inside the call that created it. Instead,
  * allocating a new dir purges every sibling generation older than
  * [[PurgeAfterMs]]: disk usage is bounded at roughly one gate/bench run's
  * worth per token instead of growing with every run, while anything a
  * still-unconsumed DataFrame might re-read stays on disk well past any
  * realistic consumption window.
  */
object RelayDir {
  /** Siblings older than this are purged on the next allocation. Longer than
    * any single gate/bench run, so lazily-read frames from the current run
    * are never pulled out from under the reader. */
  private val PurgeAfterMs = 30L * 60L * 1000L

  /** A fresh `target/<root>/<token>/<uuid>` path; purges expired sibling
    * generations (including their `.ckpt` checkpoint dirs) first. */
  def fresh(root: String, token: String): String = {
    val parent = new File(s"target/$root/$token")
    val cutoff = System.currentTimeMillis() - PurgeAfterMs
    Option(parent.listFiles()).foreach(_.foreach { f =>
      if (f.lastModified() < cutoff) delete(f)
    })
    new File(parent, java.util.UUID.randomUUID.toString).getPath
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Run an append-mode streaming DataFrame to completion through the
    * exactly-once parquet FILE sink and read the result back. This is the
    * deployment shape for unbounded results: the memory sink collects every
    * output row to the driver and dies at `spark.driver.maxResultSize` the
    * moment the emit log outgrows it (the sf10 probe's cumulate-window
    * query produced a >1 GiB log and did exactly that). The file sink
    * streams output to disk partition-parallel; the read-back is a plain
    * scan any downstream consumer could run in its own job. */
  def drain(s: SparkSession, out: DataFrame, root: String,
            token: String): DataFrame = {
    val dir = fresh(root, token.replaceAll("[^a-zA-Z0-9]", "_"))
    val q = out.writeStream.format("parquet")
      .option("path", dir).option("checkpointLocation", s"$dir.ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // No-data detection must look for committed DATA files: the file sink
    // creates the dir (its _spark_metadata log) at query start, so a
    // dir-exists check is always true, and a stream that committed zero
    // files would fail schema inference on the empty metadata-log index.
    val committedData = Option(new File(dir).listFiles())
      .exists(_.exists(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")))
    if (committedData) s.read.parquet(dir)
    else s.createDataFrame(new java.util.ArrayList[Row](), out.schema)
  }
}
