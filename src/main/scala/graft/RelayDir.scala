package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Per-invocation streaming sink and checkpoint directories. [[drain]]
  * runs a stream through the exactly-once parquet file sink and reads the
  * result back. A generation's siblings (its `.ckpt` checkpoint, its `.end`
  * end-marker input) share its name.
  *
  * Each invocation needs a FRESH dir (the file sink's commit log never
  * overwrites), but callers read the result LAZILY after the call returns —
  * so the dir cannot be deleted inside the call that created it. Instead,
  * allocating a new dir purges every sibling generation older than
  * [[PurgeAfterMs]], `.ckpt`/`.end` included: disk usage is bounded at
  * roughly one gate/bench run's worth per token instead of growing with
  * every run, while anything a still-unconsumed DataFrame might re-read
  * stays on disk well past any realistic consumption window.
  */
object RelayDir {
  /** Siblings older than this are purged on the next allocation. Longer than
    * any single gate/bench run, so lazily-read frames from the current run
    * are never pulled out from under the reader. */
  private val PurgeAfterMs = 30L * 60L * 1000L

  /** A fresh `target/<root>/<token>/<uuid>` path (non-alphanumerics in
    * `token` — e.g. a data dir's slashes — become `_`); purges expired
    * sibling generations first. */
  def fresh(root: String, token: String): String = {
    val parent = new File(s"target/$root/${token.replaceAll("[^a-zA-Z0-9]", "_")}")
    val cutoff = System.currentTimeMillis() - PurgeAfterMs
    Option(parent.listFiles()).foreach(_.foreach { f =>
      if (f.lastModified() < cutoff) graft.io.LocalFiles.delete(f)
    })
    new File(parent, java.util.UUID.randomUUID.toString).getPath
  }

  /** Run an append-mode streaming DataFrame to completion through the
    * exactly-once parquet FILE sink into a [[fresh]] `dir` (a replayed
    * batch is skipped by the sink's commit log), with the end marker when
    * `end` is the `<dir>.end` its input was built on (the sentinel key is
    * not written), then read the result back: a plain scan any downstream
    * consumer could run in its own job. This is the deployment shape for
    * unbounded results: the memory sink collects every output row to the
    * driver and dies at `spark.driver.maxResultSize` the moment the emit log
    * outgrows it (the sf10 probe's cumulate-window query produced a >1 GiB
    * log and did exactly that). The file sink streams output to disk
    * partition-parallel. */
  def drain(s: SparkSession, out: DataFrame, dir: String,
            end: Option[String] = None): DataFrame = {
    val kept = if (end.isEmpty) out else out.filter(col("key") =!= streaming.Bounded.EndKey)
    streaming.Bounded.run(kept.writeStream.format("parquet")
      .option("path", dir).option("checkpointLocation", s"$dir.ckpt")
      .outputMode("append"), end)
    // the stream's own schema: a sink that committed no data file leaves an
    // empty metadata-log index, which schema inference would reject
    s.read.schema(out.schema).parquet(dir)
  }
}
