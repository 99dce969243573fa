package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one way to run a bounded streaming query to completion.
  *
  * Flink ends bounded input with MAX_WATERMARK, flushing every pending row,
  * timer and lookahead buffer (Watermarks in Stream Processing Systems,
  * VLDB'21); Spark file streams emit no final watermark. A query that must
  * see end of input is built on [[withEnd]], and [[run]] writes one
  * sentinel row — key [[EndKey]], event time [[EndTs]] — after the real
  * input has drained. Written after the first drain, it lands in a trigger
  * of its own and drives the watermark past [[EndTickMs]]; the no-data
  * batch that follows fires every event-time timer. Operators that see
  * that tick know the input has ended (unbounded input never reaches it);
  * callers drop [[EndKey]] from what they emit.
  */
object Bounded {
  val EndKey: Long = Long.MinValue

  /** 9999-01-01T00:00:00Z in epoch µs: past every real event time. */
  val EndTs: Long = 253370764800000000L

  /** Epoch ms half-way to [[EndTs]]: real event times sit far below it,
    * and the sentinel passes it under any watermark delay short of ~4000
    * years. */
  val EndTickMs: Long = EndTs / 2000L

  private val rowEnc = Encoders.product[KeyedRow]

  /** `rows` plus a sentinel file stream on `dir` (created empty); pass the
    * same `dir` to [[run]]. */
  def withEnd(rows: Dataset[KeyedRow], dir: String): Dataset[KeyedRow] = {
    new java.io.File(dir).mkdirs(): Unit
    rows.unionByName(rows.sparkSession.readStream.schema(rowEnc.schema).parquet(dir).as(rowEnc))
  }

  /** Start the query, drain everything available, stop it. With `end` (the
    * [[withEnd]] dir of its input) the sentinel is written and drained too. */
  def run(writer: DataStreamWriter[_], end: Option[String] = None): Unit = {
    val q = writer.start()
    try {
      q.processAllAvailable()
      end.foreach { dir =>
        q.sparkSession.createDataset(Seq(KeyedRow(EndKey, EndTs, EndKey, "", 0.0)))(rowEnc)
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
    } finally q.stop()
  }
}
