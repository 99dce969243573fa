package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.timestamp_micros
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One keyed operator's per-row logic, written once for bounded and
  * unbounded input — Flink's BATCH runtime mode (FLIP-140) runs the same
  * keyed operator over key-sorted input instead of keeping a batch twin.
  *
  * A fold sees one key's rows in (ts, id) order. `step` folds a row into
  * the key's state and returns what that row emits; `close` is told that
  * every row still to come has `ts > horizonUs` (a watermark) and emits
  * what that finishes. `due` is the event time past which `close` has
  * something to emit — the operator's timer. */
private[streaming] trait KeyedFold[S, O] extends Serializable {
  def init: S
  def step(key: Long, s: S, r: KeyedRow): (S, List[O])
  def close(key: Long, s: S, horizonUs: Long): (S, List[O]) = (s, Nil)
  def due(s: S): Option[Long] = None
}

private[streaming] object KeyedFold {

  /** Run `fold` on `rows`, picking the driver from `rows.isStreaming`.
    * `watermarkDelay` makes it an event-time operator: on a stream, rows at
    * or behind the watermark drop as late and `close` runs up to it. */
  def run[S: Encoder, O: Encoder](rows: Dataset[KeyedRow], fold: KeyedFold[S, O],
                                  watermarkDelay: Option[String] = None): Dataset[O] =
    if (rows.isStreaming) unbounded(rows, fold, watermarkDelay) else bounded(rows, fold)

  /** Bounded input on the spillable [[SortedScan.perKeyOrdered]]: per-key
    * memory is the fold's state, never the key group. A sorted scan is a
    * stream with a perfect watermark: once a row is read, every later row
    * has a ts at least its own, so the horizon trails each row, and the
    * end of the key closes at +∞ (the final watermark). */
  private def bounded[S, O: Encoder](rows: Dataset[KeyedRow],
                                     fold: KeyedFold[S, O]): Dataset[O] =
    SortedScan.perKeyOrdered(rows) { (key, it) =>
      var s = fold.init
      def take(next: (S, List[O])): List[O] = { s = next._1; next._2 }
      it.flatMap(r => take(fold.close(key, s, r.ts - 1)) ++ take(fold.step(key, s, r))) ++
        take(fold.close(key, s, Long.MaxValue))
    }

  /** Streaming input: one `flatMapGroupsWithState` body loads the key's
    * state, folds the micro-batch in (ts, id) order and stores the state
    * back. An event-time fold also drops late rows, closes up to the
    * watermark and arms an event-time timeout at its `due` time, so a key
    * that goes quiet still closes. */
  private def unbounded[S: Encoder, O: Encoder](rows: Dataset[KeyedRow], fold: KeyedFold[S, O],
                                                watermarkDelay: Option[String]): Dataset[O] = {
    import rows.sparkSession.implicits._
    val eventTime = watermarkDelay.isDefined
    val withTs = rows.withColumn("ets", timestamp_micros($"ts")).as[SortRowW]
    watermarkDelay.fold(withTs)(withTs.withWatermark("ets", _))
      .groupByKey(_.key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(),
        if (eventTime) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          val wmMs = if (eventTime) state.getCurrentWatermarkMs else Long.MinValue
          // every row still to come has ts / 1000 > wmMs
          val horizonUs = if (eventTime) wmMs * 1000 + 999 else Long.MinValue
          var s = state.getOption.getOrElse(fold.init)
          val out = List.newBuilder[O]
          def take(next: (S, List[O])): Unit = { s = next._1; out ++= next._2 }
          it.filter(r => !eventTime || r.ts > horizonUs).toArray.sortBy(r => (r.ts, r.id))
            .foreach(r => take(fold.step(key, s, KeyedRow(r.key, r.ts, r.id, r.kind, r.value))))
          if (eventTime) take(fold.close(key, s, horizonUs))
          if (state.exists || s != fold.init) state.update(s)
          if (eventTime)
            fold.due(s).foreach(t => state.setTimeoutTimestamp(math.max(t / 1000, wmMs + 1)))
          out.result().iterator
      }
  }
}
