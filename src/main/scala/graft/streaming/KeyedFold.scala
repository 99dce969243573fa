package graft.streaming

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One Long of a fold's input order, read two ways: as a column (the
  * bounded driver sorts on it) and off the typed row (the stream driver
  * sorts a micro-batch on it). The two must agree. */
private[streaming] final case class Term[I](column: Column, of: I => Long)

/** A fold's input, declared once for both drivers: the key, then the
  * in-key order — event time first (the horizon the drivers close at),
  * then the tiebreaks. */
private[streaming] final case class KeyOrder[I](key: Term[I], ts: Term[I], ties: Term[I]*) {
  def columns: Seq[Column] = (ts +: ties).map(_.column)
  def ordering: Ordering[I] = (ts +: ties).map(t => Ordering.by(t.of)).reduce(_ orElse _)
}

private[streaming] object KeyOrder {
  /** [[KeyedRow]] by `key`, in (ts, id) order. */
  val rows: KeyOrder[KeyedRow] =
    KeyOrder(Term(col("key"), _.key), Term(col("ts"), _.ts), Term(col("id"), _.id))
}

/** One keyed operator's per-row logic, written once for bounded and
  * unbounded input — Flink's BATCH runtime mode (FLIP-140) runs the same
  * keyed operator over key-sorted input instead of keeping a batch twin.
  *
  * A fold sees one key's rows in its `input` order. `step` folds a row into
  * the key's state and returns what that row emits; `close` is told that
  * every row still to come has `ts > horizonUs` (a watermark) and emits
  * what that finishes. `due` is the event time past which `close` has
  * something to emit — the operator's timer. `finish` ends a bundle — a
  * micro-batch on a stream, the key's rows on a bounded input — given the
  * state the bundle started from (Flink's MapBundleFunction.finishBundle):
  * a mini-batch operator steps silently and emits its one change there. A
  * fold whose state is mutable gets `entry` and `s` as one object. */
private[streaming] abstract class KeyedFold[I, S, O](@transient val input: KeyOrder[I])
    extends Serializable {
  def init: S
  def step(key: Long, s: S, r: I): (S, List[O])
  def close(key: Long, s: S, horizonUs: Long): (S, List[O]) = (s, Nil)
  def due(s: S): Option[Long] = None
  def finish(key: Long, entry: S, s: S): (S, List[O]) = (s, Nil)
}

/** A fold over [[KeyedRow]]s in (ts, id) order. */
private[streaming] abstract class RowFold[S, O] extends KeyedFold[KeyedRow, S, O](KeyOrder.rows)

private[streaming] object KeyedFold {

  /** Run `fold` on `rows`, picking the driver from `rows.isStreaming`.
    * `watermarkDelay` makes it an event-time operator: on a stream, rows at
    * or behind the watermark drop as late and `close` runs up to it. */
  def run[I, S: Encoder, O: Encoder](rows: Dataset[I], fold: KeyedFold[I, S, O],
                                     watermarkDelay: Option[String] = None): Dataset[O] =
    if (rows.isStreaming) unbounded(rows, fold, watermarkDelay) else bounded(rows, fold)

  /** Bounded input on the spillable [[SortedScan.perKeyOrdered]]: per-key
    * memory is the fold's state, never the key group. A sorted scan is a
    * stream with a perfect watermark: once a row is read, every later row
    * has a ts at least its own, so the horizon trails each row, and the
    * end of the key closes at +∞ (the final watermark) and ends the key's
    * one bundle. */
  private def bounded[I, S, O: Encoder](rows: Dataset[I], fold: KeyedFold[I, S, O]): Dataset[O] = {
    val tsOf = fold.input.ts.of
    SortedScan.perKeyOrdered(rows, fold.input) { (key, it) =>
      var s = fold.init
      def take(next: (S, List[O])): List[O] = { s = next._1; next._2 }
      it.flatMap(r => take(fold.close(key, s, tsOf(r) - 1)) ++ take(fold.step(key, s, r))) ++
        take(fold.close(key, s, Long.MaxValue)) ++ take(fold.finish(key, fold.init, s))
    }
  }

  /** Streaming input: one `flatMapGroupsWithState` body loads the key's
    * state, folds the micro-batch in the fold's order, ends the bundle and
    * stores the state back. An event-time fold also drops late rows,
    * closes up to the watermark and arms an event-time timeout at its `due`
    * time, so a key that goes quiet still closes. */
  private def unbounded[I, S: Encoder, O: Encoder](rows: Dataset[I], fold: KeyedFold[I, S, O],
                                                   watermarkDelay: Option[String]): Dataset[O] = {
    import rows.sparkSession.implicits._
    val (keyOf, tsOf, order) = (fold.input.key.of, fold.input.ts.of, fold.input.ordering)
    val rowTag = rows.encoder.clsTag
    val eventTime = watermarkDelay.isDefined
    watermarkDelay.fold(rows)(d => rows.withColumn("ets", timestamp_micros(fold.input.ts.column))
        .withWatermark("ets", d).as[I](rows.encoder))
      .groupByKey(keyOf)
      .flatMapGroupsWithState[S, O](OutputMode.Append(),
        if (eventTime) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          val wmMs = if (eventTime) state.getCurrentWatermarkMs else Long.MinValue
          // every row still to come has ts / 1000 > wmMs
          val horizonUs = if (eventTime) wmMs * 1000 + 999 else Long.MinValue
          val entry = state.getOption.getOrElse(fold.init)
          var s = entry
          val out = List.newBuilder[O]
          def take(next: (S, List[O])): Unit = { s = next._1; out ++= next._2 }
          it.filter(r => !eventTime || tsOf(r) > horizonUs).toArray(rowTag).sorted(order)
            .foreach(r => take(fold.step(key, s, r)))
          if (eventTime) take(fold.close(key, s, horizonUs))
          take(fold.finish(key, entry, s))
          if (state.exists || s != fold.init) state.update(s)
          if (eventTime)
            fold.due(s).foreach(t => state.setTimeoutTimestamp(math.max(t / 1000, wmMs + 1)))
          out.result().iterator
      }
  }
}
