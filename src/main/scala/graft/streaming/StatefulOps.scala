package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** A keyed, timestamped record — the shape every stateful operator below
  * consumes. `ts` is epoch micros (the TIMESTAMP(9)→µs degradation documented
  * in SURVEY.md §1.2). */
case class KeyedRow(key: Long, ts: Long, id: Long, kind: String, value: Double)

/** KeyedRow + materialized event-time column (watermark carrier). */
case class SortRowW(key: Long, ts: Long, id: Long, kind: String, value: Double,
                    ets: java.sql.Timestamp)

/** One side of the unbounded two-stream join ("L" / "R"). */
case class SidedRow(side: String, key: Long, ts: Long, id: Long, value: Double)

/** Changelog row of the unbounded join: `op` is the reference's RowKind
  * (+I insert, -U retract-update, +U update); right_id/right_value are null
  * for a null-padded outer row. */
case class JoinEmit(op: String, key: Long, left_id: Long, right_id: Option[Long],
                    left_value: Double, right_value: Option[Double])

private[streaming] case class JoinSideState(
  left: List[(Long, Double, Boolean)], // (id, value, emitted-null-padded)
  right: List[(Long, Double)])

/** Tagged union row for the processing-time temporal join: `build` rows
  * update the versioned side's keep-last state, probe rows read it. */
case class TemporalTagged(key: Long, build: Boolean, ts: Long, id: Long,
                          kind: String, value: Double)

/** TemporalTagged + materialized event-time column (watermark carrier) for
  * the EVENT-time streaming temporal join. */
case class TemporalTaggedW(key: Long, build: Boolean, ts: Long, id: Long,
                           kind: String, value: Double, ets: java.sql.Timestamp)

/** Event-time temporal-join emission: the probe row plus its matched
  * version (None-padded in the LEFT form when no version ≤ probe time). */
case class AsOfStreamEmit(key: Long, probe_id: Long, probe_ts: Long,
                          version_id: Option[Long], version_ts: Option[Long],
                          version_value: Option[Double])

/** Event-time temporal-join state: buffered probes awaiting their
  * watermark, and the retained version history (both (ts, id)-ascending).
  * `idleDeadlineMs` is the registered idle-retention eviction deadline
  * (Long.MaxValue = none): versions retained for a key with no pending
  * probes are evicted once the watermark passes it — the reference's
  * idle-state retention (TableConfig.setIdleStateRetention). */
private[streaming] case class TemporalRowTimeState(
  probes: List[KeyedRow], versions: List[KeyedRow],
  idleDeadlineMs: Long = Long.MaxValue)

/** Windowed-agg emission with a late-data side channel: tag "window" rows
  * carry the closed window's aggregate; tag "late" rows carry the dropped
  * row's id (win_start = the window it would have belonged to). */
case class LateTagEmit(tag: String, key: Long, win_start: Long, n_events: Long,
                       sum_value: Double, row_id: Long)

private[streaming] case class WindowAggState(
  windows: List[(Long, Long, Double)]) // (winStart, count, sum) still open

case class TopNEmit(key: Long, id: Long, value: Double, rnk: Int)
case class LastRowEmit(key: Long, id: Long, ts: Long, value: Double)
case class RunningEmit(key: Long, id: Long, run_sum: Double)
case class CountWindowEmit(key: Long, win_id: Long, n_events: Long, max_value: Double, last_id: Long)

/** Custom stateful operators re-expressing the reference's keyed-state
  * streaming runtime on `flatMapGroupsWithState` (SURVEY.md §2.6 / §2.10).
  *
  * Each operator runs identically on a bounded Dataset (single group
  * invocation — how the driver's oracle gate exercises it) and on a streaming
  * Dataset (incremental state across micro-batches — covered by the
  * StatefulOpsSpec using MemoryStream).
  *
  * Scale notes: state is per-key and O(N) bounded (Top-N keeps N rows, dedup
  * keeps 1, count windows keep <n pending rows), so a 1000-executor run holds
  * state proportional to keys × N in the state store, never to input size.
  * The only shuffle is the groupByKey hash partitioning — same as the
  * reference's keyBy.
  */
object StatefulOps {

  /** Streaming Top-N per key — semantics of the reference's
    * AppendOnlyTopNFunction (flink-table-runtime-blink
    * operators/rank/AppendOnlyTopNFunction.java:240 LoC): keep the N best
    * rows per key in state; on each new row, insert-sort and re-emit the
    * affected suffix. Batch: one invocation emits the final ranking. */
  def topNPerKey(rows: Dataset[KeyedRow], n: Int): Dataset[TopNEmit] = {
    import rows.sparkSession.implicits._
    val ord: Ordering[KeyedRow] =
      Ordering.by((r: KeyedRow) => (-r.value, r.id))
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[List[KeyedRow], TopNEmit](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          var top = state.getOption.getOrElse(Nil)
          it.foreach { r =>
            top = (r :: top).sorted(ord).take(n)
          }
          state.update(top)
          top.iterator.zipWithIndex
            .map { case (r, i) => TopNEmit(key, r.id, r.value, i + 1) }
      }
  }

  /** Deduplicate keep-last per key (StreamExecDeduplicate.scala:58 with
    * keep-last = ProcTimeDeduplicateKeepLastRowFunction): state is the single
    * latest row by (ts, id); each invocation emits the current winner —
    * Update-mode changelog, one row per key. */
  def dedupKeepLast(rows: Dataset[KeyedRow]): Dataset[LastRowEmit] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[LastRowEmit, LastRowEmit](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          var cur = state.getOption.orNull
          it.foreach { r =>
            if (cur == null || r.ts > cur.ts || (r.ts == cur.ts && r.id > cur.id))
              cur = LastRowEmit(key, r.id, r.ts, r.value)
          }
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** dedupKeepLast with idle-state retention
    * (TableConfig.setIdleStateRetention → ExecutionConfigOptions
    * .IDLE_STATE_RETENTION, TableConfig.java:290-316): a key whose state is
    * untouched for `retention` of processing time is evicted — the unbounded
    * keyed state stays proportional to the ACTIVE key set, which is what
    * makes an unbounded-stream aggregation survivable at 100 TB/day. */
  def dedupKeepLastWithTtl(rows: Dataset[KeyedRow],
                           retention: java.time.Duration): Dataset[LastRowEmit] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[LastRowEmit, LastRowEmit](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (key, it, state) =>
          if (state.hasTimedOut) { // idle past retention → evict
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption.orNull
            it.foreach { r =>
              if (cur == null || r.ts > cur.ts || (r.ts == cur.ts && r.id > cur.id))
                cur = LastRowEmit(key, r.id, r.ts, r.value)
            }
            state.update(cur)
            state.setTimeoutDuration(retention.toMillis)
            Iterator.single(cur)
          }
      }
  }

  /** Streaming OVER aggregate: per-key running sum in (ts, id) order —
    * semantics of RowTimeRowsUnboundedPrecedingFunction (operators/over/).
    * Money-exact: accumulates BigDecimal(2dp) so emission order can never
    * change the sum (the property that makes this safe under re-partitioning
    * at any scale). Batch: rows arrive unordered, so sort within the group. */
  def runningSumPerKey(rows: Dataset[KeyedRow]): Dataset[RunningEmit] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, java.math.BigDecimal), RunningEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          var (lastTs, acc) = state.getOption.getOrElse(
            (Long.MinValue, java.math.BigDecimal.ZERO.setScale(2)))
          val sorted = it.toArray.sortBy(r => (r.ts, r.id))
          val out = sorted.iterator.map { r =>
            acc = acc.add(java.math.BigDecimal.valueOf(r.value)
              .setScale(2, java.math.RoundingMode.HALF_UP))
            lastTs = r.ts
            RunningEmit(key, r.id, acc.doubleValue)
          }.toList
          state.update((lastTs, acc))
          out.iterator
      }
  }

  /** Streaming OVER with a bounded ROWS frame — the reference's
    * RowTimeRowsBoundedPrecedingFunction.java (operators/over/): per row,
    * sum(value) over `ROWS BETWEEN preceding PRECEDING AND CURRENT ROW` in
    * per-key (ts, id) order. State per key = the last `preceding` values +
    * the rolling accumulator — O(frame), never the stream; the aggregate
    * rolls by one exact add and one exact subtract per row (all terms
    * 2dp-scaled BigDecimal, so add/evict order can never change the sum).
    * A ROWS frame has no same-timestamp peer lookahead, so each row emits
    * eagerly — ordered arrival across micro-batches is the contract, same
    * as [[runningSumPerKey]]. */
  def boundedRowsPrecedingPerKey(rows: Dataset[KeyedRow],
                                 preceding: Int): Dataset[RunningEmit] = {
    import rows.sparkSession.implicits._
    def d2(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(List[Double], java.math.BigDecimal), RunningEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          var (buf, acc) = state.getOption.getOrElse(
            (List.empty[Double], java.math.BigDecimal.ZERO.setScale(2)))
          val out = it.toArray.sortBy(r => (r.ts, r.id)).iterator.map { r =>
            acc = acc.add(d2(r.value))
            buf = buf :+ r.value // newest-last
            if (buf.size > preceding + 1) {
              acc = acc.subtract(d2(buf.head))
              buf = buf.tail
            }
            RunningEmit(key, r.id, acc.doubleValue)
          }.toList
          state.update((buf, acc))
          out.iterator
      }
  }

  /** Retained row of a RANGE-frame buffer (ts, id, value) — ids are needed
    * because same-timestamp PEERS emit together, after the full peer group
    * is known. */
  private[streaming] case class RangeRow(ts: Long, id: Long, value: Double)
  /** RANGE-frame state: retained rows (ascending (ts, id)) — frame rows
    * within the newest emitted group's horizon plus every still-pending
    * group — and the newest already-emitted timestamp. */
  private[streaming] case class RangeOverState(buf: List[RangeRow], emittedUpTo: Long)

  /** Streaming OVER with a bounded RANGE frame — the reference's
    * RowTimeRangeBoundedPrecedingFunction.java: per row, sum(value) over
    * `RANGE BETWEEN rangeUs PRECEDING AND CURRENT ROW` on the event time.
    * A RANGE frame includes same-timestamp PEERS, so a timestamp group can
    * only emit once no more rows can carry that timestamp — exactly the
    * reference's per-timestamp registered timer: rows buffer in state and
    * each group flushes when the WATERMARK passes it (event-time timeout;
    * rows at or behind the watermark drop as late, so a flushed group can
    * never gain a peer). Out-of-order arrival across micro-batches inside
    * the watermark delay is therefore handled, not just tolerated. State
    * per key = frame rows + pending groups, both horizon-bounded. On a
    * bounded Dataset the whole key group arrives at once and every group
    * closes at end of group. */
  def boundedRangePrecedingPerKey(rows: Dataset[KeyedRow], rangeUs: Long,
                                  watermarkDelay: String = "0 seconds"): Dataset[RunningEmit] = {
    import rows.sparkSession.implicits._
    def d2(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    val streaming = rows.isStreaming
    val withTs = rows.withColumn("ets", timestamp_micros($"ts")).as[SortRowW]
    val marked = if (streaming) withTs.withWatermark("ets", watermarkDelay) else withTs
    marked.groupByKey(_.key)
      .flatMapGroupsWithState[RangeOverState, RunningEmit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, it, state) =>
          var RangeOverState(buf, emittedUpTo) =
            state.getOption.getOrElse(RangeOverState(Nil, Long.MinValue))
          val out = scala.collection.mutable.ListBuffer.empty[RunningEmit]
          // emit group `gts` (ascending flush order): evict below its
          // horizon, one aggregate per peer — the frame is [gts-range, gts]
          def flush(gts: Long): Unit = {
            buf = buf.dropWhile(_.ts < gts - rangeUs)
            val acc = buf.foldLeft(java.math.BigDecimal.ZERO.setScale(2)) {
              (a, x) => if (x.ts <= gts) a.add(d2(x.value)) else a
            }
            buf.foreach(x => if (x.ts == gts) out += RunningEmit(key, x.id, acc.doubleValue))
            emittedUpTo = gts
          }
          val wmMs = if (streaming) state.getCurrentWatermarkMs else Long.MinValue
          if (!state.hasTimedOut) {
            val fresh = it.toArray
              .filter(r => !streaming || r.ts / 1000 > wmMs) // late rows drop
              .filter(_.ts > emittedUpTo) // belt-and-braces vs emitted groups
              .map(r => RangeRow(r.ts, r.id, r.value))
            if (fresh.nonEmpty) buf = (buf ++ fresh).sortBy(x => (x.ts, x.id))
          }
          // groups the watermark has passed can no longer gain peers — flush
          // ascending (bounded input: everything is final at end of group)
          buf.iterator.map(_.ts)
            .filter(t => t > emittedUpTo && (!streaming || t / 1000 <= wmMs))
            .toList.distinct.sorted.foreach(flush)
          state.update(RangeOverState(buf, emittedUpTo))
          if (streaming) {
            val pending = buf.iterator.map(_.ts).filter(_ > emittedUpTo).toList
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(math.max(pending.min / 1000 + 1, wmMs + 1))
          }
          out.iterator
      }
  }

  /** Count-tumbling windows (CountTumblingWindowAssigner,
    * operators/window/assigners/): every n rows per key — ordered by
    * (ts, id) — close a window and emit its aggregate. Partial windows stay
    * pending in state (streaming semantics; the oracle checks full windows). */
  def countTumblingWindows(rows: Dataset[KeyedRow], n: Int): Dataset[CountWindowEmit] = {
    import rows.sparkSession.implicits._
    // state: (next window id, pending rows of the open window)
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, List[KeyedRow]), CountWindowEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          var (winId, pending) = state.getOption.getOrElse((0L, List.empty[KeyedRow]))
          val out = scala.collection.mutable.ListBuffer.empty[CountWindowEmit]
          (pending ++ it.toArray.sortBy(r => (r.ts, r.id))).foldLeft(List.empty[KeyedRow]) {
            case (buf, r) =>
              val nb = buf :+ r
              if (nb.size == n) {
                out += CountWindowEmit(key, winId, n.toLong,
                  nb.map(_.value).max, nb.last.id)
                winId += 1
                Nil
              } else nb
          } match { case rest => pending = rest }
          state.update((winId, pending))
          out.iterator
      }
  }

  /** Count-sliding windows (CountSlidingWindowAssigner): every `slide` rows
    * per key, emit the aggregate of the last `n` rows — requires `n` rows of
    * retained state per key (the reference's count evictor buffer). */
  def countSlidingWindows(rows: Dataset[KeyedRow], n: Int, slide: Int): Dataset[CountWindowEmit] = {
    import rows.sparkSession.implicits._
    // state: (rows seen, last n rows newest-last)
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, List[KeyedRow]), CountWindowEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          var (seen, buf) = state.getOption.getOrElse((0L, List.empty[KeyedRow]))
          val out = scala.collection.mutable.ListBuffer.empty[CountWindowEmit]
          it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
            seen += 1
            buf = (buf :+ r).takeRight(n)
            // fire on every slide boundary once the buffer is full
            if (seen >= n && (seen - n) % slide == 0)
              out += CountWindowEmit(key, (seen - n) / slide,
                buf.size.toLong, buf.map(_.value).max, buf.last.id)
          }
          state.update((seen, buf))
          out.iterator
      }
  }

  /** Open-session state for [[dynamicGapSessions]]: the aggregate plus the
    * last row's timestamp and ITS gap (the merge criterion is a function of
    * the previous row). `cnt == 0` is the tombstone after a session closed —
    * it pins the next session id so numbering stays monotonic per key across
    * timeout-closed sessions (O(1) per key, the same residue a per-key
    * counter ValueState leaves in the reference). */
  private[streaming] case class DynSessionState(
    sid: Long, cnt: Long, mx: Double, lastId: Long, lastTs: Long, lastGapUs: Long)

  /** Dynamic-gap session windows (DynamicEventTimeSessionWindows — the
    * reference's SessionWindowTimeGapExtractor surface): the merge gap is a
    * per-row function of the data — impossible with
    * session_window(col, constant), hence the custom op. A new session
    * starts when the gap SINCE THE PREVIOUS ROW exceeds gapOf(previous).
    *
    * Genuinely streaming: the open session rides `GroupState` with an
    * event-time timeout at (last row's ts + its gap), so a session spanning
    * micro-batches emits exactly once — when the watermark proves no row can
    * extend it. The watermark is attached internally (on a derived
    * timestamp column, `watermarkDelay` behind max event time); rows at or
    * behind the watermark are dropped like the reference drops late events —
    * a closed session can never re-open. On a bounded Dataset the whole key
    * group arrives in one invocation and the final open session closes at
    * end of group (timeouts never fire in batch). */
  def dynamicGapSessions(rows: Dataset[KeyedRow], gapOfMicros: KeyedRow => Long,
                         watermarkDelay: String = "0 seconds"): Dataset[CountWindowEmit] = {
    import rows.sparkSession.implicits._
    val streaming = rows.isStreaming
    val withTs = rows.withColumn("ets", timestamp_micros($"ts")).as[SortRowW]
    val marked = if (streaming) withTs.withWatermark("ets", watermarkDelay) else withTs
    marked.groupByKey(_.key)
      .flatMapGroupsWithState[DynSessionState, CountWindowEmit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, it, state) =>
          def emitOf(s: DynSessionState) = CountWindowEmit(key, s.sid, s.cnt, s.mx, s.lastId)
          def tombstone(nextSid: Long) =
            DynSessionState(nextSid, 0L, Double.NegativeInfinity, 0L, 0L, 0L)
          if (state.hasTimedOut) {
            val s = state.get
            state.update(tombstone(s.sid + 1))
            Iterator.single(emitOf(s))
          } else {
            val wmMs = if (streaming) state.getCurrentWatermarkMs else Long.MinValue
            val out = scala.collection.mutable.ListBuffer.empty[CountWindowEmit]
            var open = state.getOption.filter(_.cnt > 0)
            var nextSid = state.getOption.map(s => if (s.cnt > 0) s.sid + 1 else s.sid)
              .getOrElse(0L)
            // an open session the watermark already closed (late data for the
            // key arrived in the very batch the watermark crossed it,
            // suppressing the timeout invocation) fires before the new rows
            open.foreach { s =>
              if (streaming && wmMs > s.lastTs / 1000 + s.lastGapUs / 1000) {
                out += emitOf(s); open = None
              }
            }
            val sorted = it.toArray.sortBy(r => (r.ts, r.id))
              .filter(r => !streaming || r.ts / 1000 > wmMs) // drop late rows
            sorted.foreach { r =>
              val kr = KeyedRow(r.key, r.ts, r.id, r.kind, r.value)
              open match {
                case Some(s) if r.ts - s.lastTs > s.lastGapUs =>
                  out += emitOf(s)
                  open = Some(DynSessionState(s.sid + 1, 1L, r.value, r.id, r.ts,
                    gapOfMicros(kr)))
                case Some(s) =>
                  open = Some(s.copy(cnt = s.cnt + 1, mx = math.max(s.mx, r.value),
                    lastId = r.id, lastTs = r.ts, lastGapUs = gapOfMicros(kr)))
                case None =>
                  open = Some(DynSessionState(nextSid, 1L, r.value, r.id, r.ts,
                    gapOfMicros(kr)))
              }
            }
            open match {
              case Some(s) if streaming =>
                state.update(s)
                state.setTimeoutTimestamp(
                  math.max(s.lastTs / 1000 + s.lastGapUs / 1000, wmMs + 1))
              case Some(s) => // bounded input: whole key group seen, close now
                out += emitOf(s)
              case None =>
                // the pre-data close above consumed the open session (and no
                // new one started): pin the id counter
                if (streaming && state.getOption.exists(_.cnt > 0))
                  state.update(tombstone(nextSid))
            }
            out.iterator
          }
      }
  }

  // ---- bounded-memory batch variants (SortedScan) -------------------------
  //
  // The flatMapGroupsWithState operators above serve the STREAMING path,
  // where each micro-batch bounds the per-invocation sort. On the batch
  // path a whole key group arrives in one invocation, so sorting it with
  // `toArray` would materialize the group — a skewed key OOMs an executor.
  // These variants ride SortedScan.perKeyOrdered (spillable partition sort +
  // boundary scan) and keep only O(1)/O(n) rolling state per key, mirroring
  // the reference's RowTimeSortOperator buffer-per-watermark discipline.

  /** Batch running sum: state per key = (BigDecimal accumulator). */
  def runningSumBatch(rows: Dataset[KeyedRow]): Dataset[RunningEmit] = {
    import rows.sparkSession.implicits._
    SortedScan.perKeyOrdered(rows) { (key, it) =>
      var acc = java.math.BigDecimal.ZERO.setScale(2)
      it.map { r =>
        acc = acc.add(java.math.BigDecimal.valueOf(r.value)
          .setScale(2, java.math.RoundingMode.HALF_UP))
        RunningEmit(key, r.id, acc.doubleValue)
      }
    }
  }

  /** Batch bounded-ROWS OVER (RowTimeRowsBoundedPrecedingFunction.java):
    * rolling exact accumulator over the last `preceding`+1 rows — O(frame)
    * state per key on the spillable scan. */
  def boundedRowsPrecedingBatch(rows: Dataset[KeyedRow],
                                preceding: Int): Dataset[RunningEmit] = {
    import rows.sparkSession.implicits._
    def d2(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    SortedScan.perKeyOrdered(rows) { (key, it) =>
      var acc = java.math.BigDecimal.ZERO.setScale(2)
      val window = scala.collection.mutable.Queue.empty[java.math.BigDecimal]
      it.map { r =>
        val d = d2(r.value)
        acc = acc.add(d)
        window.enqueue(d)
        if (window.size > preceding + 1) acc = acc.subtract(window.dequeue())
        RunningEmit(key, r.id, acc.doubleValue)
      }
    }
  }

  /** Batch bounded-RANGE OVER (RowTimeRangeBoundedPrecedingFunction.java):
    * the frame `[ts - rangeUs, ts]` includes same-timestamp PEERS, so each
    * consecutive timestamp group is absorbed whole, the horizon evicted
    * with exact subtraction, and every peer emits the group's aggregate —
    * O(frame) state per key. */
  def boundedRangePrecedingBatch(rows: Dataset[KeyedRow],
                                 rangeUs: Long): Dataset[RunningEmit] = {
    import rows.sparkSession.implicits._
    def d2(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    SortedScan.perKeyOrdered(rows) { (key, it0) =>
      val it = it0.buffered
      new Iterator[RunningEmit] {
        private var acc = java.math.BigDecimal.ZERO.setScale(2)
        private val frame = scala.collection.mutable.Queue.empty[(Long, java.math.BigDecimal)]
        private var emits: List[RunningEmit] = Nil
        override def hasNext: Boolean = emits.nonEmpty || it.hasNext
        override def next(): RunningEmit = {
          if (emits.isEmpty) {
            val gts = it.head.ts
            var group = List.empty[KeyedRow] // collected newest-first
            while (it.hasNext && it.head.ts == gts) group ::= it.next()
            group.foreach { r =>
              val d = d2(r.value); acc = acc.add(d); frame.enqueue((r.ts, d))
            }
            while (frame.nonEmpty && frame.head._1 < gts - rangeUs)
              acc = acc.subtract(frame.dequeue()._2)
            val a = acc.doubleValue
            emits = group.reverse.map(r => RunningEmit(key, r.id, a))
          }
          val h = emits.head; emits = emits.tail; h
        }
      }
    }
  }

  /** Batch count-tumbling windows: state per key = (winId, count, max,
    * lastId) — the open window's aggregate only, no pending row buffer. */
  def countTumblingBatch(rows: Dataset[KeyedRow], n: Int): Dataset[CountWindowEmit] = {
    import rows.sparkSession.implicits._
    SortedScan.perKeyOrdered(rows) { (key, it) =>
      var winId = 0L; var cnt = 0; var mx = Double.NegativeInfinity; var last = 0L
      it.flatMap { r =>
        cnt += 1; mx = math.max(mx, r.value); last = r.id
        if (cnt == n) {
          val e = CountWindowEmit(key, winId, n.toLong, mx, last)
          winId += 1; cnt = 0; mx = Double.NegativeInfinity
          Iterator.single(e)
        } else Iterator.empty
      }
    }
  }

  /** Batch count-sliding windows: state per key = ring buffer of the last
    * `n` (value, id) pairs — the reference's count-evictor buffer, O(n). */
  def countSlidingBatch(rows: Dataset[KeyedRow], n: Int, slide: Int): Dataset[CountWindowEmit] = {
    import rows.sparkSession.implicits._
    SortedScan.perKeyOrdered(rows) { (key, it) =>
      val buf = scala.collection.mutable.ArrayDeque.empty[(Double, Long)]
      var seen = 0L
      it.flatMap { r =>
        seen += 1
        buf.append((r.value, r.id))
        if (buf.size > n) buf.removeHead()
        if (seen >= n && (seen - n) % slide == 0)
          Iterator.single(CountWindowEmit(key, (seen - n) / slide,
            buf.size.toLong, buf.iterator.map(_._1).max, buf.last._2))
        else Iterator.empty
      }
    }
  }

  /** Batch dynamic-gap sessions: state per key = the open session's
    * (count, max, lastId) plus the previous row — O(1). */
  def dynamicGapSessionsBatch(rows: Dataset[KeyedRow],
                              gapOfMicros: KeyedRow => Long): Dataset[CountWindowEmit] = {
    import rows.sparkSession.implicits._
    SortedScan.perKeyOrdered(rows) { (key, it) =>
      var sid = 0L; var cnt = 0L; var mx = Double.NegativeInfinity; var last = 0L
      var prev: KeyedRow = null
      // None sentinel closes the final open session at end-of-key
      (it.map(Option(_)) ++ Iterator(None)).flatMap {
        case Some(r) =>
          val closed =
            if (prev != null && r.ts - prev.ts > gapOfMicros(prev)) {
              val e = CountWindowEmit(key, sid, cnt, mx, last)
              sid += 1; cnt = 0; mx = Double.NegativeInfinity
              Iterator.single(e)
            } else Iterator.empty
          cnt += 1; mx = math.max(mx, r.value); last = r.id; prev = r
          closed
        case None =>
          if (cnt > 0) Iterator.single(CountWindowEmit(key, sid, cnt, mx, last))
          else Iterator.empty
      }
    }
  }

  /** Unbounded (no-watermark) stream-stream left-outer join with idle-state
    * TTL — the reference's StreamingJoinOperator
    * (operators/join/stream/StreamingJoinOperator.java:38; retraction logic
    * :124-242). Neither side carries a watermark, so no row is ever "too
    * late": each arriving row joins against the other side's full retained
    * state. Outer semantics are eager-with-retraction, exactly like the
    * reference: a left row with no match emits a null-padded +I immediately;
    * when a matching right row arrives later, the pad is retracted (-U) and
    * the real pairing emitted (+U). State on both sides is evicted after
    * `retention` of processing-time idleness (IDLE_STATE_RETENTION) — that
    * TTL is the only thing bounding state on a truly unbounded stream, which
    * is why the reference makes it a hard prerequisite for this operator at
    * scale. Shuffle: one hash partitioning of the tagged union on the key —
    * the same single keyBy as the reference. */
  def unboundedLeftOuterJoinWithTtl(left: Dataset[KeyedRow], right: Dataset[KeyedRow],
                                    retention: java.time.Duration): Dataset[JoinEmit] = {
    import left.sparkSession.implicits._
    val tagged =
      left.map(r => SidedRow("L", r.key, r.ts, r.id, r.value))
        .union(right.map(r => SidedRow("R", r.key, r.ts, r.id, r.value)))
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[JoinSideState, JoinEmit](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (key, it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(JoinSideState(Nil, Nil))
            val out = scala.collection.mutable.ListBuffer.empty[JoinEmit]
            // deterministic within-batch order (cross-batch order is arrival)
            it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
              if (r.side == "L") {
                if (st.right.nonEmpty)
                  st.right.sortBy(_._1).foreach { case (rid, rv) =>
                    out += JoinEmit("+I", key, r.id, Some(rid), r.value, Some(rv))
                  }
                else
                  out += JoinEmit("+I", key, r.id, None, r.value, None)
                st = st.copy(left = (r.id, r.value, st.right.isEmpty) :: st.left)
              } else {
                st.left.sortBy(_._1).foreach { case (lid, lv, padded) =>
                  if (padded) out += JoinEmit("-U", key, lid, None, lv, None)
                  out += JoinEmit(if (padded) "+U" else "+I", key, lid, Some(r.id), lv, Some(r.value))
                }
                st = JoinSideState(st.left.map(l => (l._1, l._2, false)),
                  (r.id, r.value) :: st.right)
              }
            }
            state.update(st)
            state.setTimeoutDuration(retention.toMillis)
            out.iterator
          }
      }
  }

  /** Tumbling window aggregate with a late-data side output — the
    * reference's WindowOperator.sideOutputLateData
    * (windowing/WindowOperator.java:136-139): a row whose window has already
    * fired (window end ≤ current watermark) is not silently dropped but
    * emitted on the "late" channel, so a pipeline can quarantine it. Closed
    * windows emit on the "window" channel once the watermark passes their
    * end; open-window partials (count+sum only — O(#open windows) state, not
    * O(rows)) wait in state with an event-time timeout to guarantee the
    * flush even if the key goes quiet. */
  def tumbleAggWithLateSideOutput(rows: Dataset[KeyedRow], widthMicros: Long,
                                  delay: String = "0 seconds"): Dataset[LateTagEmit] = {
    import rows.sparkSession.implicits._
    rows
      .withColumn("ets", timestamp_micros(col("ts")))
      .withWatermark("ets", delay)
      .as[SortRowW]
      .groupByKey(_.key)
      // window closure is driven by the EVENT-time watermark (read via
      // getCurrentWatermarkMs); the timeout is processing-time only as a
      // liveness nudge, because an event-time timeout would also re-enable
      // the engine's pre-operator late-row filter — and late rows must
      // reach the operator to be side-output instead of silently dropped
      .flatMapGroupsWithState[WindowAggState, LateTagEmit](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (key, it, state) =>
          val wm = state.getCurrentWatermarkMs() * 1000L
          var st = state.getOption.getOrElse(WindowAggState(Nil))
          val out = scala.collection.mutable.ListBuffer.empty[LateTagEmit]
          if (!state.hasTimedOut)
            it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
              val winStart = (r.ts / widthMicros) * widthMicros
              if (winStart + widthMicros <= wm) // window already fired → quarantine
                out += LateTagEmit("late", key, winStart, 0L, r.value, r.id)
              else {
                val (same, rest) = st.windows.partition(_._1 == winStart)
                val (_, n, sum) = same.headOption.getOrElse((winStart, 0L, 0.0))
                st = WindowAggState((winStart, n + 1, sum + r.value) :: rest)
              }
            }
          val (closed, open) = st.windows.partition(_._1 + widthMicros <= wm)
          closed.sortBy(_._1).foreach { case (ws, n, sum) =>
            out += LateTagEmit("window", key, ws, n, sum, -1L)
          }
          if (open.isEmpty) { if (state.exists) state.remove() } // no open windows → no state
          else {
            state.update(WindowAggState(open))
            state.setTimeoutDuration(500L) // re-check closure as wm advances
          }
          out.iterator
      }
  }

  /** Temporal sort (StreamExecTemporalSort.scala:50 /
    * RowTimeSortOperator.java): emit rows in event-time order once the
    * watermark passes them. Same buffer-and-release discipline as the
    * streaming CEP operator; requires a watermark upstream. */
  def temporalSort(rows: Dataset[KeyedRow], delay: String = "0 seconds"): Dataset[KeyedRow] = {
    import rows.sparkSession.implicits._
    rows
      .withColumn("ets", timestamp_micros(col("ts")))
      .withWatermark("ets", delay)
      .as[SortRowW]
      .groupByKey(_.key)
      .flatMapGroupsWithState[List[KeyedRow], KeyedRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val all = (state.getOption.getOrElse(Nil) ++
            it.map(w => KeyedRow(w.key, w.ts, w.id, w.kind, w.value)))
            .sortBy(r => (r.ts, r.id))
          val (ready, pending) = all.partition(_.ts <= wmMicros)
          state.update(pending)
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.head.ts / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
          ready.iterator
      }
  }

  /** Side outputs (OutputTag / SingleOutputStreamOperator.getSideOutput):
    * one pass tags each row, consumers split by tag — the "tagged union"
    * mapping from SURVEY §2.2. Returns the tagged stream plus a selector. */
  def tagRows(rows: Dataset[KeyedRow], tagOf: KeyedRow => String): Dataset[(String, KeyedRow)] = {
    import rows.sparkSession.implicits._
    rows.map(r => (tagOf(r), r))
  }
  def sideOutput(tagged: Dataset[(String, KeyedRow)], tag: String): Dataset[KeyedRow] = {
    import tagged.sparkSession.implicits._
    tagged.filter(_._1 == tag).map(_._2)
  }

  // ---- batch adapters over the events table (driver's oracle surface) ----

  private def eventRows(s: SparkSession, dir: String): Dataset[KeyedRow] = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(col("user_id").as("key"),
        expr("unix_micros(cast(ts as timestamp))").as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]
  }

  def qTopN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    topNPerKey(eventRows(s, dir), 3)
      .select($"key".as("user_id"), $"id".as("event_id"), $"value", $"rnk")
      .orderBy($"user_id", $"rnk")
  }

  /** Retractable Top-N over a real changelog: each event UPDATES its
    * (user, slot) cell — [[Changelog.keyedChangelog]] turns that into
    * -U/+U retractions — and [[Changelog.retractableTopN]] maintains the
    * user's top-3 slots under those retractions. The graded result is the
    * emission log FOLDED back into the final rank table (highest-seq
    * +I/+U per (user, rank)), which must equal a plain rank over the
    * last value per slot. */
  def qRetractTopN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slotRows = graft.Tables.load(s, dir, "events")
      .select((col("user_id") * 16 + pmod(col("event_id"), lit(4))).as("key"),
        expr("unix_micros(cast(ts as timestamp))").as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]
    val changes = Changelog.keyedChangelog(slotRows)
      .map(c => Changelog.Change(c.kind, c.key / 16, c.key % 16, c.ts, c.value))
    Changelog.retractableTopN(changes, 3).toDF()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("key"), col("rnk")).orderBy(col("seq").desc)))
      .filter(col("rn") === 1 && (col("kind") === "+I" || col("kind") === "+U"))
      .select(col("key").as("user_id"), col("rnk"), col("id").as("slot"), col("value"))
      .orderBy(col("user_id"), col("rnk"))
  }

  /** Streaming retractable SORT-LIMIT (the reference's StreamExecSortLimit:
    * a GLOBAL ORDER BY ... LIMIT n maintained under updates). Global =
    * [[Changelog.retractableTopN]] keyed by a constant — mirroring the
    * reference's parallelism-1 constraint on this operator (the state is
    * one ordered buffer for the whole stream; the per-key variant is the
    * scale path). Identity = the (user, slot) cell of [[qRetractTopN]];
    * the graded result folds the changelog into the final global top-5. */
  def qSortLimitStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cellRows = graft.Tables.load(s, dir, "events")
      .select((col("user_id") * 16 + pmod(col("event_id"), lit(4))).as("key"),
        expr("unix_micros(cast(ts as timestamp))").as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]
    val global = Changelog.keyedChangelog(cellRows)
      .map(c => Changelog.Change(c.kind, 0L, c.key, c.ts, c.value))
    Changelog.retractableTopN(global, 5).toDF()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("rnk")).orderBy(col("seq").desc)))
      .filter(col("rn") === 1 && (col("kind") === "+I" || col("kind") === "+U"))
      .select(col("rnk"), expr("id div 16").as("user_id"),
        pmod(col("id"), lit(16)).as("slot"), col("value"))
      .orderBy(col("rnk"))
  }

  def qDedupLast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupKeepLast(eventRows(s, dir))
      .select($"key".as("user_id"), $"id".as("event_id"), $"ts", $"value")
      .orderBy($"user_id")
  }

  def qRunningSum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runningSumBatch(eventRows(s, dir))
      .select($"key".as("user_id"), $"id".as("event_id"), $"run_sum")
      .orderBy($"user_id", $"event_id")
  }

  def qRowsBounded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    boundedRowsPrecedingBatch(eventRows(s, dir), 9)
      .select($"key".as("user_id"), $"id".as("event_id"), $"run_sum".as("frame_sum"))
      .orderBy($"user_id", $"event_id")
  }

  def qRangeBounded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    boundedRangePrecedingBatch(eventRows(s, dir), 3600L * 1000000L) // 1 hour
      .select($"key".as("user_id"), $"id".as("event_id"), $"run_sum".as("frame_sum"))
      .orderBy($"user_id", $"event_id")
  }

  def qCountWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    countTumblingBatch(eventRows(s, dir), 10)
      .select($"key".as("user_id"), $"win_id", $"n_events", $"max_value", $"last_id")
      .orderBy($"user_id", $"win_id")
  }

  def qCountSliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    countSlidingBatch(eventRows(s, dir), 10, 5)
      .select($"key".as("user_id"), $"win_id", $"n_events", $"max_value", $"last_id")
      .orderBy($"user_id", $"win_id")
  }

  /** gap = 30 min for events with value < 100, else 2 h — data-dependent. */
  def qDynamicSession(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dynamicGapSessionsBatch(eventRows(s, dir),
      r => if (r.value < 100) 1800L * 1000000L else 7200L * 1000000L)
      .select($"key".as("user_id"), $"win_id".as("session_id"),
        $"n_events", $"max_value", $"last_id")
      .orderBy($"user_id", $"session_id")
  }

  type QFn = (SparkSession, String) => DataFrame
  /** Processing-time temporal join, streaming form
    * (TemporalProcessTimeJoinOperator.java:48): the build side keeps ONLY
    * its latest version per key in state (no version history — that's the
    * event-time variant's job), and each probe row joins whatever version
    * the state holds when the row is processed. Inner semantics: probes
    * with no version yet are dropped, never retro-filled — exactly the
    * reference's proctime contract ("the join result is not deterministic
    * in event time, only in arrival order").
    *
    * Micro-batch determinism policy: within one batch, build updates apply
    * BEFORE probes (latest build row by (ts, id) as the arrival proxy).
    * Flink leaves same-instant ordering to operator scheduling; a batch
    * engine must pick a reproducible order, and build-first is the one the
    * keep-last + join batch degeneration agrees with.
    *
    * Scale: state is one row per build key — the minimum any temporal join
    * can hold — and the union shuffles each side once on the join key. */
  def proctimeTemporalJoin(left: Dataset[KeyedRow], right: Dataset[KeyedRow],
                           outer: Boolean = false): Dataset[(Long, Long, String)] = {
    import left.sparkSession.implicits._
    val tagged = right.map(r => TemporalTagged(r.key, build = true, r.ts, r.id, r.kind, r.value))
      .union(left.map(l => TemporalTagged(l.key, build = false, l.ts, l.id, l.kind, l.value)))
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[KeyedRow, (Long, Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state: GroupState[KeyedRow]) =>
          val rows = it.toSeq
          val builds = rows.filter(_.build)
          if (builds.nonEmpty) {
            val latest = builds.maxBy(b => (b.ts, b.id))
            val cur = state.getOption
            if (cur.forall(c => Ordering[(Long, Long)].lteq((c.ts, c.id), (latest.ts, latest.id))))
              state.update(KeyedRow(key, latest.ts, latest.id, latest.kind, latest.value))
          }
          val version = state.getOption
          rows.filterNot(_.build).sortBy(p => (p.ts, p.id)).iterator.flatMap { p =>
            version match {
              case Some(v) => Some((key, p.id, v.kind))
              // LEFT form (TemporalJoinITCase.scala:344
              // testProcTimeLeftTemporalJoin): a probe with no version yet
              // emits null-padded instead of dropping — still never
              // retro-filled when a version later arrives
              case None if outer => Some((key, p.id, null))
              case None => None
            }
          }
      }
  }

  /** EVENT-time temporal join, streaming form — the reference's
    * TemporalRowTimeJoinOperator.java:77 (StreamExecTemporalJoin): buffer
    * probe rows and version rows per key; when the WATERMARK passes a
    * probe's time, join it with the latest version whose time ≤ the
    * probe's (binary search over the buffered history,
    * latestRightRowToJoin:332-355) — inner drops versionless probes, the
    * LEFT form null-pads them. Version cleanup is the reference's rule:
    * versions above the watermark are all retained, and of those at or
    * below it only the NEWEST survives (every future probe has
    * ts > watermark, so older versions are dominated) — state per key is
    * the in-flight horizon, never the stream. Late rows (at or behind the
    * watermark) drop on both sides. On a bounded Dataset the whole key
    * group arrives at once and every probe resolves at end of group. */
  def eventTimeTemporalJoin(left: Dataset[KeyedRow], right: Dataset[KeyedRow],
                            outer: Boolean = false,
                            watermarkDelay: String = "0 seconds",
                            idleRetentionMs: Option[Long] = None): Dataset[AsOfStreamEmit] = {
    import left.sparkSession.implicits._
    val streaming = left.isStreaming
    val tagged = right.map(r => TemporalTagged(r.key, build = true, r.ts, r.id, r.kind, r.value))
      .union(left.map(l => TemporalTagged(l.key, build = false, l.ts, l.id, l.kind, l.value)))
      .withColumn("ets", timestamp_micros($"ts")).as[TemporalTaggedW]
    val marked = if (streaming) tagged.withWatermark("ets", watermarkDelay) else tagged
    marked.groupByKey(_.key)
      .flatMapGroupsWithState[TemporalRowTimeState, AsOfStreamEmit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, it, state) =>
          val st = state.getOption.getOrElse(TemporalRowTimeState(Nil, Nil))
          var probes: Vector[KeyedRow] = st.probes.toVector
          var versions: Vector[KeyedRow] = st.versions.toVector
          val out = scala.collection.mutable.ListBuffer.empty[AsOfStreamEmit]
          val wmMs = if (streaming) state.getCurrentWatermarkMs else Long.MinValue
          if (!state.hasTimedOut) {
            val fresh = it.toArray.filter(r => !streaming || r.ts / 1000 > wmMs)
            val (vs, ps) = fresh.partition(_.build)
            // merge-insert: only the fresh chunk is sorted; one linear merge
            // folds it into the retained (ts, id)-ascending buffer — no
            // per-trigger full re-sort of a deep version history (the
            // reference keeps a ts-keyed sorted MapState for the same
            // reason, TemporalRowTimeJoinOperator.java:144)
            if (vs.nonEmpty)
              versions = mergeByTsId(versions,
                vs.map(v => KeyedRow(key, v.ts, v.id, v.kind, v.value)).sortBy(x => (x.ts, x.id)))
            if (ps.nonEmpty)
              probes = mergeByTsId(probes,
                ps.map(p => KeyedRow(key, p.ts, p.id, p.kind, p.value)).sortBy(x => (x.ts, x.id)))
          }
          // probes the watermark has passed resolve now: the latest version
          // with ts ≤ probe ts can no longer change (any new version there
          // would be late-dropped)
          val (ready, pending) =
            if (streaming) probes.partition(_.ts / 1000 <= wmMs)
            else (probes, Vector.empty[KeyedRow])
          // ready and versions are both (ts, id)-ascending: one forward
          // cursor resolves every ready probe in O(|ready| + |versions|) —
          // the sorted-batch amortization of the reference's per-probe
          // binary search (latestRightRowToJoin:332-355); a hot key with a
          // deep in-flight history pays one pass per trigger, not
          // O(probes × versions)
          var vi = 0
          ready.foreach { p =>
            while (vi < versions.length && versions(vi).ts <= p.ts) vi += 1
            if (vi > 0) {
              val v = versions(vi - 1)
              out += AsOfStreamEmit(key, p.id, p.ts, Some(v.id), Some(v.ts), Some(v.value))
            } else if (outer) out += AsOfStreamEmit(key, p.id, p.ts, None, None, None)
          }
          probes = pending
          // reference cleanup: keep versions above the watermark plus the
          // single newest at-or-below it
          if (streaming && versions.nonEmpty) {
            val (below, above) = versions.partition(_.ts / 1000 <= wmMs)
            versions = below.lastOption.toVector ++ above
          }
          if (probes.isEmpty && versions.isEmpty) state.remove()
          else if (state.hasTimedOut && probes.isEmpty &&
              wmMs >= st.idleDeadlineMs) {
            // idle-key eviction: the fired timer was the idle-retention
            // deadline (not a probe-resolution timer) and no probes are
            // pending — drop the retained version rows. Same trade-off as
            // the reference's idle-state retention: a probe arriving after
            // the retention window finds no version (inner drops it, the
            // LEFT form null-pads).
            state.remove()
          } else {
            if (streaming && probes.nonEmpty) {
              state.update(TemporalRowTimeState(probes.toList, versions.toList))
              state.setTimeoutTimestamp(math.max(probes.head.ts / 1000 + 1, wmMs + 1))
            } else if (streaming && idleRetentionMs.isDefined) {
              // only versions remain: register the idle-retention deadline
              // so a key that never receives further input still evicts
              val deadline = math.max(wmMs, 0L) + idleRetentionMs.get
              state.update(TemporalRowTimeState(probes.toList, versions.toList, deadline))
              state.setTimeoutTimestamp(deadline)
            } else
              state.update(TemporalRowTimeState(probes.toList, versions.toList))
          }
          out.iterator
      }
  }

  /** Linear merge of two (ts, id)-ascending KeyedRow sequences. */
  private def mergeByTsId(a: Vector[KeyedRow], b: Array[KeyedRow]): Vector[KeyedRow] = {
    if (a.isEmpty) return b.toVector
    if (b.isEmpty) return a
    val buf = Vector.newBuilder[KeyedRow]
    buf.sizeHint(a.length + b.length)
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x.ts < y.ts || (x.ts == y.ts && x.id <= y.id)) { buf += x; i += 1 }
      else { buf += y; j += 1 }
    }
    while (i < a.length) { buf += a(i); i += 1 }
    while (j < b.length) { buf += b(j); j += 1 }
    buf.result()
  }

  /** Oracle row: [[eventTimeTemporalJoin]] driven as a REAL StreamingQuery
    * over the file-streamed events table — purchases probe the clicks
    * version history, inner keyword semantics, drained through the
    * exactly-once file sink. Every real row arrives in the first trigger
    * (nothing is late against the initial watermark); the end marker
    * ([[Bounded.withEnd]] on the probe side) then advances the shared
    * watermark past every real row in a trigger of its own, so the buffered
    * probes all resolve before the drain stops. */
  def qStreamAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val relay = graft.RelayDir.fresh("asof_stream_out", dir)
    val end = s"$relay.end"
    val schema = Tables.schema(s, dir, "events")
    val ev = Tables.streamTable(s, dir, "events", schema)
      .select(col("user_id").as("key"), Tables.tsAsMicrosLong(schema).as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]
    val probes = Bounded.withEnd(ev.filter(col("kind") === "purchase"), end)
    graft.RelayDir.drain(s, eventTimeTemporalJoin(probes,
        ev.filter(col("kind") === "click")).toDF(), relay, Some(end))
      .select(col("key").as("u"), col("probe_id").as("p_id"),
        col("version_id").as("asof_click_id"),
        col("version_ts").as("asof_click_ts_us"))
      .orderBy(col("u"), col("p_id"))
  }

  def queries: Map[String, QFn] = Map(
    "stream_topn" -> (qTopN _),
    "stream_asof_join" -> (qStreamAsofJoin _),
    "stream_retract_topn" -> (qRetractTopN _),
    "cdc_pipeline" -> ((s: SparkSession, d: String) => Changelog.qCdcPipeline(s, d)),
    "cdc_pipeline_minibatch" ->
      ((s: SparkSession, d: String) => Changelog.qCdcPipeline(s, d, miniBatch = true)),
    "stream_sort_limit" -> (qSortLimitStream _),
    "stream_dedup_last" -> (qDedupLast _),
    "stream_over_running" -> (qRunningSum _),
    "stream_over_rows_bounded" -> (qRowsBounded _),
    "stream_over_range_bounded" -> (qRangeBounded _),
    "stream_count_windows" -> (qCountWindows _),
    "stream_count_sliding" -> (qCountSliding _),
    "stream_dynamic_session" -> (qDynamicSession _)
  )

  // the composed CDC chain's final state = keep-last per user → integer
  // micro-unit sums per value-decile bucket → top 3 (sum DESC, bucket ASC);
  // the mini-batch variant shares it verbatim — per-batch folding changes
  // the changelog GRANULARITY, never the converged snapshot
  private val cdcOracleSql =
    """WITH lastr AS (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events),
          m AS (SELECT CAST(round(value * 1e6, 0) AS BIGINT) AS micros
                FROM lastr WHERE rn = 1),
          b AS (SELECT ((CAST(floor(micros / 1e6) AS BIGINT) % 10) + 10) % 10 AS bucket,
                       sum(micros) AS sum_micros
                FROM m GROUP BY 1),
          r AS (SELECT bucket, sum_micros,
                       row_number() OVER (ORDER BY CAST(sum_micros AS DOUBLE) DESC,
                                          bucket ASC) AS rnk
                FROM b)
          SELECT CAST(rnk AS INT) AS rnk, bucket,
                 CAST(sum_micros AS DOUBLE) / 1e6 AS total
          FROM r WHERE rnk <= 3 ORDER BY rnk"""

  def oracles: Map[String, String] = Map(
    // inner event-time temporal join, resolved streaming: the latest click
    // version at-or-before each purchase; versionless purchases drop
    "stream_asof_join" ->
      """SELECT u, p_id, asof_click_id, asof_click_ts_us FROM (
           SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS asof_click_id,
                  epoch_us(c.ts) AS asof_click_ts_us,
                  row_number() OVER (PARTITION BY p.user_id, p.event_id
                                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.ts <= p.ts)
         WHERE rn = 1 ORDER BY u, p_id""",
    "cdc_pipeline" -> cdcOracleSql,
    "cdc_pipeline_minibatch" -> cdcOracleSql,
    // the rank changelog folded = plain rank over each slot's LAST value
    "stream_retract_topn" ->
      """WITH e AS (SELECT user_id, event_id % 4 AS slot, value,
                      epoch_us(ts) AS uts, event_id
                    FROM events),
          l AS (SELECT user_id, slot, value,
                  row_number() OVER (PARTITION BY user_id, slot
                    ORDER BY uts DESC, event_id DESC) AS rn
                FROM e),
          cur AS (SELECT user_id, slot, value FROM l WHERE rn = 1),
          r AS (SELECT user_id, slot, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, slot) AS rnk
                FROM cur)
          SELECT user_id, CAST(rnk AS INT) AS rnk, slot, value
          FROM r WHERE rnk <= 3
          ORDER BY user_id, rnk""",
    "stream_sort_limit" ->
      """WITH e AS (SELECT user_id, event_id % 4 AS slot, value,
                      epoch_us(ts) AS uts, event_id
                    FROM events),
          l AS (SELECT user_id, slot, value,
                  row_number() OVER (PARTITION BY user_id, slot
                    ORDER BY uts DESC, event_id DESC) AS rn
                FROM e),
          cur AS (SELECT user_id, slot, value,
                    user_id * 16 + slot AS cell
                  FROM l WHERE rn = 1),
          r AS (SELECT user_id, slot, value,
                  row_number() OVER (ORDER BY value DESC, cell) AS rnk
                FROM cur)
          SELECT CAST(rnk AS INT) AS rnk, user_id, slot, value
          FROM r WHERE rnk <= 5 ORDER BY rnk""",
    "stream_topn" ->
      """SELECT user_id, event_id, value, CAST(rnk AS INT) AS rnk FROM (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
           FROM events)
         WHERE rnk <= 3 ORDER BY user_id, rnk""",
    "stream_dedup_last" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts, value FROM (
           SELECT user_id, event_id, ts, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "stream_over_running" ->
      """SELECT user_id, event_id,
                CAST(sum(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
         FROM events ORDER BY user_id, event_id""",
    "stream_over_rows_bounded" ->
      """SELECT user_id, event_id,
                CAST(sum(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE) AS frame_sum
         FROM events ORDER BY user_id, event_id""",
    // RANGE frames order by the time attribute alone; same-ts peers share
    // the frame aggregate in both engines
    "stream_over_range_bounded" ->
      """SELECT user_id, event_id,
                CAST(sum(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY ts
                           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE) AS frame_sum
         FROM events ORDER BY user_id, event_id""",
    "stream_count_windows" ->
      """SELECT user_id, win_id, count(*) AS n_events, max(value) AS max_value,
                max(event_id) FILTER (rn_in = 9) AS last_id
         FROM (
           SELECT user_id, event_id, value,
                  (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 10 AS win_id,
                  (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) % 10 AS rn_in
           FROM events)
         GROUP BY user_id, win_id HAVING count(*) = 10
         ORDER BY user_id, win_id""",
    "stream_count_sliding" ->
      """SELECT user_id, (rn - 10) // 5 AS win_id, CAST(10 AS BIGINT) AS n_events,
                mx AS max_value, event_id AS last_id
         FROM (
           SELECT user_id, event_id,
                  row_number() OVER w AS rn,
                  max(value) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS mx
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WHERE rn >= 10 AND (rn - 10) % 5 = 0
         ORDER BY user_id, win_id""",
    "stream_dynamic_session" ->
      """WITH o AS (
           SELECT user_id, event_id, value, ts,
                  lag(ts) OVER w AS pts, lag(value) OVER w AS pv
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         b AS (
           SELECT *, CASE WHEN pts IS NULL THEN 0
                          WHEN epoch_us(ts) - epoch_us(pts) >
                               (CASE WHEN pv < 100 THEN 1800000000 ELSE 7200000000 END) THEN 1
                          ELSE 0 END AS brk
           FROM o),
         s AS (
           SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM b),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                        ORDER BY ts DESC, event_id DESC) AS rn_desc
           FROM s)
         SELECT user_id, session_id, count(*) AS n_events, max(value) AS max_value,
                max(CASE WHEN rn_desc = 1 THEN event_id END) AS last_id
         FROM r GROUP BY user_id, session_id
         ORDER BY user_id, session_id"""
  )
}
