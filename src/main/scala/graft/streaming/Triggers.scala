package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** One window firing: `fire_seq` numbers the fires within (key, win_start);
  * the aggregate is over the post-eviction buffer. */
case class TriggerEmit(key: Long, win_start: Long, fire_seq: Long, n_buf: Long,
                       max_value: Double, sum_value: Double, last_id: Long)

/** Trigger / evictor composition over keyed tumbling windows — the
  * reference's DataStream windowing stack
  * (streaming/api/windowing/triggers/CountTrigger.java, DeltaTrigger.java,
  * ContinuousEventTimeTrigger.java; windowing/evictors/CountEvictor.java,
  * TimeEvictor.java, DeltaEvictor.java; composed in WindowOperator /
  * EvictingWindowOperator.java).
  *
  * A trigger decides WHEN a window's contents are emitted (possibly many
  * times before the window closes — "early fire"); an evictor trims the
  * buffer immediately before each emission (evict-before semantics, the
  * reference's default), and eviction is destructive — evicted rows leave
  * the pane for good, as in EvictingWindowOperator. A trigger REPLACES the
  * default event-time trigger: the event-time-driven triggers fire the pane
  * at window close, while pure count/delta panes discard leftover rows at
  * cleanup without firing — exactly the reference's (occasionally
  * surprising) behavior.
  *
  * Scale note: unlike the evictor-less windows (incremental count+sum
  * state), an evicting window necessarily BUFFERS rows — exactly as the
  * reference's EvictingWindowOperator keeps the full pane in list state.
  * State per key = rows of the currently-open window only; closed windows
  * release their buffer on the terminal fire.
  */
object Triggers {

  sealed trait WinTrigger
  /** fire after every n rows in the pane (CountTrigger.java:28) */
  case class CountTrigger(n: Int) extends WinTrigger
  /** fire whenever `delta(lastFired, current) > threshold` (DeltaTrigger.java:43) */
  case class DeltaTrigger(threshold: Double, delta: (KeyedRow, KeyedRow) => Double) extends WinTrigger
  /** fire at every `intervalMicros` boundary of event time within the
    * window (ContinuousEventTimeTrigger.java:32) */
  case class ContinuousEventTimeTrigger(intervalMicros: Long) extends WinTrigger
  /** terminal fire only — the stock EventTimeTrigger */
  case object EventTimeTriggerOnly extends WinTrigger

  sealed trait WinEvictor
  case object NoEvictor extends WinEvictor
  /** keep only the last `keep` rows (CountEvictor.java:28) */
  case class CountEvictor(keep: Int) extends WinEvictor
  /** keep only rows within `spanMicros` of the newest (TimeEvictor.java:29) */
  case class TimeEvictor(spanMicros: Long) extends WinEvictor
  /** drop rows whose delta to the newest exceeds threshold (DeltaEvictor.java:38) */
  case class DeltaEvictor(threshold: Double, delta: (KeyedRow, KeyedRow) => Double) extends WinEvictor

  private[streaming] case class PaneState(winStart: Long, buf: Vector[KeyedRow],
                                          sinceFire: Int, fires: Long,
                                          lastFired: Option[KeyedRow], nextContinuous: Long)
  /** Built once per JVM — see [[StateEncoder]]. */
  private implicit val paneStateEncoder: Encoder[PaneState] = StateEncoder[PaneState]

  private def evict(buf: Vector[KeyedRow], evictor: WinEvictor): Vector[KeyedRow] = evictor match {
    case NoEvictor => buf
    case CountEvictor(k) => buf.takeRight(k)
    case TimeEvictor(span) =>
      val newest = buf.last.ts
      buf.filter(r => newest - r.ts <= span)
    case DeltaEvictor(th, d) =>
      val newest = buf.last
      buf.filter(r => (r eq newest) || d(r, newest) <= th)
  }

  private def emit(key: Long, st: PaneState, buf: Vector[KeyedRow]): TriggerEmit =
    TriggerEmit(key, st.winStart, st.fires, buf.size.toLong,
      buf.map(_.value).max, buf.map(_.value).sum, buf.last.id)

  /** Tumbling event-time windows of `widthMicros` driven by (trigger,
    * evictor), one [[KeyedFold]] per key: state = the open pane's row
    * buffer only (inherent to evictors — the reference's
    * EvictingWindowOperator keeps the same list state). A row of a later
    * window closes the open pane (its terminal fire); on a bounded Dataset
    * the last pane closes at the end of the key. On a stream the
    * event-time triggers run as an event-time fold (0 s watermark delay,
    * timer at the window's last microsecond), so a quiet key's last pane
    * fires once the watermark passes it; count/delta panes have no
    * terminal fire and wait for a later-window row. */
  def triggeredTumbleWindows(rows: Dataset[KeyedRow], widthMicros: Long,
                             trigger: WinTrigger, evictor: WinEvictor): Dataset[TriggerEmit] = {
    import rows.sparkSession.implicits._
    // event-time-driven triggers fire the pane at window close; pure
    // count/delta triggers discard leftovers (reference semantics)
    val terminalFires = trigger match {
      case EventTimeTriggerOnly | ContinuousEventTimeTrigger(_) => true
      case _ => false
    }
    def boundary(r: KeyedRow, otherwise: Long): Long = trigger match {
      case ContinuousEventTimeTrigger(iv) => (r.ts / iv) * iv + iv
      case _ => otherwise
    }
    KeyedFold.run(rows, new RowFold[PaneState, TriggerEmit] {
      def init = PaneState(Long.MinValue, Vector.empty, 0, 0L, None, Long.MaxValue)
      // eviction is DESTRUCTIVE, as in EvictingWindowOperator: evicted
      // rows leave the pane state and never contribute again
      private def fire(key: Long, st: PaneState): (PaneState, List[TriggerEmit]) = {
        val b = evict(st.buf, evictor)
        (st.copy(buf = b, sinceFire = 0, fires = st.fires + 1),
          if (b.isEmpty) Nil else List(emit(key, st, b)))
      }
      // no row after the horizon falls in the pane's window: close it
      override def close(key: Long, st: PaneState, horizonUs: Long) =
        if (st.winStart > horizonUs - widthMicros + 1) (st, Nil)
        else (init, if (terminalFires && st.buf.nonEmpty) fire(key, st)._2 else Nil)
      override def due(st: PaneState) =
        if (st.winStart == Long.MinValue) None else Some(st.winStart + widthMicros - 1)
      def step(key: Long, st0: PaneState, r: KeyedRow) = {
        val ws = (r.ts / widthMicros) * widthMicros
        // DeltaTrigger's reference point initializes to the pane's first
        // element (DeltaTrigger.java onElement's first call)
        val (opened, closed) =
          if (ws == st0.winStart) (st0, Nil)
          else (PaneState(ws, Vector.empty, 0, 0L, Some(r), boundary(r, Long.MaxValue)),
            close(key, st0, Long.MaxValue)._2)
        val st = opened.copy(buf = opened.buf :+ r, sinceFire = opened.sinceFire + 1)
        val fires = trigger match {
          case CountTrigger(n) => st.sinceFire >= n
          case DeltaTrigger(th, d) => st.lastFired.exists(lf => d(lf, r) > th)
          case ContinuousEventTimeTrigger(_) => r.ts >= st.nextContinuous
          case EventTimeTriggerOnly => false
        }
        if (!fires) (st, closed)
        else {
          val (after, out) =
            fire(key, st.copy(lastFired = Some(r), nextContinuous = boundary(r, st.nextContinuous)))
          (after, closed ++ out)
        }
      }
    }, if (terminalFires) Some("0 seconds") else None)
  }

  // ---- oracle surface: CountTrigger(5) + CountEvictor(3) on 1-day windows
  // (hour panes hold < 5 rows at the driver's sf, which made the row
  // vacuously empty — day panes actually fire) ----

  /** Every 5th row of each (user, day) pane emits max/sum of the last 3
    * rows — deterministic and SQL-reproducible via window frames. */
  def qTriggerCountEvict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = graft.Tables.load(s, dir, "events")
      .select(col("user_id").as("key"),
        expr("unix_micros(cast(ts as timestamp))").as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]
    triggeredTumbleWindows(rows, 86400L * 1000000L, CountTrigger(5), CountEvictor(3))
      .select($"key".as("user_id"), $"win_start", $"fire_seq", $"n_buf",
        $"max_value", $"last_id")
      .orderBy($"user_id", $"win_start", $"fire_seq")
  }

  type QFn = (SparkSession, String) => DataFrame
  def queries: Map[String, QFn] = Map(
    "stream_trigger_count_evict" -> (qTriggerCountEvict _)
  )

  /** Count panes never terminally fire (trigger replaces event-time
    * default), so the fires are exactly the rn%5==0 rows, each aggregating
    * the post-eviction buffer = the last-3-rows frame. */
  def oracles: Map[String, String] = Map(
    "stream_trigger_count_evict" ->
      """SELECT user_id, win_start, CAST(rn / 5 - 1 AS BIGINT) AS fire_seq,
                CAST(n3 AS BIGINT) AS n_buf, mx3 AS max_value, event_id AS last_id
         FROM (
           SELECT user_id, event_id,
                  epoch_us(date_trunc('day', ts)) AS win_start,
                  row_number() OVER w AS rn,
                  max(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mx3,
                  count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3
           FROM events
           WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts, event_id))
         WHERE rn % 5 = 0 ORDER BY user_id, win_start, fire_seq"""
  )
}
