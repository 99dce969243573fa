package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-windowed operators, batch semantics (SURVEY.md §2.5 / §2.3).
  *
  * Covers the reference's group windows — TUMBLE/HOP/SESSION
  * (StreamExecGroupWindowAggregate.scala:33, WindowOperator.java:98,
  * assigners in operators/window/assigners/) — the interval join
  * (StreamExecIntervalJoin.scala:54, TimeIntervalJoin.java), and the
  * temporal/as-of join (StreamExecTemporalJoin.scala:56,
  * TemporalRowTimeJoinOperator.java:77, whose latestRightRowToJoin:332-355
  * binary-search is exactly a "last version ≤ t" pick).
  *
  * Batch versions here are the semantic ground truth; the streaming module
  * runs the same shapes incrementally (specs drive them via MemoryStream).
  * Spark-first: `window()` / `session_window()` are native generators, the
  * interval join is an equi-join on user + a range predicate (Catalyst
  * plans the equi-part as the shuffle key, so the range filter never forces
  * a cartesian product), and the as-of pick is ROW_NUMBER=1 — which
  * Catalyst executes with a WindowGroupLimit at scale.
  */
object TimeOps {
  type QFn = (SparkSession, String) => DataFrame

  /** TUMBLE window aggregate (TumblingWindowAssigner). */
  private def tumble(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("w.start").cast("timestamp_ntz").as("w_start"),
              col("event_type"), col("n"), col("total"))
      .orderBy(col("w_start"), col("event_type"))

  /** HOP (sliding) window aggregate (SlidingWindowAssigner): 2h window,
    * 1h slide — every event lands in exactly 2 windows. */
  private def hop(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp_ntz").as("w_start"), col("n"))
      .orderBy(col("w_start"))

  /** SESSION window aggregate (SessionWindowAssigner, 30 min gap), keyed by
    * user. Spark's session_window merges on the shuffled key exactly like
    * the reference's session merging; end = last event + gap. */
  private def session(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
              col("w.start").cast("timestamp_ntz").as("s_start"),
              col("w.end").cast("timestamp_ntz").as("s_end"), col("n"))
      .orderBy(col("user_id"), col("s_start"))

  /** CUMULATE window (CumulativeWindowAssigner): growing windows from a
    * shared 4h origin in 1h steps — expressed as a union of tumbles via an
    * explicit step explode (the reference implements it the same way:
    * paned aggregation). */
  private def cumulate(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      // 4h-aligned origin + how many whole hours into the 4h span the event
      // sits; the event belongs to every cumulative window k > elapsed_h.
      .withColumn("w", window(col("ts"), "4 hours"))
      .withColumn("elapsed_h",
        floor((unix_timestamp(col("ts").cast("timestamp")) -
               unix_timestamp(col("w.start").cast("timestamp"))) / 3600).cast("int"))
      .withColumn("k", explode(sequence(col("elapsed_h") + 1, lit(4))))
      .groupBy(col("w.start").cast("timestamp_ntz").as("w_start"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("w_start"), col("k").as("w_hours"), col("n"))
      .orderBy(col("w_start"), col("w_hours"))

  /** Interval join (TimeIntervalJoin.java:479): purchases joined to clicks
    * of the same user within the preceding hour. */
  private def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    p.join(c, col("u") === col("cu") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .groupBy(col("u"), col("p_id"))
      .agg(count(lit(1)).as("n_clicks_before"), max(col("c_ts")).as("last_click"))
      .orderBy(col("u"), col("p_id"))
  }

  /** Temporal / as-of join (TemporalRowTimeJoinOperator.java:77): each
    * purchase joined with the latest strictly-preceding click of the same
    * user — "version valid as of t". ROW_NUMBER=1 pick, group-limited. */
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val w = Window.partitionBy(col("u"), col("p_id"))
      .orderBy(col("c_ts").desc, col("c_id").desc)
    p.join(c, col("u") === col("cu") && col("c_ts") < col("p_ts"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("u"), col("p_id"), col("c_id").as("asof_click_id"),
              col("c_ts").as("asof_click_ts"))
      .orderBy(col("u"), col("p_id"))
  }

  /** The interval join as a REAL stream-stream join: two watermarked
    * streaming sources through Spark's StreamingSymmetricHashJoinExec —
    * equi-key on user plus the event-time range condition that bounds both
    * sides' state (the reference's TimeIntervalJoin keeps exactly this
    * +1 h/-0 window of rows per side). INNER join, so every matched pair
    * emits when found and the result equals the batch join row-for-row —
    * the oracle is the plain pair list. */
  private def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val schema = Tables.schema(s, dir, "events")
    def src() = graft.Tables.streamTable(s, dir, "events", schema)
      .withColumn("ts", graft.Tables.tsAsTimestamp(schema))
    val p = src().filter(col("event_type") === "purchase")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("u"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val c = src().filter(col("event_type") === "click")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("cu"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
    val joined = p.join(c, col("u") === col("cu")
      && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
      && col("c_ts") <= col("p_ts"))
      .select(col("u"), col("p_id"), col("c_id"))
    graft.RelayDir.drain(s, joined, graft.RelayDir.fresh("tij_relay", dir))
      .orderBy(col("u"), col("p_id"), col("c_id"))
  }

  def queries: Map[String, QFn] = Map(
    "time_tumble" -> (tumble _),
    "time_hop" -> (hop _),
    "time_session" -> (session _),
    "time_cumulate" -> (cumulate _),
    "time_interval_join" -> (intervalJoin _),
    "stream_interval_join" -> (streamIntervalJoin _),
    "time_asof_join" -> (asofJoin _)
  )

  def oracles: Map[String, String] = Map(
    "time_tumble" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",
    "time_hop" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL (k) HOUR AS w_start,
         count(*) AS n
         FROM events, (VALUES (0),(1)) AS off(k)
         GROUP BY 1 ORDER BY w_start""",
    "time_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       m AS (SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
             FROM e),
       g AS (SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
             FROM m)
       SELECT user_id, min(ts) AS s_start,
              max(ts) + INTERVAL 30 MINUTE AS s_end, count(*) AS n
       FROM g GROUP BY user_id, sid ORDER BY user_id, s_start""",
    "time_cumulate" ->
      """WITH e AS (
         SELECT TIMESTAMP '1970-01-01'
                  + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 14400) AS BIGINT) * 14400
                    * INTERVAL 1 SECOND AS origin4,
                CAST(ts AS TIMESTAMP) AS ts FROM events)
       SELECT origin4 AS w_start, k.k AS w_hours, count(*) AS n
       FROM e, generate_series(1, 4) AS k(k)
       WHERE ts >= origin4 AND ts < origin4 + INTERVAL (k.k) HOUR
       GROUP BY 1, 2 ORDER BY w_start, w_hours""",
    "time_interval_join" ->
      """SELECT p.user_id AS u, p.event_id AS p_id, count(*) AS n_clicks_before,
              CAST(max(c.ts) AS TIMESTAMP) AS last_click
       FROM events p JOIN events c
         ON p.user_id = c.user_id AND p.event_type = 'purchase'
        AND c.event_type = 'click'
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
       GROUP BY 1, 2 ORDER BY u, p_id""",
    "stream_interval_join" ->
      """SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS c_id
       FROM events p JOIN events c
         ON p.user_id = c.user_id AND p.event_type = 'purchase'
        AND c.event_type = 'click'
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
       ORDER BY u, p_id, c_id""",
    "time_asof_join" ->
      """SELECT u, p_id, asof_click_id, asof_click_ts FROM (
         SELECT p.user_id AS u, p.event_id AS p_id, c.event_id AS asof_click_id,
                CAST(c.ts AS TIMESTAMP) AS asof_click_ts,
                row_number() OVER (PARTITION BY p.user_id, p.event_id
                                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND c.ts < p.ts) WHERE rn = 1
       ORDER BY u, p_id"""
  )
}
