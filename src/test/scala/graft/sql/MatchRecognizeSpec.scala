package graft.sql

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

class MatchRecognizeSpec extends SparkSpec {

  private def fixture(): Unit = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, new Timestamp(1000L), "signup"),
      (1L, new Timestamp(2000L), "purchase"),
      (1L, new Timestamp(3000L), "view"),
      (1L, new Timestamp(4000L), "signup"),
      (1L, new Timestamp(5000L), "view"), // breaks strict contiguity
      (1L, new Timestamp(6000L), "purchase"),
      (2L, new Timestamp(1000L), "signup"),
      (2L, new Timestamp(2000L), "purchase")
    ).toDF("user_id", "ts", "event_type").createOrReplaceTempView("mr_events")
  }

  test("MATCH_RECOGNIZE via spark.sql: strict contiguity, skip past last row") {
    fixture()
    val rows = spark.sql(
      """SELECT user_id, start_ts, end_ts, n_rows FROM mr_events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'signup', B AS event_type = 'purchase'
         ) ORDER BY user_id, start_ts""").collect()
    // user 1: only the adjacent signup→purchase at 1s→2s (4s signup is
    // followed by a view — strict miss); user 2: 1s→2s
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 1000000L, 2000000L, 2L), (2L, 1000000L, 2000000L, 2L)))
  }

  test("WITHIN bound excludes slow sequences") {
    fixture()
    val rows = spark.sql(
      """SELECT user_id, start_ts FROM mr_events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           WITHIN INTERVAL '1' SECOND
           DEFINE A AS event_type = 'signup', B AS event_type = 'purchase'
         ) ORDER BY user_id""").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // 1s gaps are exactly within
  }

  test("greedy quantifier on the last pattern variable is rejected loudly") {
    fixture()
    val e = intercept[Exception] {
      spark.sql(
        """SELECT user_id FROM mr_events MATCH_RECOGNIZE (
             PARTITION BY user_id ORDER BY ts ONE ROW PER MATCH
             PATTERN (A B+) DEFINE A AS true, B AS true)""").collect()
    }
    assert(e.getMessage.contains("last pattern variable"))
  }

  test("{n,m} range absorbs greedily within the bound") {
    fixture()
    // user 1 rows: signup purchase view signup view purchase — V{1,2}
    // between signup and purchase absorbs one or two middle rows
    val rows = spark.sql(
      """SELECT user_id, n_rows FROM mr_events MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A V{1,2} B)
           DEFINE A AS event_type = 'signup', V AS event_type = 'view',
                  B AS event_type = 'purchase')
         ORDER BY user_id""").collect()
    // only user 1's second signup (signup view purchase, one V absorbed)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L)))
  }

  test("a range open at the top on the last variable is rejected loudly") {
    fixture()
    val e = intercept[Exception] {
      spark.sql(
        """SELECT user_id FROM mr_events MATCH_RECOGNIZE (
             PARTITION BY user_id ORDER BY ts ONE ROW PER MATCH
             PATTERN (A B{1,3}) DEFINE A AS true, B AS true)""").collect()
    }
    assert(e.getMessage.contains("last pattern variable"))
  }

  test("B+ absorbs a maximal run; MEASURES fold over it") {
    val s = spark
    import s.implicits._
    Seq(
      (1L, new Timestamp(1000L), "view", 1.0),
      (1L, new Timestamp(2000L), "view", 2.0),
      (1L, new Timestamp(3000L), "view", 3.0),
      (1L, new Timestamp(4000L), "purchase", 9.0),
      (1L, new Timestamp(5000L), "view", 4.0),
      (1L, new Timestamp(6000L), "purchase", 8.0)
    ).toDF("user_id", "ts", "event_type", "value").createOrReplaceTempView("mrq_events")
    val rows = spark.sql(
      """SELECT user_id, n_rows, n_v, first_v, last_v, sum_v FROM mrq_events
         MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts
           MEASURES COUNT(V.*) AS n_v, FIRST(V.value) AS first_v,
                    LAST(V.value) AS last_v, SUM(V.value) AS sum_v
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (V+ P)
           DEFINE V AS event_type = 'view', P AS event_type = 'purchase'
         ) ORDER BY user_id, start_ts""").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq ==
      Seq((1L, 4L, 3L, 1.0, 3.0, 6.0), (1L, 2L, 1L, 4.0, 4.0, 4.0)))
  }

  test("{n} expands to exactly n strict occurrences") {
    fixture()
    val rows = spark.sql(
      """SELECT user_id, n_rows FROM mr_events
         MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts ONE ROW PER MATCH
           PATTERN (A{1} B{1})
           DEFINE A AS event_type = 'signup', B AS event_type = 'purchase'
         ) ORDER BY user_id""").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 2L)))
  }

  test("optional variable matches present and absent shapes") {
    val s = spark
    import s.implicits._
    Seq(
      (1L, new Timestamp(1000L), "signup"),
      (1L, new Timestamp(2000L), "view"),
      (1L, new Timestamp(3000L), "purchase"), // S V P
      (2L, new Timestamp(1000L), "signup"),
      (2L, new Timestamp(2000L), "purchase")  // S P (V absent)
    ).toDF("user_id", "ts", "event_type").createOrReplaceTempView("mro_events")
    val rows = spark.sql(
      """SELECT user_id, n_rows, n_v FROM mro_events
         MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts
           MEASURES COUNT(V.*) AS n_v
           ONE ROW PER MATCH
           PATTERN (S V? P)
           DEFINE S AS event_type = 'signup', V AS event_type = 'view',
                  P AS event_type = 'purchase'
         ) ORDER BY user_id""").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 3L, 1L), (2L, 2L, 0L)))
  }

  test("streaming MEASURES + PREV in DEFINE equals the batch node") {
    // the round-8 streaming surface: PREV resolved against the ordered
    // in-state ring, measures joined back per micro-batch — the emitted
    // set must equal the batch compiler's on the same statement
    val stmt =
      """SELECT user_id, start_ts, end_ts, n_rows, first_val, last_val FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           MEASURES FIRST(A.value) AS first_val, LAST(B.value) AS last_val
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A B)
           DEFINE B AS B.value < PREV(B.value)
         ) ORDER BY user_id, start_ts"""
    graft.Tables.registerAll(spark, sf)
    val batch = MatchRecognize.run(spark, stmt).collect()
      .map(_.toSeq).toSet
    val stream = MatchRecognize.runStream(spark, sf, stmt).collect()
      .map(_.toSeq).toSet
    assert(batch.nonEmpty && stream == batch)
  }

  test("the end marker's sentinel row never reaches a streaming DEFINE") {
    // NEXT attaches the end marker (key Long.MinValue, event_type ''); a
    // DEFINE that fails on that row but on no real row must not fail
    val stmt =
      """SELECT user_id, start_ts, end_ts FROM events
         MATCH_RECOGNIZE (
           PARTITION BY user_id
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS assert_true(event_type <> '') IS NULL
                       AND event_type = 'click' AND NEXT(A.value) > A.value,
                  B AS event_type = 'purchase'
         ) ORDER BY user_id, start_ts"""
    graft.Tables.registerAll(spark, sf)
    val batch = MatchRecognize.run(spark, stmt).collect().map(_.toSeq).toSet
    val stream = MatchRecognize.runStream(spark, sf, stmt).collect().map(_.toSeq).toSet
    assert(batch.nonEmpty && stream == batch)
  }

  test("each streaming MATCH_RECOGNIZE statement runs one StreamingQuery") {
    // PREV (nav_measures) and NEXT (next_define, with the end marker): the
    // navigation operator, the DEFINE mask and the NFA are one query
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet(): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try Seq("mr_stream_nav_measures", "mr_stream_next_define").foreach { name =>
      started.set(0)
      assert(FlinkSqlQueries.queries(name)(spark, sf).collect().nonEmpty, s"$name emitted no rows")
      assert(started.get == 1, s"$name started ${started.get} streaming queries")
    } finally spark.streams.removeListener(listener)
  }

  test("round 9: multi-column PARTITION BY runs one NFA per tuple") {
    val s = spark
    import s.implicits._
    // (user, region) tuples deliberately collide on each single column so
    // a wrong grouping (either column alone, or a collided composite)
    // would merge streams and change the match set
    Seq(
      (1L, "eu", new Timestamp(1000L), "signup"),
      (1L, "us", new Timestamp(2000L), "purchase"), // would complete 1/eu if merged
      (1L, "eu", new Timestamp(3000L), "purchase"),
      (2L, "eu", new Timestamp(1000L), "signup"),
      (2L, "eu", new Timestamp(2000L), "purchase"),
      (2L, "us", new Timestamp(3000L), "signup")
    ).toDF("user_id", "region", "ts", "event_type")
      .createOrReplaceTempView("mr_mp_events")
    val rows = spark.sql(
      """SELECT user_id, region, start_ts, end_ts FROM mr_mp_events
         MATCH_RECOGNIZE (
           PARTITION BY user_id, region
           ORDER BY ts
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A B)
           DEFINE A AS event_type = 'signup', B AS event_type = 'purchase'
         ) ORDER BY user_id, region, start_ts""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // 1/eu: signup(1s) → strict-next within the TUPLE stream is purchase(3s);
    // 2/eu: 1s→2s; 1/us and 2/us have no signup→purchase pair
    assert(rows.toSeq == Seq((1L, "eu", 1000000L, 3000000L),
      (2L, "eu", 1000000L, 2000000L)))
  }

  test("MATCH_RECOGNIZE inside a string literal does not hijack dispatch") {
    val rows = spark.sql("SELECT 'MATCH_RECOGNIZE(' AS s, 1 AS one").collect()
    assert(rows.head.getString(0) == "MATCH_RECOGNIZE(" && rows.head.getInt(1) == 1)
  }

  test("MATCH_RECOGNIZE in a comment does not hijack dispatch") {
    val rows = spark.sql(
      "SELECT 2 AS two -- MATCH_RECOGNIZE ( not a real clause\n").collect()
    assert(rows.head.getInt(0) == 2)
  }
}
