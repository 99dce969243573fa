package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Early-fire emission for the SQL group windows — the reference's
  * WindowEmitStrategy (table/planner WindowEmitStrategy.scala:143-159),
  * enabled by TABLE_EXEC_EMIT_EARLY_FIRE_ENABLED / _DELAY config, not by
  * SQL syntax. Mirrored here: when the session conf
  * `graft.exec.emit.early-fire.delay` is set (e.g. "10 minutes"), a
  * `GROUP BY TUMBLE(...)` query stops meaning "one row per closed window"
  * and becomes the window's EMISSION LOG — one row per early fire (the
  * accumulated aggregate each time event time crosses a delay boundary —
  * ContinuousEventTimeTrigger semantics, Triggers.scala) plus the terminal
  * fire at window close, tagged `is_final` with `fire_time` = window end.
  * A terminal row that also crosses a boundary emits once, as the final.
  *
  * Batch-deterministic formulation (what the oracle reproduces with window
  * frames): rows scan in (ts [, tiebreak]) order per (group, window); a row
  * whose delay-bucket index exceeds the previous row's fires the pane
  * including itself; the last row of the window is the terminal fire.
  * Everything compiles to running window aggregates — declarative, one
  * shuffle on (group, window), no stateful operator, codegen throughout.
  *
  * Restricted shape (the M4 dialect subset): single TUMBLE group window +
  * group columns, aggregates COUNT(*)/COUNT(x)/SUM/MIN/MAX/AVG with
  * aliases. `graft.exec.emit.tiebreak-column` names a unique column that
  * makes the scan order total (batch determinism needs it when event times
  * can tie).
  */
object EmitStrategy {

  val DelayConf = "graft.exec.emit.early-fire.delay"
  val TiebreakConf = "graft.exec.emit.tiebreak-column"

  /** Late-fire emit (the reference's TABLE_EXEC_EMIT_LATE_FIRE_ENABLED,
    * WindowEmitStrategy.scala:152-162): with the window already closed by
    * the watermark, each late row still inside the allowed lateness fires
    * the UPDATED accumulate immediately — the deterministic delay-0
    * ElementTriggers.every() subset (a >0 late-fire delay is a wall-clock
    * trigger, not reproducible). Allowed lateness mirrors the reference's
    * minIdleStateRetentionTime-as-lateness and must be > 0 — the same
    * validation WindowEmitStrategy.checkValidation enforces. */
  val LateConf = "graft.exec.emit.late-fire.enabled"
  val LatenessConf = "graft.exec.emit.allow-lateness"

  /** The batch emission-log formulation of lateness needs an explicit
    * ARRIVAL order distinct from event time (in event-time scan order no
    * row is ever late): a SQL expression over the source columns that
    * totally orders rows by arrival — an ingestion sequence column in a
    * real deployment. The watermark is then the running max event time in
    * arrival order (0-delay), exactly the discipline the streaming side
    * derives from micro-batch arrival. */
  val ArrivalConf = "graft.exec.emit.arrival-order"

  def enabled(session: SparkSession): Option[String] =
    try session.conf.getOption(DelayConf) catch { case _: Throwable => None }

  def lateEnabled(session: SparkSession): Boolean =
    (try session.conf.getOption(LateConf) catch { case _: Throwable => None })
      .exists(_.equalsIgnoreCase("true"))

  def matches(probe: String): Boolean =
    """(?i)\b(TUMBLE|HOP|SESSION|CUMULATE)\s*\(""".r.findFirstIn(probe).isDefined &&
      """(?i)\bGROUP\s+BY""".r.findFirstIn(probe).isDefined

  private val shapeRe = new FlinkSql.Blanked(
    """(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?\w+)?\s+GROUP\s+BY\s+TUMBLE\s*\(\s*(\w+)\s*,\s*INTERVAL\s+'([^']*)'\s+(\w+)\s*\)\s*(?:,\s*([\w\s,]+?))?\s*(ORDER\s+BY\s+.*)?""".r)
  // Flink argument order: HOP(time, slide, size)
  private val hopShapeRe = new FlinkSql.Blanked(
    """(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?\w+)?\s+GROUP\s+BY\s+HOP\s*\(\s*(\w+)\s*,\s*INTERVAL\s+'([^']*)'\s+(\w+)\s*,\s*INTERVAL\s+'([^']*)'\s+(\w+)\s*\)\s*(?:,\s*([\w\s,]+?))?\s*(ORDER\s+BY\s+.*)?""".r)
  private val sessionShapeRe = new FlinkSql.Blanked(
    """(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?\w+)?\s+GROUP\s+BY\s+SESSION\s*\(\s*(\w+)\s*,\s*INTERVAL\s+'([^']*)'\s+(\w+)\s*\)\s*(?:,\s*([\w\s,]+?))?\s*(ORDER\s+BY\s+.*)?""".r)
  // CUMULATE(time, step, max) — the cumulative-window TVF argument order
  private[sql] val cumShapeRe = new FlinkSql.Blanked(
    """(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?\w+)?\s+GROUP\s+BY\s+CUMULATE\s*\(\s*(\w+)\s*,\s*INTERVAL\s+'([^']*)'\s+(\w+)\s*,\s*INTERVAL\s+'([^']*)'\s+(\w+)\s*\)\s*(?:,\s*([\w\s,]+?))?\s*(ORDER\s+BY\s+.*)?""".r)
  private val tumbleStartRe =
    """(?is)^(?:TUMBLE_START|HOP_START|SESSION_START|CUMULATE_START)\s*\(.*?\)\s+AS\s+(\w+)$""".r
  private val cumEndRe =
    """(?is)^CUMULATE_END\s*\(.*?\)\s+AS\s+(\w+)$""".r
  private val aggRe = """(?is)^(COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(\*|\w+)\s*\)\s+AS\s+(\w+)$""".r

  private[sql] def unitMicros(u: String): Long = u.toUpperCase.stripSuffix("S") match {
    case "SECOND" => 1000000L
    case "MINUTE" => 60L * 1000000L
    case "HOUR" => 3600L * 1000000L
    case "DAY" => 86400L * 1000000L
    case other => throw new IllegalArgumentException(s"interval unit $other")
  }

  private def delayMicros(spec: String): Long = {
    val m = """(\d+)\s*(\w+)""".r.findFirstMatchIn(spec.trim)
      .getOrElse(throw new IllegalArgumentException(s"bad $DelayConf: $spec"))
    m.group(1).toLong * unitMicros(m.group(2))
  }

  /** Rewrite + execute. The produced SQL contains no TUMBLE/HOP, so it
    * parses through the stock path (no re-entry into this front-end).
    * The table is `FROM t [[AS] alias]`; `relations` (the OPTIONS hint's
    * reads) bind by name in the plan, before the session's tables. */
  def run(session: SparkSession, sql: String,
          relations: Map[String, DataFrame]): DataFrame = sql match {
    case shapeRe(select, table, tsCol, n, unit, extraGroups, tail) =>
      build(session, select, table, tsCol, n.toLong * unitMicros(unit), None,
        extraGroups, tail, relations)
    case hopShapeRe(select, table, tsCol, slideN, slideU, sizeN, sizeU, extraGroups, tail) =>
      build(session, select, table, tsCol, sizeN.toLong * unitMicros(sizeU),
        Some(slideN.toLong * unitMicros(slideU)), extraGroups, tail, relations)
    case sessionShapeRe(select, table, tsCol, n, unit, extraGroups, tail) =>
      buildSession(session, select, table, tsCol, n.toLong * unitMicros(unit),
        extraGroups, tail, relations)
    case cumShapeRe(select, table, tsCol, stepN, stepU, maxN, maxU, extraGroups, tail) =>
      buildCumulate(session, select, table, tsCol,
        stepN.toLong * unitMicros(stepU), maxN.toLong * unitMicros(maxU),
        extraGroups, tail, relations)
    case _ => throw new IllegalArgumentException(
      "early-fire emit supports: SELECT TUMBLE_START/HOP_START/SESSION_START(..) AS a, <group cols>, <aggs> " +
        "FROM t GROUP BY TUMBLE(ts, size) | HOP(ts, slide, size) | SESSION(ts, gap) [, group cols] [ORDER BY ...]")
  }

  /** Select-list parse shared by all window shapes: the window-start alias,
    * the CUMULATE pane-end alias, pass-through group columns, and the
    * aggregate triples. */
  private[sql] def parseSelect(select: String, groupCols: Seq[String])
    : (String, String, Seq[(String, String, String)]) = {
    var wsAlias = "w_start"
    var weAlias = "w_end"
    val aggBuilder = Seq.newBuilder[(String, String, String)]
    FlinkSqlSupport.splitTop(select).foreach {
      case cumEndRe(a) => weAlias = a
      case tumbleStartRe(a) => wsAlias = a
      case item if groupCols.contains(item.trim) => // group col, passes through
      case aggRe(fn, arg, alias) => aggBuilder += ((fn.toUpperCase, arg, alias))
      case other => throw new IllegalArgumentException(
        s"early-fire supports the window-start alias, group columns and COUNT/SUM/MIN/MAX/AVG: $other")
    }
    (wsAlias, weAlias, aggBuilder.result())
  }

  /** Early-fire over SESSION windows (data-driven merging windows —
    * SessionWindowAssigner + the same WindowEmitStrategy config). Sessions
    * are the classic gaps-and-islands construction: a row opens a new
    * session when its gap to the previous row (per group) exceeds the gap
    * parameter; session id = running count of openers. The emission log is
    * then identical to the tumbling case over the (group, session)
    * partition, with SESSION_START = the session's first event time and the
    * terminal fire at session end = last event + gap (the reference's
    * merged-window end). One shuffle on the group columns; the session-id
    * window and the running aggregates share its hash partitioning. */
  private def buildSession(session: SparkSession, select: String, table: String,
                           tsCol: String, gapUs: Long, extraGroups: String,
                           tail: String, relations: Map[String, DataFrame]): DataFrame = {
    require(!lateEnabled(session),
      "Session window doesn't support the late-fire EMIT strategy " +
        "(the reference's WindowEmitStrategy rejects EMIT on session windows)")
    val delayUs = delayMicros(enabled(session).get)
    val groupCols = Option(extraGroups).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val (wsAlias, _, aggs) = parseSelect(select, groupCols)
    require(aggs.nonEmpty, "early-fire SESSION needs at least one aggregate")
    val tbOpt = try session.conf.getOption(TiebreakConf) catch { case _: Throwable => None }
    // a streaming source takes the gap-merging stateful operator
    val srcDf = SqlText.table(session, table, relations)
    if (srcDf.isStreaming) {
      require(Option(tail).forall(_.trim.isEmpty),
        "streaming early-fire: ORDER BY is not supported on an unbounded result")
      return StreamingEmit.session(session, srcDf, tsCol, gapUs, delayUs,
        groupCols, aggs, wsAlias, tbOpt)
    }
    val tiebreak = tbOpt.map(c => s", $c").getOrElse("")
    val gComma = if (groupCols.isEmpty) "" else groupCols.mkString(", ") + ", "
    val partG = if (groupCols.isEmpty) "" else s"PARTITION BY ${groupCols.mkString(", ")} "
    val ordG = s"${partG}ORDER BY __uts$tiebreak"
    val partS = (groupCols :+ "__sid").mkString(", ")
    val ordS = s"PARTITION BY $partS ORDER BY __uts$tiebreak"
    val runningAggs = aggs.map { case (fn, arg, alias) =>
      val a = if (arg == "*") "1" else arg
      s"${fn.toLowerCase}($a) OVER ($ordS ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $alias"
    }.mkString(", ")
    val aliases = aggs.map(_._3).mkString(", ")
    val uts = s"unix_micros(cast($tsCol as timestamp))"
    SqlText.query(session,
      s"""SELECT $wsAlias, $gComma$aliases,
                 CASE WHEN __last THEN __send ELSE __fire0 END AS fire_time,
                 __last AS is_final
          FROM (
            SELECT timestamp_micros(min(__uts) OVER (PARTITION BY $partS)) AS $wsAlias,
                   $gComma$runningAggs,
                   timestamp_micros((__bidx + 1) * ${delayUs}L) AS __fire0,
                   lag(__bidx) OVER ($ordS) IS NOT NULL
                     AND __bidx > lag(__bidx) OVER ($ordS) AS __early,
                   row_number() OVER ($ordS)
                     = count(1) OVER (PARTITION BY $partS) AS __last,
                   timestamp_micros(max(__uts) OVER (PARTITION BY $partS) + ${gapUs}L) AS __send
            FROM (
              SELECT *, sum(__new) OVER ($ordG ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __sid
              FROM (
                SELECT *, CASE WHEN lag(__uts) OVER ($ordG) IS NULL
                                OR __uts - lag(__uts) OVER ($ordG) > ${gapUs}L
                               THEN 1 ELSE 0 END AS __new
                FROM (SELECT *, $uts AS __uts,
                             $uts div ${delayUs}L AS __bidx
                      FROM $table)
              )
            )
          )
          WHERE __early OR __last ${Option(tail).getOrElse("")}""", relations)
  }

  /** Early-fire over CUMULATE windows (expanding panes: the start aligned
    * to the max size is shared, the ends land on successive step
    * boundaries — the cumulative-window slicing the reference's slice
    * assigners generalize to). The emission log is the hopping construction
    * with the pane END in the partition key and surfaced as CUMULATE_END in
    * the output — a window's panes are NOT distinguished by their start, so
    * without the end column the log would be ambiguous. One shuffle on
    * (start, end, group); fan-out before it is (max/step − covered) panes
    * per row, the same pre-shuffle narrow explode as HOP. */
  private def buildCumulate(session: SparkSession, select: String, table: String,
                            tsCol: String, stepUs: Long, maxUs: Long,
                            extraGroups: String, tail: String,
                            relations: Map[String, DataFrame]): DataFrame = {
    require(maxUs % stepUs == 0, "CUMULATE max size must be a multiple of step")
    require(!lateEnabled(session),
      "CUMULATE doesn't support the late-fire EMIT strategy")
    val delayUs = delayMicros(enabled(session).get)
    val groupCols = Option(extraGroups).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val (wsAlias, weAlias, aggs) = parseSelect(select, groupCols)
    require(aggs.nonEmpty, "early-fire CUMULATE needs at least one aggregate")
    val tbOpt = try session.conf.getOption(TiebreakConf) catch { case _: Throwable => None }
    val srcDf = SqlText.table(session, table, relations)
    if (srcDf.isStreaming) {
      require(Option(tail).forall(_.trim.isEmpty),
        "streaming early-fire: ORDER BY is not supported on an unbounded result")
      return StreamingEmit.cumulate(session, srcDf, tsCol, stepUs, maxUs,
        delayUs, groupCols, aggs, wsAlias, weAlias, tbOpt)
    }
    val tiebreak = tbOpt.map(c => s", $c").getOrElse("")
    val gComma = if (groupCols.isEmpty) "" else groupCols.mkString(", ") + ", "
    val part = (Seq("__ws", "__we") ++ groupCols).mkString(", ")
    val ord = s"PARTITION BY $part ORDER BY __uts$tiebreak"
    val runningAggs = aggs.map { case (fn, arg, alias) =>
      val a = if (arg == "*") "1" else arg
      s"${fn.toLowerCase}($a) OVER ($ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $alias"
    }.mkString(", ")
    val aliases = aggs.map(_._3).mkString(", ")
    val uts = s"unix_micros(cast($tsCol as timestamp))"
    SqlText.query(session,
      s"""SELECT $wsAlias, $weAlias, $gComma$aliases,
                 CASE WHEN __last THEN $weAlias ELSE __fire0 END AS fire_time,
                 __last AS is_final
          FROM (
            SELECT timestamp_micros(__ws) AS $wsAlias,
                   timestamp_micros(__we) AS $weAlias, $gComma$runningAggs,
                   timestamp_micros((__bidx + 1) * ${delayUs}L) AS __fire0,
                   lag(__bidx) OVER ($ord) IS NOT NULL
                     AND __bidx > lag(__bidx) OVER ($ord) AS __early,
                   row_number() OVER ($ord)
                     = count(1) OVER (PARTITION BY $part) AS __last
            FROM (
              SELECT *, explode(sequence(
                          __ws + ((__uts - __ws) div ${stepUs}L + 1L) * ${stepUs}L,
                          __ws + ${maxUs}L, ${stepUs}L)) AS __we
              FROM (SELECT *, $uts AS __uts,
                           ($uts div ${maxUs}L) * ${maxUs}L AS __ws,
                           $uts div ${delayUs}L AS __bidx
                    FROM $table)
            )
          )
          WHERE __early OR __last ${Option(tail).getOrElse("")}""", relations)
  }

  /** Shared construction: a hopping window explodes each row into its
    * size/slide covering windows (the reference's per-pane assignment in
    * SliceAssigners); a tumbling window is the one-window special case. */
  private def build(session: SparkSession, select: String, table: String, tsCol: String,
                    widthUs: Long, slideUs: Option[Long], extraGroups: String,
                    tail: String, relations: Map[String, DataFrame]): DataFrame = {
      val srcDf = SqlText.table(session, table, relations)
      val late = lateEnabled(session)
      if (late && !srcDf.isStreaming) {
        // the BATCH late-fire log needs an explicit arrival order and can't
        // also carry the early-fire construction — the streaming operator
        // below supports both at once (arrival there is real arrival)
        require(enabled(session).isEmpty,
          s"combined early-fire + late-fire emission is not supported: unset $DelayConf or $LateConf")
        return buildLate(session, select, table, tsCol, widthUs, slideUs,
          extraGroups, tail, relations)
      }
      // late-only streaming mode: a delay bucket that never advances means
      // no early fires — the log is terminal + late fires, the reference's
      // plain AFTER WATERMARK trigger
      val delayUs = enabled(session).map(delayMicros).getOrElse(Long.MaxValue / 4)
      val groupCols = Option(extraGroups).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      val (wsAlias, _, aggs) = parseSelect(select, groupCols)
      require(aggs.nonEmpty, "early-fire TUMBLE needs at least one aggregate")
      val tbOpt = try session.conf.getOption(TiebreakConf) catch { case _: Throwable => None }
      // a streaming source takes the stateful micro-batch operator — the SQL
      // dialect drives Structured Streaming; watermark close = terminal fire
      if (srcDf.isStreaming) {
        val latenessUs = if (late) latenessMicros(session) else 0L
        require(Option(tail).forall(_.trim.isEmpty),
          "streaming early-fire: ORDER BY is not supported on an unbounded result")
        return slideUs match {
          case None => StreamingEmit.tumble(session, srcDf, tsCol, widthUs,
            delayUs, groupCols, aggs, wsAlias, tbOpt, latenessUs)
          case Some(l) => StreamingEmit.hop(session, srcDf, tsCol, widthUs, l,
            delayUs, groupCols, aggs, wsAlias, tbOpt, latenessUs)
        }
      }
      val tiebreak = tbOpt.map(c => s", $c").getOrElse("")
      val gComma = if (groupCols.isEmpty) "" else groupCols.mkString(", ") + ", "
      val part = (Seq("__ws") ++ groupCols).mkString(", ")
      val ord = s"PARTITION BY $part ORDER BY __uts$tiebreak"
      val runningAggs = aggs.map { case (fn, arg, alias) =>
        val a = if (arg == "*") "1" else arg
        s"${fn.toLowerCase}($a) OVER ($ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $alias"
      }.mkString(", ")
      val aliases = aggs.map(_._3).mkString(", ")
      val uts = s"unix_micros(cast($tsCol as timestamp))"
      // window assignment: tumble = the one covering window; hop = explode
      // the size/slide covering set (window starts aligned to the slide)
      val wsExpr = slideUs match {
        case None => s"($uts div ${widthUs}L) * ${widthUs}L AS __ws"
        case Some(l) =>
          s"explode(sequence(($uts div ${l}L) * ${l}L - ${widthUs}L + ${l}L, " +
            s"($uts div ${l}L) * ${l}L, ${l}L)) AS __ws"
      }
      SqlText.query(session,
        s"""SELECT $wsAlias, $gComma$aliases,
                   CASE WHEN __last THEN __wend ELSE __fire0 END AS fire_time,
                   __last AS is_final
            FROM (
              SELECT timestamp_micros(__ws) AS $wsAlias, $gComma$runningAggs,
                     timestamp_micros((__bidx + 1) * ${delayUs}L) AS __fire0,
                     lag(__bidx) OVER ($ord) IS NOT NULL
                       AND __bidx > lag(__bidx) OVER ($ord) AS __early,
                     row_number() OVER ($ord)
                       = count(1) OVER (PARTITION BY $part) AS __last,
                     timestamp_micros(__ws + ${widthUs}L) AS __wend
              FROM (SELECT *, $uts AS __uts,
                           $wsExpr,
                           $uts div ${delayUs}L AS __bidx
                    FROM $table)
            )
            WHERE __early OR __last ${Option(tail).getOrElse("")}""", relations)
  }
  /** The late-fire emission log, batch-deterministic (TUMBLE + HOP).
    *
    * Rows scan in ARRIVAL order (the [[ArrivalConf]] expression); the
    * watermark before row i is the running max event time of rows arrived
    * before i. Classification per (row, covering window):
    *  - on-time: watermark < window end → accumulates silently; the window
    *    fires once at close (`is_final`, fire_time = window end) over its
    *    on-time rows — a window whose rows ALL arrive late never had a
    *    trigger registered at close, so it has no final fire (reference:
    *    the first late element fires immediately instead);
    *  - late: window end ≤ watermark < window end + allowed lateness → the
    *    row joins the accumulate and fires it immediately
    *    (ElementTriggers.every(), the delay-0 late trigger): one log row
    *    with the running aggregate over all kept rows up to this arrival,
    *    fire_time = the watermark that fired it, is_final = false;
    *  - dropped: watermark ≥ window end + allowed lateness → excluded.
    * Monotone watermark ⇒ each window's kept rows are an on-time prefix
    * then a late suffix in arrival order, so the late fires are plain
    * running window aggregates — declarative, one shuffle on
    * (window, group), codegen throughout, same scale shape as the
    * early-fire log. */
  private def latenessMicros(session: SparkSession): Long =
    (try session.conf.getOption(LatenessConf) catch { case _: Throwable => None })
      .map(delayMicros).filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"the late-fire emit strategy requires a positive $LatenessConf " +
          "(the reference requires minIdleStateRetentionTime as allowed lateness)"))

  private def buildLate(session: SparkSession, select: String, table: String,
                        tsCol: String, widthUs: Long, slideUs: Option[Long],
                        extraGroups: String, tail: String,
                        relations: Map[String, DataFrame]): DataFrame = {
    val latenessUs = latenessMicros(session)
    val arr = (try session.conf.getOption(ArrivalConf) catch { case _: Throwable => None })
      .getOrElse(throw new IllegalArgumentException(
        s"late-fire needs $ArrivalConf: a SQL expression totally ordering rows by arrival"))
    val groupCols = Option(extraGroups).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val (wsAlias, _, aggs) = parseSelect(select, groupCols)
    require(aggs.nonEmpty, "late-fire needs at least one aggregate")
    require(!SqlText.table(session, table, relations).isStreaming,
      "late-fire emit is the batch emission-log formulation; the streaming " +
        "late path is StatefulOps.allowedLateness (API level)")
    val gComma = if (groupCols.isEmpty) "" else groupCols.mkString(", ") + ", "
    val partW = (Seq("__ws") ++ groupCols).mkString(", ")
    val runningAggs = aggs.map { case (fn, arg, alias) =>
      val a = if (arg == "*") "1" else arg
      s"${fn.toLowerCase}($a) OVER (PARTITION BY $partW ORDER BY __arr " +
        s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $alias"
    }.mkString(", ")
    val finalAggs = aggs.map { case (fn, arg, alias) =>
      s"${fn.toLowerCase}(${if (arg == "*") "1" else arg}) AS $alias"
    }.mkString(", ")
    val aliases = aggs.map(_._3).mkString(", ")
    val uts = s"unix_micros(cast($tsCol as timestamp))"
    val wsExpr = slideUs match {
      case None => s"(__uts div ${widthUs}L) * ${widthUs}L AS __ws"
      case Some(l) =>
        s"explode(sequence((__uts div ${l}L) * ${l}L - ${widthUs}L + ${l}L, " +
          s"(__uts div ${l}L) * ${l}L, ${l}L)) AS __ws"
    }
    val gList = if (groupCols.isEmpty) "" else ", " + groupCols.mkString(", ")
    // The running-max watermark over GLOBAL arrival order would naively be
    // a single-partition window — a scale-killer. Instead: bucket the
    // arrival domain with an order-preserving affine map (any monotone
    // bucketing is correct — boundaries never affect the result), compute
    // the running max WITHIN each bucket in parallel, and carry the
    // cross-bucket prefix max through a window over the ~256-row distinct
    // bucket summary (trivially small at any scale, broadcast back). The
    // big windows all hash-partition on __bk.
    SqlText.query(session,
      s"""WITH base AS (SELECT *, $uts AS __uts, ($arr) AS __arr FROM $table),
          ext AS (SELECT CAST(min(__arr) AS DOUBLE) AS __lo,
                         CAST(max(__arr) AS DOUBLE) AS __hi FROM base),
          bkt AS (SELECT base.*,
                    CAST(floor((CAST(__arr AS DOUBLE) - __lo) * 256.0
                         / (__hi - __lo + 1.0)) AS BIGINT) AS __bk
                  FROM base CROSS JOIN ext),
          runm AS (SELECT *,
                     max(__uts) OVER (PARTITION BY __bk ORDER BY __arr
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __wmb_in,
                     max(__uts) OVER (PARTITION BY __bk) AS __bmax
                   FROM bkt),
          pref AS (SELECT __bk,
                     max(__bmax) OVER (ORDER BY __bk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __wmb_prev
                   FROM (SELECT DISTINCT __bk, __bmax FROM runm)),
          kept AS (
            SELECT * FROM (
              SELECT *, CASE WHEN __wmb IS NULL OR __wmb < __ws + ${widthUs}L THEN 0
                             WHEN __wmb >= __ws + ${widthUs}L + ${latenessUs}L THEN 2
                             ELSE 1 END AS __cls
              FROM (
                SELECT *, $wsExpr FROM (
                  SELECT runm.*, CASE WHEN __wmb_in IS NULL THEN __wmb_prev
                                      WHEN __wmb_prev IS NULL THEN __wmb_in
                                      ELSE greatest(__wmb_in, __wmb_prev)
                                 END AS __wmb
                  FROM runm JOIN pref USING (__bk)
                )
              )
            ) WHERE __cls <> 2),
          late AS (
            SELECT timestamp_micros(__ws) AS $wsAlias, $gComma$runningAggs,
                   timestamp_micros(__wmb) AS fire_time, false AS is_final, __cls
            FROM kept),
          fin AS (
            SELECT timestamp_micros(__ws) AS $wsAlias, $gComma$finalAggs,
                   timestamp_micros(__ws + ${widthUs}L) AS fire_time, true AS is_final
            FROM kept WHERE __cls = 0 GROUP BY __ws$gList)
          SELECT $wsAlias, $gComma$aliases, fire_time, is_final
          FROM (SELECT $wsAlias, $gComma$aliases, fire_time, is_final
                FROM late WHERE __cls = 1
                UNION ALL SELECT * FROM fin)
          ${Option(tail).getOrElse("")}""", relations)
  }
}

/** Plain (non-emit) `GROUP BY CUMULATE(ts, step, max)` — one row per
  * closed pane, the cumulative-window TVF semantics without the emission
  * log. Batch: the select list passes through VERBATIM (arbitrary
  * aggregates), only `CUMULATE_START/END(..)` rewrite onto the exploded
  * pane columns — so the rewrite composes with everything the stock parser
  * supports. Streaming: the restricted-dialect stateful operator runs with
  * an infinite early-fire delay (terminal fires only) and the emission
  * columns dropped. */
object CumulateSql {

  def matches(probe: String): Boolean =
    """(?i)\bCUMULATE\s*\(""".r.findFirstIn(probe).isDefined &&
      """(?i)\bGROUP\s+BY\s+CUMULATE\s*\(""".r.findFirstIn(probe).isDefined


  /** The statement's shape and `relations` as in [[EmitStrategy.run]]. */
  def run(session: SparkSession, sql: String,
          relations: Map[String, DataFrame]): DataFrame = sql match {
    case EmitStrategy.cumShapeRe(select, table, tsCol, stepN, stepU, maxN, maxU,
        extraGroups, tail) =>
      val stepUs = stepN.toLong * EmitStrategy.unitMicros(stepU)
      val maxUs = maxN.toLong * EmitStrategy.unitMicros(maxU)
      require(maxUs % stepUs == 0, "CUMULATE max size must be a multiple of step")
      val groupCols = Option(extraGroups)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val srcDf = SqlText.table(session, table, relations)
      if (srcDf.isStreaming) {
        // restricted dialect on a stream; watermark close = pane emission
        val (wsAlias, weAlias, aggs) = EmitStrategy.parseSelect(select, groupCols)
        require(aggs.nonEmpty, "streaming CUMULATE needs at least one aggregate")
        require(Option(tail).forall(_.trim.isEmpty),
          "streaming CUMULATE: ORDER BY is not supported on an unbounded result")
        return StreamingEmit.cumulate(session, srcDf, tsCol, stepUs, maxUs,
          delayUs = Long.MaxValue / 4, groupCols, aggs, wsAlias, weAlias,
          tiebreak = None)
          .where(org.apache.spark.sql.functions.col("is_final"))
          .drop("fire_time", "is_final")
      }
      val uts = s"unix_micros(cast($tsCol as timestamp))"
      // blanked-located call rewrite: CUMULATE_START/END inside a string
      // literal in the select list stays a literal (family-30 discipline)
      val items = FlinkSql.rewriteCalls(
        FlinkSql.rewriteCalls(select, "CUMULATE_END", _ => "timestamp_micros(__we)"),
        "CUMULATE_START", _ => "timestamp_micros(__ws)")
      val gTail = if (groupCols.isEmpty) "" else ", " + groupCols.mkString(", ")
      SqlText.query(session,
        s"""SELECT $items
            FROM (
              SELECT *, explode(sequence(
                          __ws + ((__uts - __ws) div ${stepUs}L + 1L) * ${stepUs}L,
                          __ws + ${maxUs}L, ${stepUs}L)) AS __we
              FROM (SELECT *, $uts AS __uts,
                           ($uts div ${maxUs}L) * ${maxUs}L AS __ws
                    FROM $table)
            )
            GROUP BY __ws, __we$gTail ${Option(tail).getOrElse("")}""", relations)
    case _ => throw new IllegalArgumentException(
      "CUMULATE supports: SELECT CUMULATE_START/END(..) AS a, <group cols>, <aggs> " +
        "FROM t GROUP BY CUMULATE(ts, step, max) [, group cols] [ORDER BY ...]")
  }
}

/** Shared split helper (top-level commas, paren/quote aware). */
private[sql] object FlinkSqlSupport {
  def splitTop(s: String): Seq[String] = {
    // cut offsets computed on the literal-blanked text (lexer-faithful:
    // honors backslash and '' escapes — a naive quote toggle flipped the
    // string state on escaped quotes and split mid-literal, ADVICE r15);
    // slices come from the ORIGINAL (blanking preserves offsets)
    val b = FlinkSql.blankLiteralsAndComments(s)
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    b.zipWithIndex.foreach { case (c, i) =>
      c match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
    }
    out += s.substring(start).trim
    out.result().filter(_.nonEmpty)
  }
}
