package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{Bounded, Cep, KeyedRow}
import graft.Checkpoints._

/** SQL MATCH_RECOGNIZE front-end over the CEP NFA
  * (SURVEY.md §2.10 — StreamExecMatch.scala:68 / MatchCodeGenerator.scala;
  * grammar subset of flink-sql-parser's Calcite MATCH_RECOGNIZE).
  *
  * Supported clause shape (what MatchRecognizeITCase's core cases use):
  *
  *   SELECT <cols of: partition col, start_ts, end_ts, n_rows, measures>
  *   FROM <table> MATCH_RECOGNIZE (
  *     PARTITION BY <col>
  *     ORDER BY <col>                  -- an event-time column
  *     [MEASURES <m> AS <alias>, ...]  -- m: V.c | FIRST/LAST(V.c) |
  *                                     --    COUNT(V.*|*) | SUM/AVG/MIN/MAX(V.c)
  *     ONE ROW PER MATCH | ALL ROWS PER MATCH
  *     [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
  *     PATTERN ( V1[q] V2[q] ... )     -- q: + * ? {n}; strict contiguity
  *     [WITHIN INTERVAL '<n>' <UNIT>]
  *     DEFINE V1 AS <sql predicate>, ...  -- may navigate PREV/NEXT(V.c[, k])
  *   )
  *   [ORDER BY ...]
  *
  * ALL ROWS PER MATCH emits each matched input row with CLASSIFIER() (the
  * step label, column `classifier`), MATCH_NUMBER() (1-based per partition,
  * column `match_no`) and the row's partition-order position (`row_seq`).
  * PREV/NEXT in DEFINE compile onto lag/lead over the partition order —
  * physical-row navigation, which is what they mean under strict contiguity.
  *
  * Quantifiers: + * ? {n} {n,m} and their reluctant forms (+? *? {n,m}?);
  * AFTER MATCH SKIP TO FIRST/LAST <var> resumes at the matched row of that
  * variable (overlapping matches cascade, as in the reference). A variable
  * with no DEFINE matches every row (the standard default). Like the
  * reference, an unbounded/optional/ranged quantifier on the LAST pattern
  * variable is rejected (the NFA would have to hold a completed match open
  * forever waiting for one more row); {n} is fine anywhere.
  * RUNNING/FINAL measures over ALL ROWS PER MATCH are supported
  * (mr_running_measures + the per-position explode below).
  *
  * Implementation: each DEFINE predicate is compiled by Spark itself into a
  * boolean column (so the full scalar expression surface works), the row is
  * reduced to (partition, time, seq, defines-bitmask), and the bitmask
  * drives the NFA steps. MEASURES are computed by exploding each match's
  * (row id, step label) list and hash-joining back to the source rows on
  * (partition, seq) — matches are sparse relative to input, so the join-back
  * touches only matched rows; aggregation is per match id. Output schema:
  * partition col, start_ts / end_ts (epoch µs of the first/last matched
  * row), n_rows, then one column per measure alias.
  */
object MatchRecognize {

  /** Quantifier: min..max occurrences (max None = unbounded); `reluctant` =
    * non-greedy (`+?` `*?` `{n,m}?`) — same-row completion ties resolve to
    * the fewest absorbed rows. One = (1,1); + = (1,∞); * = (0,∞); ? = (0,1);
    * {n} = (n,n); {n,m} = (n,m). */
  case class Quant(min: Int, max: Option[Int], reluctant: Boolean = false)

  /** One MEASURES item. fn: LAST (also the bare `V.c` default), FIRST,
    * COUNT, SUM, AVG, MIN, MAX. variable None = COUNT(*). `running`:
    * under ALL ROWS PER MATCH a RUNNING measure aggregates the match's rows
    * up to and including the current one, FINAL the whole match (the
    * standard's default is RUNNING there; ONE ROW PER MATCH is always
    * FINAL). */
  case class Measure(alias: String, fn: String, variable: Option[String], expr: String,
                     running: Boolean = true)

  /** `defines` carry PREV/NEXT already compiled onto lag/lead windows (the
    * batch form); `rawDefines` keep the navigation calls intact for the
    * streaming compiler, which resolves them against the NFA-side ordered
    * row ring instead. */
  /** `partitionCols` carries the full PARTITION BY list (round 9:
    * multi-column partitions on the batch node); `partitionBy` stays the
    * head column — the single-key streaming paths key on it. */
  case class Spec(table: String, partitionBy: String, orderBy: String,
                  afterMatch: Cep.AfterMatch, pattern: Seq[(String, Quant)],
                  withinMs: Long, defines: Map[String, String],
                  rawDefines: Map[String, String],
                  measures: Seq[Measure], allRows: Boolean,
                  selectList: String, tailClause: String,
                  partitionCols: Seq[String] = Nil) {
    def partCols: Seq[String] = if (partitionCols.nonEmpty) partitionCols else Seq(partitionBy)
  }

  // the statement shape matches on literal/comment-BLANKED text with
  // groups sliced from the original (FlinkSql.Blanked), and every clause
  // scan below runs through FlinkSql.blankedMatch the same way — a DEFINE
  // predicate literal containing "PATTERN (" / "WITHIN INTERVAL ..." /
  // "AFTER MATCH ..." can no longer steal a clause (fuzz family 30)
  private val mrRe = new FlinkSql.Blanked(
    """(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\w+)\s+MATCH_RECOGNIZE\s*\((.*)\)\s*(ORDER\s+BY.*)?""".r)
  private val partRe = """(?is)PARTITION\s+BY\s+(\w+(?:\s*,\s*\w+)*)""".r
  private val ordRe = """(?is)ORDER\s+BY\s+(\w+)""".r
  private val skipRe =
    """(?is)AFTER\s+MATCH\s+SKIP\s+(PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW|TO\s+(FIRST|LAST)\s+(\w+))""".r
  private val patRe = """(?is)PATTERN\s*\(\s*([\w\s+*?{},]+?)\s*\)""".r
  private val withinRe = """(?is)WITHIN\s+INTERVAL\s+'([^']*)'\s+(\w+)""".r
  private val defineRe = """(?is)DEFINE\s+(.*)$""".r
  private val measuresRe =
    """(?is)MEASURES\s+(.*?)\s+(?=ONE\s+ROW|ALL\s+ROWS|AFTER\s+MATCH|PATTERN\s*\()""".r
  private val tokRe = """(\w+)(\+\??|\*\??|\?\??|\{(\d+)(?:,(\d+))?\}\??)?""".r
  private val aggMeasureRe =
    """(?is)^(?:(RUNNING|FINAL)\s+)?(FIRST|LAST|COUNT|SUM|AVG|MIN|MAX)\s*\((.*)\)\s+AS\s+(\w+)$""".r
  private val bareMeasureRe = """(?is)^(\w+)\.(\w+)\s+AS\s+(\w+)$""".r

  private def unitMicros(u: String): Long = u.toUpperCase match {
    case "SECOND" => 1000000L
    case "MINUTE" => 60L * 1000000L
    case "HOUR" => 3600L * 1000000L
    case "DAY" => 86400L * 1000000L
    case other => throw new IllegalArgumentException(s"WITHIN unit $other")
  }

  /** Is this statement a (restricted) MATCH_RECOGNIZE query? Requires the
    * keyword followed by its clause paren so table/view names containing the
    * word don't re-trigger the front-end. Caller (FlinkSql.Parser) tests
    * against literal/comment-stripped text. */
  def matches(sql: String): Boolean =
    """(?i)\bMATCH_RECOGNIZE\s*\(""".r.findFirstIn(sql).isDefined

  private def parsePattern(raw: String): Seq[(String, Quant)] = {
    val toks = raw.trim.split("""\s+""").toSeq.map {
      case tokRe(name, null, _, _) => name -> Quant(1, Some(1))
      case tokRe(name, q, n, m) =>
        val rel = q.endsWith("?") && q != "?" // a bare ? is optional, not reluctant
        q.charAt(0) match {
          case '+' => name -> Quant(1, None, rel)
          case '*' => name -> Quant(0, None, rel)
          case '?' => name -> Quant(0, Some(1), q == "??")
          case '{' =>
            val lo = n.toInt
            val hi = if (m != null) m.toInt else lo
            if (hi < lo) throw new IllegalArgumentException(s"bad range {$lo,$hi}")
            name -> Quant(lo, Some(hi), rel)
        }
      case other => throw new IllegalArgumentException(
        s"unsupported pattern element (quantifiers beyond + * ? {n} {n,m} and reluctant ?): $other")
    }
    toks.last._2 match {
      case Quant(lo, hi, _) if hi.isEmpty || hi.get > lo => throw new IllegalArgumentException(
        "greedy/optional/ranged quantifier on the last pattern variable is unsupported " +
          "(the match could never be finalized); end the pattern with a plain or {n} variable")
      case _ =>
    }
    toks
  }

  private def parseMeasures(body: String): Seq[Measure] = {
    val clause = FlinkSql.blankedMatch(measuresRe, body).map(_.head).getOrElse(return Nil)
    // split on top-level commas (measure exprs may contain nested parens
    // and string literals — both respected)
    val items = {
      // structure from the literal-blanked text (escape-faithful — see
      // EmitStrategy.splitTop, ADVICE r15), slices from the original
      val b = FlinkSql.blankLiteralsAndComments(clause)
      val out = Seq.newBuilder[String]
      var depth = 0; var start = 0
      b.zipWithIndex.foreach { case (c, i) =>
        c match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 =>
            out += clause.substring(start, i).trim; start = i + 1
          case _ =>
        }
      }
      out += clause.substring(start).trim
      out.result().filter(_.nonEmpty)
    }
    items.map {
      case aggMeasureRe(mode, fn, inner, alias) =>
        val running = mode == null || !mode.equalsIgnoreCase("FINAL")
        val in = inner.trim
        if (fn.toUpperCase == "COUNT" && (in == "*" || in.isEmpty))
          Measure(alias, "COUNT", None, "*", running)
        else {
          val varDot = """(?s)^(\w+)\.(.*)$""".r
          in match {
            case varDot(v, "*") => Measure(alias, fn.toUpperCase, Some(v), "*", running)
            case varDot(v, e) => Measure(alias, fn.toUpperCase, Some(v), e.trim, running)
            case other => throw new IllegalArgumentException(
              s"measure must navigate a pattern variable (V.col): $other")
          }
        }
      case bareMeasureRe(v, c, alias) => Measure(alias, "LAST", Some(v), c) // MR: bare V.c = LAST
      case other => throw new IllegalArgumentException(s"unsupported measure: $other")
    }
  }

  def parse(sql: String): Spec = sql.trim match {
    case mrRe(select, table, body, tail) =>
      val part = FlinkSql.blankedMatch(partRe, body).map(_.head)
        .getOrElse(throw new IllegalArgumentException("PARTITION BY required"))
      val ord = FlinkSql.blankedMatch(ordRe, body).map(_.head)
        .getOrElse(throw new IllegalArgumentException("ORDER BY required"))
      val skip = FlinkSql.blankedMatch(skipRe, body) match {
        case Some(g) if g(1) != null =>
          Cep.SkipToVar(g(2), g(1).equalsIgnoreCase("FIRST"))
        case Some(g) if g(0).toUpperCase.startsWith("TO") => Cep.SkipToNextRow
        case _ => Cep.SkipPastLastRow
      }
      val pattern = FlinkSql.blankedMatch(patRe, body)
        .map(g => parsePattern(g.head))
        .getOrElse(throw new IllegalArgumentException("PATTERN required"))
      val within = FlinkSql.blankedMatch(withinRe, body)
        .map(g => g(0).toLong * unitMicros(g(1)))
        .getOrElse(Long.MaxValue)
      val defBody = FlinkSql.blankedMatch(defineRe, body).map(_.head)
        .getOrElse(throw new IllegalArgumentException("DEFINE required"))
      // split "A AS pred, B AS pred" on top-level commas preceding
      // "<var> AS" — cut points located on blanked text so a predicate
      // literal containing ", X AS ..." stays one predicate
      val defSplitRe = """(?i),(?=\s*\w+\s+AS\s)""".r
      val defCuts = defSplitRe
        .findAllMatchIn(FlinkSql.blankLiteralsAndComments(defBody)).map(_.start).toSeq
      val defItems = (Seq(-1) ++ defCuts :+ defBody.length).sliding(2).map {
        case Seq(a, b) => defBody.substring(a + 1, b)
      }.toSeq
      val defPairs = defItems.map { d =>
        val Array(name, pred) = d.trim.split("""(?i)\s+AS\s+""", 2)
        // strip the variable's own prefix: "A.col" → "col", then compile
        // PREV/NEXT row navigation onto lag/lead over the partition order
        // (the reference's MatchCodeGenerator does the same row-offset
        // resolution; restricted here to physical-row navigation, which is
        // what PREV/NEXT mean under strict contiguity)
        val stripped = pred.trim.replaceAll(s"""(?i)\\b${name.trim}\\.""", "")
        val w = s"OVER (PARTITION BY $part ORDER BY $ord)"
        val nav = stripped
          .replaceAll("""(?i)\bPREV\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)""", s"lag($$1, $$2) $w")
          .replaceAll("""(?i)\bPREV\s*\(\s*(\w+)\s*\)""", s"lag($$1, 1) $w")
          .replaceAll("""(?i)\bNEXT\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)""", s"lead($$1, $$2) $w")
          .replaceAll("""(?i)\bNEXT\s*\(\s*(\w+)\s*\)""", s"lead($$1, 1) $w")
        (name.trim, stripped, nav)
      }
      val defines = defPairs.map(p => (p._1, p._3)).toMap
      val rawDefines = defPairs.map(p => (p._1, p._2)).toMap
      val allRows = """(?i)ALL\s+ROWS\s+PER\s+MATCH""".r
        .findFirstIn(FlinkSql.blankLiteralsAndComments(body)).isDefined
      val partCols = part.split(",").map(_.trim).toSeq
      Spec(table, partCols.head, ord, skip, pattern, within, defines, rawDefines,
        parseMeasures(body), allRows, select.trim, Option(tail).getOrElse("").trim,
        partitionCols = partCols)
    case _ => throw new IllegalArgumentException("unsupported MATCH_RECOGNIZE shape")
  }

  /** Compile one measure into (aggregate, post-projection) over the exploded
    * (match id, label, __seq, source columns) frame. FIRST/LAST ride a
    * (seq, value) struct through min/max — null for other variables' rows,
    * which min/max skip — so no per-variable shuffle or sort is needed. The
    * post step (struct field extraction) applies AFTER the aggregate so the
    * same pair works in a groupBy and over a window frame. */
  private def measureAgg(m: Measure, labelCol: String): (Column, Column => Column) = {
    def onVar(e: Column): Column = m.variable match {
      case Some(v) => when(col(labelCol) === v, e)
      case None => e
    }
    m.fn match {
      case "COUNT" => (count(onVar(lit(1))), identity)
      case "FIRST" =>
        (min(onVar(struct(col("__seq").as("s"), expr(m.expr).as("v")))), _.getField("v"))
      case "LAST" =>
        (max(onVar(struct(col("__seq").as("s"), expr(m.expr).as("v")))), _.getField("v"))
      case "SUM" => (sum(onVar(expr(m.expr))), identity)
      case "AVG" => (avg(onVar(expr(m.expr))), identity)
      case "MIN" => (min(onVar(expr(m.expr))), identity)
      case "MAX" => (max(onVar(expr(m.expr))), identity)
      case other => throw new IllegalArgumentException(s"measure function $other")
    }
  }

  private def measureCol(m: Measure): Column = {
    val (agg, post) = measureAgg(m, "__label")
    post(agg).as(m.alias)
  }

  /** Execute against the registered table; returns the outer SELECT. */
  /** Expand quantifiers onto NFA steps; MR contiguity is strict everywhere
    * (fresh starts are unaffected by the flag, but a quantifier's
    * absorb-branch must die — not wait — when contiguity breaks). Shared
    * by the batch scan and the streaming operator. */
  private def compileSteps(spec: Spec, varBit: Map[String, Int]): Seq[Cep.Step] =
    spec.pattern.flatMap { case (v, q) =>
      def base = Cep.Step(v, r => r.kind.charAt(varBit(v)) == '1', strict = true,
        reluctant = q.reluctant)
      (q.min, q.max) match {
        case (0, None) => Seq(base.copy(oneOrMore = true, optional = true)) // *
        case (n, None) => Seq.fill(n - 1)(base) :+ base.copy(oneOrMore = true) // + / {n,}
        case (n, Some(m)) => Seq.fill(n)(base) ++
          Seq.fill(m - n)(base.copy(optional = true)) // {n} / {n,m} / ?
      }
    }

  /** The same MATCH_RECOGNIZE statement executed as a REAL StreamingQuery —
    * the reference's deployment shape (stream/StreamExecMatch.scala:68
    * plans MATCH_RECOGNIZE onto the CEP operator; the batch node is the
    * bounded special case). The pattern compiles to the identical NFA
    * steps as [[run]] and executes on [[Cep.matchStream]]'s
    * watermark-ordered keyed state (buffer until the watermark confirms
    * order, advance the NFA, event-time timer flush), file-streamed from
    * the same table and drained through the exactly-once file sink
    * ([[graft.RelayDir.drain]]). Once the final watermark passes max(ts)
    * the emitted match set equals the batch scan's — the oracle check
    * (graft.Verify + tools/check.py) asserts that against the SAME DuckDB
    * oracle row.
    *
    * Streaming surface: the full statement shape — ONE ROW PER MATCH with
    * MEASURES, ALL ROWS PER MATCH with CLASSIFIER / MATCH_NUMBER /
    * RUNNING-FINAL measures, and PREV-k / NEXT-k navigation in DEFINE.
    *  - Navigation runs on ONE operator, [[Cep.orderedWithNav]]: the
    *    watermark-ordered keyed ring of the preceding rows, with each row
    *    held until its `nextDepth` successors clear the watermark — the
    *    streaming analogue of the batch lag/lead windows (the reference
    *    resolves PREV/NEXT against the NFA's own row buffer,
    *    MatchCodeGenerator.scala). Navigation reads the KeyedRow payload
    *    (the partition / order / event_type / value columns; the order
    *    column compares as epoch-micros). It runs only when a DEFINE
    *    navigates.
    *  - One query: the navigation operator re-emits each row's event time
    *    above the watermark that released it, so the DEFINE mask and the
    *    NFA ([[Cep.matchWatermarked]]) run behind it under the same
    *    watermark, and navigation and NFA state share one checkpoint.
    *  - With NEXT, the source carries the end marker ([[Bounded.withEnd]],
    *    in the sink's `.end` sibling): Spark file streams emit no final
    *    MAX_WATERMARK, so the sentinel's watermark is what flushes each
    *    key's last rows with short lookahead rings — the reference's
    *    end-of-input watermark flush.
    *  - MEASURES and ALL ROWS PER MATCH run the batch recipe once over the
    *    drained matches: explode each match's (id, label) list, hash-join
    *    back to the static source on (partition, event id) — touching only
    *    matched rows — then aggregate per match (MEASURES) or keep each
    *    matched row with CLASSIFIER = its step label and RUNNING/FINAL
    *    measures windowed per match (ALL ROWS). MATCH_NUMBER uses the batch
    *    node's exact formulation (dense_rank over (start_ts, first matched
    *    seq) per key).
    *
    * The match sink is exactly-once: a micro-batch replayed after a crash
    * is skipped by the file sink's commit log. At scale this is one
    * hash-partition by key with O(open-runs + depth) state per key and
    * watermark-bounded buffers — no per-batch sort of history, no unbounded
    * state; the join-back is proportional to the matches, not the input. */
  def runStream(spark: SparkSession, dir: String, sql: String): DataFrame =
    runStreamInto(spark, dir, sql, graft.RelayDir.fresh("mr_stream", dir))

  /** [[runStream]] with the match sink at `out` (checkpoint `<out>.ckpt`):
    * a rerun on the same `out` resumes from its checkpoint. */
  private[graft] def runStreamInto(spark: SparkSession, dir: String, sql: String,
                                   out: String): DataFrame = {
    val spec = parse(sql)
    require(spec.partCols.size == 1,
      "streaming MATCH_RECOGNIZE keys state on a single PARTITION BY column — " +
        "multi-column partitions run on the batch node")
    val vars = spec.pattern.map(_._1).distinct
    val varBit = vars.zipWithIndex.toMap
    import spark.implicits._
    val schema = graft.Tables.schema(spark, dir, spec.table)
    val pattern = Cep.Pattern(compileSteps(spec, varBit), spec.withinMs, spec.afterMatch)
    def maskOf(defines: Map[String, String]): Column =
      concat(vars.map(v => defines.get(v)
        .map(d => when(expr(d), lit("1")).otherwise(lit("0")))
        .getOrElse(lit("1"))): _*)
    val prevRe = """(?i)\bPREV\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
    val nextRe = """(?i)\bNEXT\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
    def maxDepth(re: scala.util.matching.Regex): Int =
      spec.rawDefines.values.flatMap(d => re.findAllMatchIn(d).map(m =>
        Option(m.group(2)).map(_.toInt).getOrElse(1))).maxOption.getOrElse(0)
    val prevDepth = maxDepth(prevRe)
    val nextDepth = maxDepth(nextRe)
    // raw parquet NANOS timestamp arrives as long (nanosAsLong conf)
    def keyed(kind: Column, value: Column) =
      graft.Tables.streamTable(spark, dir, spec.table, schema)
        .select(col(spec.partitionBy).cast("long").as("key"),
          graft.Tables.tsAsMicrosLong(schema, spec.orderBy).as("ts"),
          col("event_id").as("id"), kind.as("kind"), value.as("value"))
        .as[KeyedRow]

    // DEFINE onto the ring columns: PREV(c, k) → try_element_at(prev_c, k),
    // NEXT(c, k) → try_element_at(next_c, k) (NULL past the partition edge —
    // lag/lead's semantics); bare columns map onto the KeyedRow payload names
    def navRewrite(d: String): String = {
      def ringArr(prefix: String, m: scala.util.matching.Regex.Match): String = {
        val k = Option(m.group(2)).getOrElse("1")
        val arr = m.group(1) match {
          case "value" => s"${prefix}_value"
          case "event_type" => s"${prefix}_kind"
          case c if c.equalsIgnoreCase(spec.orderBy) => s"${prefix}_ts"
          case other => throw new IllegalArgumentException(
            s"streaming ${prefix.toUpperCase} navigates value/event_type/${spec.orderBy}, got $other")
        }
        s"try_element_at($arr, $k)"
      }
      nextRe.replaceAllIn(prevRe.replaceAllIn(d, ringArr("prev", _)), ringArr("next", _))
        .replaceAll("""(?i)\bevent_type\b""", "kind")
        .replaceAll(s"""(?i)\\b${spec.orderBy}\\b""", "ts")
        .replaceAll(s"""(?i)\\b${spec.partitionBy}\\b""", "key")
        .replaceAll("""(?i)\bevent_id\b""", "id")
    }

    // NEXT holds each key's last rows until the end marker's watermark
    val end = Option.when(nextDepth > 0)(s"$out.end")
    val matches =
      if (prevDepth == 0 && nextDepth == 0)
        Cep.matchStream(keyed(maskOf(spec.defines), lit(0.0)), pattern)
      else {
        val in = keyed(col("event_type"), col("value"))
        // the end marker's row stops here: its watermark, taken at the
        // source, still ticks the NFA, but DEFINE never evaluates it
        val nav = Cep.orderedWithNav(end.fold(in)(Bounded.withEnd(in, _)),
          math.max(prevDepth, 1), nextDepth).filter(col("key") =!= Bounded.EndKey)
        Cep.matchWatermarked(nav
          .withColumn("__mask", maskOf(spec.rawDefines.map {
            case (v, d) => v -> navRewrite(d) }))
          .select(col("key"), col("ts"), col("id"),
            col("__mask").as("kind"), col("value"), col("ets"))
          .as[Cep.KeyedRowW], pattern)
      }
    val matched = graft.RelayDir.drain(spark, matches.toDF(), out, end)
    val srcStatic = spark.read.schema(schema).parquet(graft.Tables.path(dir, spec.table))
      .withColumn("__pkey", col(spec.partitionBy).cast("long"))
      .withColumn("__srcid", col("event_id").cast("long"))
    val result: DataFrame =
      if (spec.allRows) {
        // event_id tiebreak: the NFA consumes rows in (ts, event_id) order,
        // so row_seq numbering must break order-column ties the same way
        val seqW = Window.partitionBy(col(spec.partitionBy))
          .orderBy(col(spec.orderBy), col("event_id"))
        val prepared = srcStatic.withColumn("__seq", row_number().over(seqW).cast("long"))
        val expl = matched.withColumn("__mid", monotonically_increasing_id())
          .select(col("__mid"), col("key"), col("start_ts"),
            explode(arrays_zip(col("ids"), col("labels"))).as("z"))
          .select(col("__mid"), col("key"), col("start_ts"),
            col("z.ids").as("__eid"), col("z.labels").as("classifier"))
        val joined = expl.join(prepared,
          expl("key") === prepared("__pkey") && expl("__eid") === prepared("__srcid"))
        val runW = Window.partitionBy(col("__mid")).orderBy(col("__seq"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val finW = Window.partitionBy(col("__mid"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val withMeasures = spec.measures.foldLeft(joined) { (df, m) =>
          val (agg, post) = measureAgg(m, "classifier")
          df.withColumn(m.alias, post(agg.over(if (m.running) runW else finW)))
        }
        withMeasures
          .withColumn("__first_seq", min(col("__seq")).over(finW))
          .drop("__mid", "__eid", "__srcid", "__pkey", "key")
          .withColumn("match_no", dense_rank().over(
            Window.partitionBy(col(spec.partitionBy))
              .orderBy(col("start_ts"), col("__first_seq"))))
          .drop("start_ts", "__first_seq")
          .withColumnRenamed("__seq", "row_seq")
      }
      else if (spec.measures.isEmpty)
        matched.select(col("key"), col("start_ts"), col("end_ts"),
          size(col("ids")).cast("long").as("n_rows"))
      else {
        // explode ids/labels, join back on (partition, event id) — matched
        // rows only — aggregate per match
        val aggs = spec.measures.map(measureCol)
        val expl = matched.withColumn("__mid", monotonically_increasing_id())
          .select(col("__mid"), col("key"), col("start_ts"), col("end_ts"),
            size(col("ids")).cast("long").as("n_rows"),
            posexplode(arrays_zip(col("ids"), col("labels"))).as(Seq("__pos", "z")))
          .select(col("__mid"), col("key"), col("start_ts"), col("end_ts"),
            col("n_rows"), (col("__pos") + 1).cast("long").as("__seq"),
            col("z.ids").as("__eid"), col("z.labels").as("__label"))
        expl.join(srcStatic, expl("key") === srcStatic("__pkey") &&
            expl("__eid") === srcStatic("__srcid"))
          .groupBy(col("__mid"), col("key"), col("start_ts"), col("end_ts"),
            col("n_rows"))
          .agg(aggs.head, aggs.tail: _*)
          .drop("__mid")
      }
    SqlText.query(spark, s"SELECT ${spec.selectList} FROM __mr_out ${spec.tailClause}",
      Map("__mr_out" -> result.withColumnRenamed("key", spec.partitionBy)))
  }

  def run(spark: SparkSession, sql: String): DataFrame = {
    val spec = parse(sql)
    val src = spark.table(spec.table)
    val pCols = spec.partCols
    // compile DEFINE predicates with Spark, pack into a bitmask string —
    // one bit per distinct pattern variable
    val vars = spec.pattern.map(_._1).distinct
    val varBit = vars.zipWithIndex.toMap
    // a pattern variable without a DEFINE matches every row (the standard's
    // default — e.g. the STRT anchor of the canonical V-shape query)
    val flags = vars.map(v => expr(spec.defines.getOrElse(v, "true")))
    val mask = concat(flags.map(f => when(f, lit("1")).otherwise(lit("0"))): _*)
    // tiebreak on event_id (when the table carries one) so __seq assignment
    // — and with it the NFA's scan order — is deterministic under order-
    // column ties, matching the streaming path's (ts, event_id) ordering
    val seqW = {
      val w = Window.partitionBy(pCols.map(col): _*)
      if (src.columns.contains("event_id")) w.orderBy(col(spec.orderBy), col("event_id"))
      else w.orderBy(col(spec.orderBy))
    }
    import spark.implicits._
    // the NFA keys on a LONG: a single partition column casts directly;
    // a multi-column partition (round 9) maps each distinct tuple to a
    // dense surrogate via distinct + hash join — distributed and EXACT
    // (a hashed composite would risk collisions merging two partitions).
    // monotonically_increasing_id is NONDETERMINISTIC across recomputes,
    // and the returned frame references this map lazily — so the map is
    // eagerly localCheckpoint-ed: the surrogate values are pinned and the
    // lineage severed, making a recompute (e.g. after a ResultCaches
    // between-sample drop) structurally impossible rather than silently
    // divergent between the key join and the final join-back (ADVICE r10).
    // The tiny distinct-keys blocks are reclaimed by the ContextCleaner
    // once the returned frame is unreachable.
    val keyMapOpt: Option[DataFrame] =
      if (pCols.size == 1) None
      else Some(
        src.select(pCols.map(col): _*).distinct()
          .withColumn("__mrpk", monotonically_increasing_id())
          .cutLineage(true))
    val prepared0 = src
      .withColumn("__mask", mask)
      .withColumn("__seq", row_number().over(seqW).cast("long"))
    val prepared = keyMapOpt match {
      case None => prepared0.withColumn("__mrpk", col(pCols.head).cast("long"))
      case Some(km) => prepared0.join(km, pCols)
    }
    val rows = prepared
      .select(col("__mrpk").as("key"),
        expr(s"unix_micros(cast(${spec.orderBy} as timestamp))").as("ts"),
        col("__seq").as("id"), col("__mask").as("kind"), lit(0.0).as("value"))
      .as[KeyedRow]
    val steps = compileSteps(spec, varBit)
    // the DEFINE-mask window above already hash-partitioned every partition
    // key's rows into one partition — the NFA scan reuses that clustering
    // instead of shuffling the rows a second time on the same key
    val matchesDs = Cep.matchBatch(rows,
      Cep.Pattern(steps, spec.withinMs, spec.afterMatch),
      prePartitionedByKey = keyMapOpt.isEmpty)
    // eagerly pinned: the MEASURES branch joins two derivations of this
    // frame on __mid — uncut, the NFA scan executed once per side and the
    // nondeterministic id relied on bit-identical re-execution; the
    // checkpoint runs the NFA once and freezes the ids (r16)
    val m = matchesDs.toDF().withColumn("__mid", monotonically_increasing_id())
      .cutLineage()
    val base = m.select(col("key").as("__pkey"), col("start_ts"), col("end_ts"),
      size(col("ids")).cast("long").as("n_rows"), col("__mid"), col("ids"), col("labels"))
    // restore the partition columns on a match-level frame (ONE ROW paths);
    // the ALL ROWS path carries them through its source join instead
    def withPartCols(df: DataFrame): DataFrame = keyMapOpt match {
      case None => df.withColumn(spec.partitionBy, col("__pkey"))
      case Some(km) => df.join(km, df("__pkey") === km("__mrpk")).drop("__mrpk")
    }
    val out =
      if (spec.allRows) {
        // ALL ROWS PER MATCH: one output row per MATCHED input row — source
        // columns + CLASSIFIER() (the step label) + MATCH_NUMBER() (1-based
        // per partition, ordered by match start). Measures are RUNNING by
        // default (aggregate over the match's rows up to and including this
        // one — a window frame per __mid) or FINAL (the whole match).
        val exploded = base
          .withColumn("__first_seq", element_at(col("ids"), 1))
          .select(col("__mid"), col("__pkey"), col("start_ts"), col("__first_seq"),
            explode(arrays_zip(col("ids"), col("labels"))).as("z"))
          .select(col("__mid"), col("__pkey"), col("start_ts"), col("__first_seq"),
            col("z.ids").as("__seq"), col("z.labels").as("classifier"))
          .withColumn("match_no", dense_rank().over(
            Window.partitionBy(col("__pkey")).orderBy(col("start_ts"), col("__first_seq"))))
        val joined = exploded.join(
            prepared.withColumn("__pkey", col("__mrpk")),
            Seq("__pkey", "__seq"))
        val runW = Window.partitionBy(col("__mid")).orderBy(col("__seq"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val finW = Window.partitionBy(col("__mid"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val withMeasures = spec.measures.foldLeft(joined) { (df, m) =>
          val (agg, post) = measureAgg(m, "classifier")
          df.withColumn(m.alias, post(agg.over(if (m.running) runW else finW)))
        }
        withMeasures
          .drop("__mid", "__pkey", "__mrpk", "start_ts", "__first_seq", "__mask")
          .withColumnRenamed("__seq", "row_seq")
      }
      else if (spec.measures.isEmpty)
        withPartCols(base)
          .select(pCols.map(col) ++ Seq(col("start_ts"), col("end_ts"), col("n_rows")): _*)
      else {
        val exploded = base.select(col("__mid"), col("__pkey"),
            explode(arrays_zip(col("ids"), col("labels"))).as("z"))
          .select(col("__mid"), col("__pkey"),
            col("z.ids").as("__seq"), col("z.labels").as("__label"))
        val joined = exploded.join(
          prepared.withColumn("__pkey", col("__mrpk")),
          Seq("__pkey", "__seq"))
        val aggs = spec.measures.map(measureCol)
        val meas = joined.groupBy(col("__mid")).agg(aggs.head, aggs.tail: _*)
        withPartCols(base.join(meas, "__mid"))
          .select(pCols.map(col) ++
            Seq(col("start_ts"), col("end_ts"), col("n_rows")) ++
            spec.measures.map(mm => col(mm.alias)): _*)
      }
    SqlText.query(spark, s"SELECT ${spec.selectList} FROM __mr_out ${spec.tailClause}",
      Map("__mr_out" -> out))
  }
}
