package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.AsOf

/** `FOR SYSTEM_TIME AS OF` SQL syntax (SURVEY.md §7.2 M4) — the reference's
  * temporal-join SQL surface (parserImpls.ftl snapshot clause +
  * LogicalCorrelateToJoinFromTemporalTableRule.scala), routed through the
  * injected parser onto the custom AsOfJoin operator (plans/AsOfJoinPlan).
  *
  * Flink learns the versioned table's event-time attribute from its DDL
  * (`WATERMARK FOR col AS ...`); the analogue here is
  * [[declareWatermark]](table, col) — the same information, declared
  * programmatically instead of via DDL.
  *
  * Statement shape (round 8 widened — aliases + multi-key conjunctions;
  * round 11 adds the LEFT keyword):
  *
  *   SELECT <cols> FROM <left> [[AS] la] [LEFT] JOIN <right> [[AS] ra]
  *     FOR SYSTEM_TIME AS OF <timeExpr>
  *   ON <k> = <k> [AND <k> = <k> ...] [WHERE ... | ORDER BY ...]
  *
  * where <timeExpr> and every <k> are bare or alias/table-dotted column
  * names; several equality conjuncts compose into one STRUCT as-of key
  * (the custom operator clusters and orders on the key expression
  * generically, so a struct key needs no operator change). Alias prefixes
  * are resolved during parsing and stripped from the outer SELECT/tail.
  * Output = left columns + right columns. Keyword semantics match the
  * reference (TemporalJoinITCase.scala:344 proctime LEFT, :500
  * testEventTimeLeftTemporalJoin) in BOTH time variants: plain `JOIN`
  * is INNER — left rows with no version ≤ time (event time) or no
  * version at all (proc time) are DROPPED; `LEFT JOIN` null-pads them.
  */
object SystemTimeJoin {

  /** table → (event-time column, bounded-out-of-orderness delay); the DDL
    * watermark registry. Fed by `WATERMARK FOR` DDL (sql/WatermarkDdl) or
    * programmatically. */
  private val timeAttributes =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Mirror of `WATERMARK FOR <col> AS <col> - INTERVAL ...` DDL on a (temp)
    * table. `delay` is a Spark duration literal ("5 seconds"). */
  def declareWatermark(table: String, timeCol: String, delay: String = "0 seconds"): Unit =
    timeAttributes(table.toLowerCase) = (timeCol, delay)

  /** The declared (event-time col, delay) for a table, if any. */
  def watermarkOf(table: String): Option[(String, String)] =
    timeAttributes.get(table.toLowerCase)

  /** table → the DDL watermark EXPRESSION text in the reference's catalog
    * serialization (identifiers backquoted: "`ts` - INTERVAL '5' SECOND") —
    * what DESCRIBE prints in its `watermark` column
    * (WatermarkSpec.getWatermarkExpr, TableEnvironmentImpl.java:1100-1103).
    * Kept beside the (col, delay) pair because the pair is lossy: the delay
    * is already normalized to a Spark duration. */
  private val wmExprTexts = scala.collection.concurrent.TrieMap.empty[String, String]

  def declareWatermarkExpr(table: String, exprText: String): Unit =
    wmExprTexts(table.toLowerCase) = exprText

  def watermarkExprOf(table: String): Option[String] =
    wmExprTexts.get(table.toLowerCase)

  /** view name → its body's base table, recorded whenever a SQL
    * `CREATE ... VIEW` statement runs (the parser wraps its plan). The
    * reference rewrites a temporal join whose versioned side sits under a
    * view (TemporalJoinRewriteWithUniqueKeyRule.scala); the analogue here
    * is lineage: a view over a declared versioned table INHERITS the time
    * attribute, chained through any depth of views, as long as each hop's
    * projection keeps the time column visible (checked at join time).
    * Views created programmatically (createOrReplaceTempView) don't pass
    * the parser and so don't inherit — declare those explicitly. */
  private val viewBase = scala.collection.concurrent.TrieMap.empty[String, String]

  private val createViewRe =
    ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMPORARY\s+|TEMP\s+)?""" +
     """VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)""").r
  private val firstFromRe = """(?is)\bFROM\s+([\w.]+)""".r

  /** Record `view → base` lineage if `probe` (literal/comment-blanked
    * statement text) is a CREATE VIEW over a named base table. Only a FROM
    * at parenthesis depth zero counts: a FROM inside a scalar subquery or
    * derived table must NOT register lineage, or a colliding column name
    * could silently inherit the wrong watermark. Depth is tracked by
    * balance, not presence — a CLOSED paren group before the FROM (e.g.
    * `SELECT CAST(x AS INT), ts FROM base`) is depth zero and records
    * lineage normally (regex front-end discipline: widen as tests demand). */
  def maybeRecordView(probe: String): Unit =
    createViewRe.findFirstMatchIn(probe).foreach { m =>
      val body = probe.substring(m.end)
      firstFromRe.findFirstMatchIn(body)
        .filter { f =>
          val head = body.substring(0, f.start)
          head.count(_ == '(') == head.count(_ == ')')
        }
        .foreach { f =>
          viewBase(m.group(1).toLowerCase) = f.group(1).toLowerCase
        }
    }

  /** Resolve the versioned side's (time col, delay): a direct declaration,
    * or one inherited through recorded view lineage — valid only if the
    * final relation `rel` still exposes the time column. */
  private def resolveTime(table: String, rel: DataFrame): Option[(String, String)] = {
    def walk(t: String, seen: Set[String]): Option[(String, String)] =
      timeAttributes.get(t).orElse {
        if (seen(t)) None
        else viewBase.get(t).flatMap(walk(_, seen + t))
      }
    walk(table.toLowerCase, Set.empty)
      .filter { case (c, _) => rel.columns.exists(_.equalsIgnoreCase(c)) }
  }

  def matches(sql: String): Boolean =
    """(?i)FOR\s+SYSTEM_TIME\s+AS\s+OF""".r.findFirstIn(sql).isDefined

  // statement shape located on literal/comment-BLANKED text, groups
  // sliced from the original (FlinkSql.Blanked) — a SELECT-list literal
  // containing " FROM a JOIN b FOR SYSTEM_TIME ..." cannot steal the
  // clause (fuzz family 30)
  private val stRe = new FlinkSql.Blanked(
    ("""(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?(?!JOIN\b|LEFT\b)(\w+))?""" +
     """\s+(LEFT\s+)?JOIN\s+(\w+)(?:\s+(?:AS\s+)?(?!FOR\b)(\w+))?""" +
     """\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+([\w.]+(?:\(\s*\))?)""" +
     """\s+ON\s+(.*?)\s*((?:WHERE|ORDER|GROUP|LIMIT)\b.*)?""").r)
  private val eqRe = """([\w.]+)\s*=\s*([\w.]+)""".r

  private def bare(c: String): String = c.split("\\.").last

  /** Round-9 front-end widening: the temporal join may sit inside a CTE or
    * a FROM/JOIN derived table. CTE bodies and derived tables are evaluated
    * recursively (through the temporal machinery when they carry the
    * FOR SYSTEM_TIME clause, a plain query otherwise) and bound by name
    * inside the rest of the statement's plan ([[SqlText.query]]) — they
    * shadow a table of the same name for this statement only — so
    * `WITH j AS (SELECT ... FOR SYSTEM_TIME ...) SELECT ... FROM j` and
    * `SELECT ... FROM (SELECT ... FOR SYSTEM_TIME ...) t ...` both work.
    * `relations` are names the caller has bound already (OPTIONS hints). */
  def run(spark: SparkSession, sql: String,
          relations: Map[String, DataFrame] = Map.empty): DataFrame = {
    val t = sql.trim
    if ("""(?is)^WITH\s""".r.findFirstIn(t).isDefined) runWithCtes(spark, t, relations)
    else {
      val (sub, rels) = derivedTables(spark, t, relations)
      if (sub != t) runAny(spark, sub, rels) else core(spark, t, relations)
    }
  }

  private def runAny(spark: SparkSession, q: String, relations: Map[String, DataFrame]): DataFrame =
    if (matches(q)) run(spark, q, relations) else SqlText.query(spark, q, relations)

  /** Evaluate each `name AS ( body )` in order — a body sees the CTEs
    * before it — then run the main query with the CTE prefix stripped. */
  private def runWithCtes(spark: SparkSession, sql: String,
                          relations: Map[String, DataFrame]): DataFrame = {
    var rest = sql.trim.replaceFirst("(?is)^WITH\\s", "")
    var rels = relations
    val nameRe = """(?is)^\s*,?\s*(\w+)\s+AS\s*\(""".r
    var main: Option[String] = None
    while (main.isEmpty) {
      nameRe.findFirstMatchIn(FlinkSql.blankLiteralsAndComments(rest)) match {
        case Some(m) =>
          val (body, after) = balanced(rest, m.end)
          rels += m.group(1).toLowerCase -> runAny(spark, body, rels)
          rest = after
          if (!"""(?s)^\s*,""".r.findFirstIn(rest).isDefined) main = Some(rest)
        case None => main = Some(rest)
      }
    }
    runAny(spark, main.get.trim, rels)
  }

  /** `rest(openEnd-1) == '('`: returns (contents, text after the close).
    * Parens are counted on literal/comment-BLANKED text (lexer-faithful
    * escapes), so a paren inside a string literal never unbalances the
    * split; the returned slices are from the ORIGINAL. */
  private def balanced(rest: String, openEnd: Int): (String, String) = {
    val b = FlinkSql.blankLiteralsAndComments(rest)
    var depth = 1; var i = openEnd
    while (depth > 0) {
      if (i == b.length) throw new IllegalArgumentException(
        "FOR SYSTEM_TIME AS OF: no ')' closes the '(' before " +
          s"'${rest.substring(openEnd).trim.take(40)}'")
      b.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    (rest.substring(openEnd, i - 1), rest.substring(i))
  }

  /** Bind every FROM/JOIN derived table under its alias (a generated name
    * when it has none) and put that name in its place; returns the
    * rewritten statement (identity if none) and the relations. */
  private def derivedTables(spark: SparkSession, sql: String, relations: Map[String, DataFrame])
      : (String, Map[String, DataFrame]) = {
    val fromRe = """(?is)\b(FROM|JOIN)\s*\(""".r
    fromRe.findFirstMatchIn(FlinkSql.blankLiteralsAndComments(sql)) match {
      case Some(m) =>
        val (body, after) = balanced(sql, m.end)
        val aliasRe = """(?is)^\s*(?:AS\s+)?(\w+)""".r
        val (alias, rest) = aliasRe.findFirstMatchIn(after) match {
          // FOR would be the start of the snapshot clause, not an alias
          case Some(a) if !Set("FOR", "ON", "WHERE", "ORDER", "GROUP", "LIMIT", "JOIN", "LEFT")
              .contains(a.group(1).toUpperCase) =>
            (a.group(1), after.substring(a.end))
          case _ => (s"__st_sub_${relations.size}", after)
        }
        derivedTables(spark, sql.substring(0, m.start) + s"${m.group(1)} $alias" + rest,
          relations + (alias.toLowerCase -> runAny(spark, body.trim, relations)))
      case None => (sql, relations)
    }
  }

  private def core(spark: SparkSession, sql: String,
                   relations: Map[String, DataFrame]): DataFrame = sql.trim match {
    case stRe(select, lt, la, leftKw, rt, ra, timeExpr, onCond, tail) =>
      // reference keyword semantics in both variants: plain JOIN = inner,
      // LEFT JOIN = null-pad (TemporalJoinITCase.scala:344,500)
      val outer = leftKw != null
      val left = SqlText.table(spark, lt, relations)
      val right = SqlText.table(spark, rt, relations)
      val rTimeCol = resolveTime(rt, right).map(_._1).getOrElse(
        throw new IllegalArgumentException(
          s"no watermark declared for versioned table $rt — declare it in DDL " +
            s"(WATERMARK FOR <col> AS ...) or call SystemTimeJoin.declareWatermark; " +
            s"a view inherits its base table's declaration only while its " +
            s"projection keeps the time column"))
      // alias → side; fall back to column membership for bare names
      val lNames = Set(Option(la), Some(lt)).flatten.map(_.toLowerCase)
      val rNames = Set(Option(ra), Some(rt)).flatten.map(_.toLowerCase)
      def sideOf(c: String): Option[Boolean] = c.split("\\.") match {
        case Array(p, _) if lNames(p.toLowerCase) => Some(true)
        case Array(p, _) if rNames(p.toLowerCase) => Some(false)
        case Array(b) if left.columns.contains(b) && !right.columns.contains(b) => Some(true)
        case Array(b) if right.columns.contains(b) && !left.columns.contains(b) => Some(false)
        case _ => None
      }
      // the ON conjunction: every conjunct an equality, each with one
      // operand per side
      val pairs = onCond.split("""(?i)\s+AND\s+""").toSeq.map {
        case eqRe(a, b) => (sideOf(a), sideOf(b)) match {
          case (Some(true), _) | (_, Some(false)) => (bare(a), bare(b))
          case (Some(false), _) | (_, Some(true)) => (bare(b), bare(a))
          case _ => throw new IllegalArgumentException(
            s"cannot resolve join-key sides in '$a = $b'")
        }
        case other => throw new IllegalArgumentException(
          s"temporal-join ON must be a conjunction of equalities, got '$other'")
      }
      // PROCTIME(): the build side's latest version, no event-time correlation
      val proctime = timeExpr.toUpperCase.replaceAll("\\s", "") == "PROCTIME()"
      val joined = AsOf.temporalJoin(left, right, pairs,
        Option.unless(proctime)(bare(timeExpr)), rTimeCol, outer)
      // the join flattens both sides, so strip alias qualifiers from the
      // outer projection and tail (literal-aware: a string literal
      // containing "la." survives verbatim)
      def strip(s0: String): String = SqlText.stripQualifiers(s0, lNames ++ rNames)
      SqlText.query(spark,
        s"SELECT ${strip(select)} FROM __st_out ${strip(Option(tail).getOrElse(""))}",
        relations + ("__st_out" -> joined))
    case _ =>
      throw new IllegalArgumentException("unsupported FOR SYSTEM_TIME AS OF shape")
  }
}
