package graft.sql

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParameterContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Flink-SQL group-window syntax front-end (SURVEY.md §7.2 M4).
  *
  * The reference parses `TUMBLE/HOP/SESSION(ts, INTERVAL ...)` group-window
  * functions and their `_START/_END` auxiliary accessors with a Calcite
  * grammar extension (flink-sql-parser parserImpls.ftl; operators declared in
  * FlinkSqlOperatorTable.java), then `WindowPropertiesRule.scala` /
  * `StreamLogicalWindowAggregateRule.scala` rewrite them onto its window
  * operators. Spark-first equivalent: a `ParserInterface` delegate —
  * registered via `SparkSessionExtensions.injectParser` — that rewrites the
  * Flink spelling onto Spark's native `window()` / `session_window()`
  * table-valued-ish grouping expressions, which Catalyst plans with its
  * built-in (and codegen'd) time-window machinery. Everything downstream
  * (planning, state, pushdown) is stock Spark — only the dialect is custom.
  *
  * Rewrites (case-insensitive):
  *   TUMBLE(ts, INTERVAL '10' MINUTE)        → window(ts, '10 minute')
  *   TUMBLE_START(args) / TUMBLE_END(args)   → window.start / window.end
  *   HOP(ts, INTERVAL slide, INTERVAL size)  → window(ts, 'size', 'slide')
  *   HOP_START / HOP_END                     → window.start / window.end
  *   SESSION(ts, INTERVAL gap)               → session_window(ts, 'gap')
  *   SESSION_START / SESSION_END             → session_window.start / .end
  *
  * Note HOP's argument order flips: Flink is (time, slide, size), Spark's
  * window() is (time, size, slide).
  *
  * Parsing runs no DDL statement and registers no temp view ([[Parser]]).
  * The query front-ends (MATCH_RECOGNIZE, FOR SYSTEM_TIME AS OF, temporal
  * table functions, emit and cumulate windows) build their plans while
  * parsing: their result is a query the caller keeps composing
  * (`spark.sql(q).orderBy(...)`, a streaming sink); as a command it would
  * become an action that collects every row to the driver inside
  * `spark.sql`. The fragments they evaluate (CTE bodies, derived tables,
  * a flattened join) and the OPTIONS hint's hinted reads are bound by name
  * inside the statement's own plan ([[SqlText.query]]), so no name outlives
  * the statement. The batch MATCH_RECOGNIZE node still runs its NFA while
  * parsing (its matches are pinned by an eager local checkpoint).
  */
object FlinkSql {

  private val interval = """INTERVAL\s+'([^']+)'\s+(\w+)""".r

  /** `INTERVAL '10' MINUTE` → the string literal `'10 minute'`. */
  private def intervalToDuration(expr: String): String = expr match {
    case interval(n, unit) => s"'$n ${unit.toLowerCase}'"
    case other => other // already a string literal like '10 minutes'
  }

  /** Split a top-level comma-separated argument list (respects nesting). */
  private def splitArgs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var inStr = false
    s.zipWithIndex.foreach { case (c, i) =>
      c match {
        case '\'' => inStr = !inStr
        case '(' | '[' if !inStr => depth += 1
        case ')' | ']' if !inStr => depth -= 1
        case ',' if depth == 0 && !inStr =>
          out += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
    }
    out += s.substring(start).trim
    out.result()
  }

  /** Replace every `name(args)` call (case-insensitive, nesting-aware) using
    * `f(args)` to produce the replacement text. Matches are located on
    * literal/comment-BLANKED text (offset-preserving), so a group-window
    * keyword inside a string literal or comment — `SELECT 'TUMBLE(...)'` —
    * is never rewritten (found by fuzz family 29). */
  private[sql] def rewriteCalls(sql: String, name: String, f: Seq[String] => String): String = {
    val pat = ("""(?i)\b""" + name + """\s*\(""").r
    val sb = new StringBuilder
    var rest = sql
    var m = pat.findFirstMatchIn(blankLiteralsAndComments(rest))
    while (m.isDefined) {
      val mm = m.get
      sb.append(rest.substring(0, mm.start))
      // find the matching close paren
      var depth = 1; var i = mm.end; var inStr = false
      while (depth > 0 && i < rest.length) {
        rest.charAt(i) match {
          case '\'' => inStr = !inStr
          case '(' if !inStr => depth += 1
          case ')' if !inStr => depth -= 1
          case _ =>
        }
        i += 1
      }
      val args = splitArgs(rest.substring(mm.end, i - 1))
      sb.append(f(args))
      rest = rest.substring(i)
      m = pat.findFirstMatchIn(blankLiteralsAndComments(rest))
    }
    sb.append(rest)
    sb.toString
  }

  /** Rewrite the Flink group-window dialect onto Spark SQL. */
  def rewrite(sql: String): String = {
    var s = sql
    // auxiliary accessors first (TUMBLE_START would otherwise match TUMBLE)
    s = rewriteCalls(s, "TUMBLE_START", _ => "window.start")
    s = rewriteCalls(s, "TUMBLE_END", _ => "window.end")
    s = rewriteCalls(s, "HOP_START", _ => "window.start")
    s = rewriteCalls(s, "HOP_END", _ => "window.end")
    s = rewriteCalls(s, "SESSION_START", _ => "session_window.start")
    s = rewriteCalls(s, "SESSION_END", _ => "session_window.end")
    // rowtime accessors: the reference returns end − 1 ms as the window's
    // event-time attribute (TimeWindow.maxTimestamp) so windows can cascade
    // — a 10-minute window's rowtime falls inside the covering hour
    s = rewriteCalls(s, "TUMBLE_ROWTIME", _ => "(window.end - interval 1 millisecond)")
    s = rewriteCalls(s, "HOP_ROWTIME", _ => "(window.end - interval 1 millisecond)")
    s = rewriteCalls(s, "SESSION_ROWTIME", _ => "(session_window.end - interval 1 millisecond)")
    s = rewriteCalls(s, "TUMBLE", {
      case Seq(ts, size) => s"window($ts, ${intervalToDuration(size)})"
      case args => s"TUMBLE(${args.mkString(", ")})"
    })
    s = rewriteCalls(s, "HOP", {
      case Seq(ts, slide, size) =>
        s"window($ts, ${intervalToDuration(size)}, ${intervalToDuration(slide)})"
      case args => s"HOP(${args.mkString(", ")})"
    })
    s = rewriteCalls(s, "SESSION", {
      case Seq(ts, gap) => s"session_window($ts, ${intervalToDuration(gap)})"
      case args => s"SESSION(${args.mkString(", ")})"
    })
    s
  }

  /** Blank out single-quoted string literals and SQL comments (`--` and
    * `/* */`) so keyword dispatch can't be fooled by a literal or comment
    * containing MATCH_RECOGNIZE / FOR SYSTEM_TIME. Replacement preserves
    * offsets (chars become spaces) — only used for the dispatch *test*; the
    * original text is what gets parsed. */
  private[sql] def blankLiteralsAndComments(sql: String): String = {
    val out = sql.toCharArray
    var i = 0
    def blank(from: Int, until: Int): Unit = {
      var k = from
      while (k < until) { if (!out(k).isWhitespace) out(k) = ' '; k += 1 }
    }
    while (i < out.length) {
      out(i) match {
        case '\'' =>
          // honor the lexer's escapes: backslash escapes the next char and
          // a doubled '' is an escaped quote — neither closes the literal
          var j = i + 1
          var closed = false
          while (j < out.length && !closed) {
            out(j) match {
              case '\\' => j += 2
              case '\'' if j + 1 < out.length && out(j + 1) == '\'' => j += 2
              case '\'' => closed = true
              case _ => j += 1
            }
          }
          blank(i + 1, math.min(j, out.length)); i = j + 1
        case '-' if i + 1 < out.length && out(i + 1) == '-' =>
          var j = i
          while (j < out.length && out(j) != '\n') j += 1
          blank(i, j); i = j
        case '/' if i + 1 < out.length && out(i + 1) == '*' =>
          var j = i + 2
          while (j + 1 < out.length && !(out(j) == '*' && out(j + 1) == '/')) j += 1
          blank(i, math.min(j + 2, out.length)); i = j + 2
        case _ => i += 1
      }
    }
    new String(out)
  }

  /** Match `re` against the literal/comment-BLANKED text but slice every
    * capture group from the ORIGINAL (blanking preserves offsets). The
    * structural anchors of a front-end shape regex then can NOT be
    * satisfied by keywords inside string literals or comments — e.g. a
    * SELECT-list literal containing " FROM t GROUP BY TUMBLE(" no longer
    * steals the FROM clause — while captured fragments (select lists,
    * predicates) keep their literals intact for re-emission. The
    * dispatch-safety discipline fuzz family 30 enforces on every
    * text rewriter. Unanchored (findFirstMatchIn semantics). */
  private[sql] def blankedMatch(re: scala.util.matching.Regex, sql: String)
      : Option[IndexedSeq[String]] =
    re.findFirstMatchIn(blankLiteralsAndComments(sql)).map { m =>
      (1 to m.groupCount).map(i =>
        if (m.start(i) < 0) null else sql.substring(m.start(i), m.end(i)))
    }

  /** [[blankedMatch]] packaged as an extractor, so a front-end shape regex
    * keeps its `sql match { case shapeRe(groups...) => }` style while
    * locating structure on blanked text and slicing groups from the
    * original. FULL-match semantics, exactly like Scala's own
    * Regex.unapplySeq. */
  private[sql] class Blanked(re: scala.util.matching.Regex) {
    def unapplySeq(sql: String): Option[List[String]] = {
      val m = re.pattern.matcher(blankLiteralsAndComments(sql))
      if (!m.matches()) None
      else Some((1 to m.groupCount()).toList.map(i =>
        if (m.start(i) < 0) null else sql.substring(m.start(i), m.end(i))))
    }
  }

  /** What a statement is, read from the leading keywords of its
    * literal/comment-blanked text: the verb and the object word after any
    * modifiers (`CREATE OR REPLACE TEMPORARY VIEW` is a [[Kind.CreateView]]).
    * Each DDL kind has exactly one owning front-end; [[Kind.Query]] is every
    * other statement. A keyword elsewhere in the text — a column named
    * `function`, a literal spelling `WATERMARK FOR` — never decides it. */
  private[sql] sealed abstract class Kind
  private[sql] object Kind {
    case object CreateTable extends Kind
    case object CreateFunction extends Kind
    case object CreateView extends Kind
    case object AlterOrDropTable extends Kind
    case object AlterFunction extends Kind
    case object DropFunction extends Kind
    case object Insert extends Kind
    case object ShowPartitions extends Kind
    case object ShowObjects extends Kind
    case object Describe extends Kind
    case object Catalog extends Kind
    case object Query extends Kind

    private val token = """\w+|\S""".r
    private val modifiers = Set("OR", "REPLACE", "TEMPORARY", "TEMP", "SYSTEM", "GLOBAL")

    def of(probe: String): Kind = {
      val words = token.findAllIn(probe).map(_.toUpperCase)
      val verb = words.nextOption().getOrElse("")
      (verb, words.dropWhile(modifiers).nextOption().getOrElse("")) match {
        case ("CREATE", "TABLE") => CreateTable
        case ("CREATE", "FUNCTION") => CreateFunction
        case ("CREATE", "VIEW") => CreateView
        case ("ALTER" | "DROP", "TABLE") => AlterOrDropTable
        case ("ALTER", "FUNCTION") => AlterFunction
        case ("DROP", "FUNCTION") => DropFunction
        case ("INSERT", _) => Insert
        case ("SHOW", "PARTITIONS") => ShowPartitions
        case ("SHOW", "DATABASES" | "TABLES" | "VIEWS" | "FUNCTIONS") => ShowObjects
        case ("CREATE" | "DROP", "CATALOG" | "DATABASE") | ("ALTER", "DATABASE") | ("USE", _) |
             ("SHOW", "CATALOGS" | "CURRENT") | ("DESCRIBE", "CATALOG") => Catalog
        case ("DESCRIBE" | "DESC", _) => Describe
        case _ => Query
      }
    }
  }

  /** Parser delegate: parses every statement, runs none.
    *
    * The text is blanked once and classified ([[Kind.of]]). A DDL kind goes
    * to the one front-end that owns it — [[ConnectorTables]] (CREATE TABLE,
    * handing WATERMARK tables to [[WatermarkDdl]]; ALTER/DROP TABLE;
    * INSERT; SHOW PARTITIONS), [[FunctionDdl]], [[WatermarkDdl]]'s view
    * form, [[DatabaseDdl]], [[CatalogDdl]] or [[DescribeTable]] — which
    * answers a [[GraftCommand]] that runs the statement when Spark executes
    * the plan, or None. None, and every statement of no DDL kind, takes the
    * stock path: qualified connector names resolved
    * ([[ConnectorTables.resolveQualified]]), the group-window dialect
    * rewritten, Spark's parser. A [[Kind.Query]] statement first passes the
    * query front-ends. A native CREATE VIEW / DROP FUNCTION plan is wrapped
    * in a command that updates the view-lineage / function registry after
    * the statement ran. */
  class Parser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {

    /** `native` for the SHOW and catalog front-ends: a statement run through
      * the DELEGATE parser, so it cannot re-enter this dispatch. */
    private def native(stmt: String): DataFrame =
      GraftSqlBridge.ofRows(session, delegate.parsePlan(stmt))

    private def emitsEnabled: Boolean =
      EmitStrategy.enabled(session).isDefined || EmitStrategy.lateEnabled(session)

    /** The query front-ends, first claim on the blanked text wins. Each
      * gets the OPTIONS-hint relations to bind in the plan it builds (a
      * hinted reference reads `FROM <placeholder> AS <name>`). */
    private val queryFrontEnds =
      Seq[(String => Boolean, (SparkSession, String, Map[String, DataFrame]) => DataFrame)](
        (MatchRecognize.matches, MatchRecognize.run),
        (SystemTimeJoin.matches, SystemTimeJoin.run),
        // temporal TABLE FUNCTION laterals: only registered function names
        // claim, so Spark's LATERAL VIEW and stock laterals fall through
        (TemporalTableFunctions.matches, TemporalTableFunctions.run),
        // early/late-fire emit strategies are conf-gated like the reference's
        // TABLE_EXEC_EMIT_*_ENABLED; unset, TUMBLE takes the window() rewrite
        (p => emitsEnabled && EmitStrategy.matches(p), EmitStrategy.run),
        // CUMULATE has no native window() counterpart to rewrite onto
        (CumulateSql.matches, CumulateSql.run))

    /** `parse` is the delegate entry point of the stock path; with
      * `queriesOnly` a DDL kind is not routed to its front-end.
      *
      * Text-level pre-passes: utility-statement spellings (EXPLAIN PLAN
      * FOR) and database property clauses. A query (a front-end or the
      * stock parse) then takes the OPTIONS dynamic-table-options hints out
      * of its text and binds the hinted reads in its plan — Spark's grammar
      * only admits hints after SELECT, so the table-attached spelling must
      * leave the text before parsing. A DDL front-end keeps the hints in
      * its text: the statement it runs parses that text again. */
    private def plan(sqlText: String, parse: String => LogicalPlan,
        queriesOnly: Boolean = false): LogicalPlan = {
      val text = DatabaseDdl.rewrite(UtilityStatements.rewrite(sqlText))
      val probe = blankLiteralsAndComments(text)
      lazy val (unhinted, hinted) = OptionsHint.rewrite(session, text)
      lazy val resolved = ConnectorTables.resolveQualified(session, unhinted)
      def stock = SqlText.bind(parse(rewrite(resolved)), hinted)
      val routed = Kind.of(probe) match {
        case Kind.Query =>
          val p = if (resolved eq text) probe else blankLiteralsAndComments(resolved)
          queryFrontEnds.collectFirst { case (claims, build) if claims(p) =>
            GraftSqlBridge.logicalPlan(build(session, resolved, hinted)) }
        case _ if queriesOnly => None
        case Kind.CreateTable => ConnectorTables.create(text)
        case Kind.CreateFunction => FunctionDdl.create(text)
        case Kind.CreateView => Some(GraftCommand.around(
          WatermarkDdl.createView(text).getOrElse(stock))(_ => SystemTimeJoin.maybeRecordView(probe)))
        case Kind.AlterOrDropTable => ConnectorTables.alterOrDrop(session, text)
        case Kind.AlterFunction => Some(FunctionDdl.alter(text))
        case Kind.DropFunction => FunctionDdl.drop(text, stock)
        case Kind.Insert => ConnectorTables.insert(session, text)
        case Kind.ShowPartitions => ConnectorTables.showPartitions(session, text)
        case Kind.ShowObjects => DatabaseDdl.show(text, native)
        case Kind.Catalog => CatalogDdl.plan(session, text, native)
        case Kind.Describe => DescribeTable.describe(session, text)
      }
      routed.getOrElse(stock)
    }

    override def parsePlan(sqlText: String): LogicalPlan = plan(sqlText, delegate.parsePlan)
    override def parseQuery(sqlText: String): LogicalPlan =
      plan(sqlText, delegate.parseQuery, queriesOnly = true)
    override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan =
      plan(sqlText, delegate.parsePlanWithParameters(_, ctx))
    override def parseExpression(sqlText: String): Expression =
      delegate.parseExpression(rewrite(sqlText))
    override def parseTableIdentifier(sqlText: String): TableIdentifier =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String): Seq[String] =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseTableSchema(sqlText: String): StructType =
      delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String): DataType =
      delegate.parseDataType(sqlText)
    override def parseRoutineParam(sqlText: String): StructType =
      delegate.parseRoutineParam(sqlText)
  }

  /** Install via `SparkSession.builder.withExtensions(FlinkSql.extensions)`. */
  val extensions: SparkSessionExtensions => Unit =
    ext => ext.injectParser((session, delegate) => new Parser(session, delegate))
}
