package graft.sql

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.command.{CreateViewCommand, ExplainCommand}

/** Small SQL-text utilities shared by the regex-shaped query front-ends
  * (MatchRecognize, SystemTimeJoin, TemporalTableFunctions) and the
  * parser's OPTIONS-hint pass. A front-end hands an intermediate result to
  * the rest of its statement by NAME inside the plan ([[query]]), never
  * through the session catalog: parsing a statement registers no temp
  * view, and a name bound here is visible to that one statement only. */
object SqlText {

  /** `text` parsed by the session's parser, each relation bound inside the
    * plan under its name — [[bind]]. */
  def query(spark: SparkSession, text: String, relations: Map[String, DataFrame]): DataFrame =
    GraftSqlBridge.ofRows(spark, bind(spark.sessionState.sqlParser.parsePlan(text), relations))

  /** Wrap `plan` in a CTE defining each relation: a reference resolves to
    * it case-insensitively, shadows a table or view of the same name, and
    * may appear any number of times (a self-join) or in a subquery. */
  def bind(plan: LogicalPlan, relations: Map[String, DataFrame]): LogicalPlan = plan match {
    case _ if relations.isEmpty => plan
    // a view re-parses its stored text on every read, where these names are
    // unbound: it keeps the analyzed plan instead, as Dataset.createTempView
    case v: CreateViewCommand => v.copy(originalText = None, plan = bind(v.plan, relations))
    // EXPLAIN analyzes its statement on its own, not as a child
    case e: ExplainCommand => e.copy(logicalPlan = bind(e.logicalPlan, relations))
    case _ => UnresolvedWith(plan, relations.toSeq.map { case (name, df) =>
      (name, SubqueryAlias(name, GraftSqlBridge.logicalPlan(df)), None) }, allowRecursion = false)
  }

  /** The relation `name` binds to: one of `relations` (case-insensitive),
    * else the session's table or view. */
  def table(spark: SparkSession, name: String, relations: Map[String, DataFrame]): DataFrame =
    relations.collectFirst { case (n, df) if n.equalsIgnoreCase(name) => df }
      .getOrElse(spark.table(name))

  /** Remove `alias.` qualifiers (for any alias in `aliases`) from `s`,
    * WITHOUT touching single-quoted string literals — a literal containing
    * `la.` must survive verbatim. Qualifiers are matched at word boundaries
    * and case-insensitively, mirroring identifier resolution. */
  def stripQualifiers(s: String, aliases: Iterable[String]): String = {
    val names = aliases.map(_.toLowerCase).toSet
    if (names.isEmpty) return s
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' =>
          // copy the literal whole: quotes escape by doubling ('') AND by
          // backslash ('\''), both honored by Spark's default lexer
          val start = i; i += 1
          var closed = false
          while (i < s.length && !closed) {
            s.charAt(i) match {
              case '\\' => i += 2
              case '\'' if i + 1 < s.length && s.charAt(i + 1) == '\'' => i += 2
              case '\'' => closed = true; i += 1
              case _ => i += 1
            }
          }
          i = math.min(i, s.length)
          out.append(s.substring(start, i))
        case c if c.isLetter || c == '_' =>
          val start = i
          while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
          val word = s.substring(start, i)
          val isQualifier = i < s.length && s.charAt(i) == '.' &&
            names(word.toLowerCase) &&
            // a preceding '.' means `word` is itself a path segment — keep it
            (start == 0 || s.charAt(start - 1) != '.')
          if (isQualifier) i += 1 // drop "word."
          else out.append(word)
        case c =>
          out.append(c); i += 1
      }
    }
    out.toString
  }
}
