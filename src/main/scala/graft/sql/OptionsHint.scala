package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dynamic table options — the `OPTIONS('k'='v')` table hint (spelled as
  * a hint comment right after the table name; reference:
  * FlinkHints.HINT_NAME_OPTIONS, applied in
  * CatalogSourceTable.createFinalCatalogTable, CatalogSourceTable.java:242-259).
  *
  * Semantics mirrored exactly:
  *   - gated by `table.dynamic-table-options.enabled` (default FALSE —
  *     TableConfigOptions.java:40-46); a hint with the conf unset throws the
  *     reference's validation error;
  *   - hinted options merge OVER the table's registered options
  *     (`FlinkHints.mergeTableOptions(hinted, catalogTable.getOptions())`),
  *     scoped to this one query — the registration is untouched;
  *   - the hint attaches to the table reference (`FROM t <hint> [AS alias]`).
  *
  * Spark-first shape: a text-level pre-pass (Spark's grammar only admits
  * hints after SELECT, so the table-attached spelling must be resolved
  * before the stock parser sees it). Each hinted reference to a registered
  * connector table is replaced by a placeholder name that the statement's
  * plan binds to the table read through [[ConnectorTables.read]] with the
  * hinted map merged in; the hint comment is removed. Everything
  * downstream — pushdown, pruning, planning — is stock Spark over that
  * relation.
  */
object OptionsHint {

  val ConfKey = "table.dynamic-table-options.enabled"

  // Calcite grammar order: tableName [hint-comment] [[AS] alias] — the
  // possibly-qualified name immediately BEFORE the hint is the table
  // reference; an `AS alias` or a bare alias word may follow the hint.
  // A bare word that is really a clause keyword (JOIN/WHERE/...) is told
  // apart in code, not in the regex, so the original text can be respliced.
  private val hintRe =
    """(?is)((?:\w+\.)*\w+)\s*/\*\+\s*OPTIONS\s*\(([^)]*)\)\s*\*/(?:(\s+AS\s+\w+)|(\s+\w+))?""".r
  private val propRe = """'([^']+)'\s*=\s*'([^']*)'""".r

  // clause keywords that can directly follow a table reference — NOT bare
  // aliases (Calcite's reserved words in that position)
  private val notAlias = Set(
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET", "FETCH",
    "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS", "NATURAL",
    "LATERAL", "SEMI", "ANTI", "ON", "USING", "UNION", "EXCEPT", "INTERSECT",
    "MINUS", "WINDOW", "MATCH_RECOGNIZE", "FOR", "TABLESAMPLE", "AS")

  /** Offset-preserving blank of single-quoted literal CONTENT only (quotes
    * stay), so a literal containing the hint spelling can't dispatch — the
    * reference parses hints structurally, where literals are inert.
    * Mirrors Spark's default lexer escapes: a backslash escapes the next
    * character (so 'it\'s' does not close the literal) and a doubled ''
    * is an escaped quote, not close+open — both stay literal content. */
  private def blankLiterals(sql: String): String = {
    val out = sql.toCharArray
    var i = 0; var inStr = false
    while (i < out.length) {
      val c = out(i)
      if (inStr && c == '\\' && i + 1 < out.length) {
        out(i) = ' '
        if (!out(i + 1).isWhitespace) out(i + 1) = ' '
        i += 1
      } else if (inStr && c == '\'' && i + 1 < out.length && out(i + 1) == '\'') {
        out(i) = ' '; out(i + 1) = ' '
        i += 1
      } else if (c == '\'') inStr = !inStr
      else if (inStr && !c.isWhitespace) out(i) = ' '
      i += 1
    }
    new String(out)
  }

  def matches(sqlText: String): Boolean =
    """(?is)/\*\+\s*OPTIONS\s*\(""".r.findFirstIn(blankLiterals(sqlText)).isDefined

  /** Resolve every OPTIONS hint in `sqlText`: the text with each hinted
    * reference replaced by a placeholder name, and the relation each
    * placeholder stands for — the table read through
    * [[ConnectorTables.read]] with the hinted options merged in. The caller
    * binds them inside its plan ([[SqlText.bind]]); nothing is registered.
    * No hint: the text unchanged and no relations. Hints are LOCATED on the
    * literal-blanked text (offset-preserving) and the replacement splices
    * the ORIGINAL — a string literal containing the hint spelling survives
    * verbatim. */
  def rewrite(spark: SparkSession, sqlText: String): (String, Map[String, DataFrame]) = {
    if (!matches(sqlText)) return (sqlText, Map.empty)
    if (!spark.conf.getOption(ConfKey).exists(_.equalsIgnoreCase("true")))
      // CatalogSourceTable.java:250-257, message shape preserved
      throw new IllegalArgumentException(
        s"The 'OPTIONS' hint is allowed only when the config option '$ConfKey' is set to true.")
    val blanked = blankLiterals(sqlText)
    val sb = new StringBuilder
    var last = 0
    val relations = hintRe.findAllMatchIn(blanked).zipWithIndex.map { case (m, i) =>
      val name = m.group(1)
      val tbl = ConnectorTables.lookup(spark, name).getOrElse(
        throw new IllegalArgumentException(
          if (name.contains("."))
            s"OPTIONS hint: qualified reference '$name' is not a registered " +
              "connector table (register it under that qualified name, or " +
              "reference it unqualified)"
          else
            s"OPTIONS hint: '$name' is not a registered connector table " +
              "(dynamic options apply to connector tables only)"))
      // option values come from the ORIGINAL text (the blank hid them)
      val hinted = propRe.findAllMatchIn(
        sqlText.substring(m.start(2), m.end(2)))
        .map(p => p.group(1).toLowerCase -> p.group(2)).toMap
      val placeholder = s"__opt_hint_$i"
      // the visible name downstream: an explicit AS alias, a bare alias
      // (when the word after the hint is not a clause keyword — Calcite
      // admits `FROM t /*+ ... */ a`), or the table's own (last-segment)
      // name so references elsewhere in the query keep resolving
      val bare = Option(m.group(4)).map(_.trim).filter(w => !notAlias(w.toUpperCase))
      val consumedEnd =
        if (m.group(4) != null && bare.isEmpty) m.start(4) else m.end
      val alias = Option(m.group(3))
        .orElse(bare.map(" AS " + _))
        .getOrElse(s" AS ${name.split('.').last}")
      sb.append(sqlText.substring(last, m.start)).append(placeholder + alias)
      last = consumedEnd
      placeholder -> ConnectorTables.read(spark, tbl, hinted)
    }.toMap
    sb.append(sqlText.substring(last))
    (sb.toString, relations)
  }
}
