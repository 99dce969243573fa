package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `WATERMARK FOR <col> AS <expr>` DDL — the reference's event-time
  * declaration in CREATE TABLE (flink-sql-parser parserImpls.ftl:512-549,
  * SqlWatermark.java), routed through the injected parser. The clause
  * feeds the [[SystemTimeJoin]] watermark registry, which the
  * temporal-join front-end and the streaming helpers read — the same flow
  * as Flink's catalog watermark spec.
  *
  * The watermark expression is ARBITRARY in the reference's grammar: the
  * common `col - INTERVAL 'n' unit` family parses structurally; any other
  * expression (`ts`, `ts - INTERVAL '1' DAY + INTERVAL '1' HOUR`,
  * `CAST(ts AS TIMESTAMP)`, ...) is accepted by folding it against a probe
  * timestamp at declaration time to derive the constant delay Spark's
  * `withWatermark` needs — the bounded-delay contract both engines share
  * (a watermark must be a fixed offset behind the rowtime; a probe fold at
  * two distinct instants verifies the offset is constant and
  * non-negative).
  *
  * Two accepted spellings:
  *
  * 1. The Flink connector-table form (filesystem connector; schema comes
  *    from the files themselves, as with Spark's schema inference):
  *
  *      CREATE TABLE t (
  *        ...column defs (informational)...,
  *        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
  *      ) WITH ('connector' = 'filesystem', 'path' = '/data/t', 'format' = 'parquet')
  *
  * 2. A view form for deriving a watermarked relation from a query:
  *
  *      CREATE [OR REPLACE] [TEMPORARY] VIEW v
  *        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
  *      AS SELECT ...
  *
  * Both register the (table → time column, delay) mapping and materialize a
  * temp view; downstream `FOR SYSTEM_TIME AS OF` joins and watermark-driven
  * streaming ops resolve the time attribute from the registry instead of
  * requiring a programmatic declareWatermark call.
  *
  * Statement shapes are located on literal/comment-BLANKED text with
  * groups sliced from the original ([[FlinkSql.Blanked]]) — a computed
  * column whose default literal contains "WATERMARK FOR ..." never
  * hijacks the clause (fuzz family 30 discipline).
  */
object WatermarkDdl {

  private val viewRe = new FlinkSql.Blanked(
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?VIEW\s+(\w+)\s+WATERMARK\s+FOR\s+(\w+)\s+AS\s+(.+?)\s+AS\s+(SELECT\s.*)""".r)
  private val tableRe = new FlinkSql.Blanked(
    """(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?((?:\w+\.){0,2}\w+)\s*\((.*)\)\s*WITH\s*\((.*)\)\s*;?\s*""".r)
  /** The structural `[col] - INTERVAL 'n' unit` family (the overwhelmingly
    * common spelling); anything else goes through [[delayByProbe]]. */
  private[sql] val wmRe =
    """(?is)WATERMARK\s+FOR\s+(\w+)\s+AS\s+(.+)$""".r
  private val intervalFamilyRe =
    """(?is)^(\w+)(?:\s*-\s*INTERVAL\s+'([^']*)'\s+(\w+))?\s*$""".r
  private val propRe = """'([^']+)'\s*=\s*'([^']*)'""".r

  /** A parsed WATERMARK clause: the rowtime column and the raw
    * watermark-generation expression. */
  private[sql] case class Wm(col: String, rawExpr: String)

  /** Find the WATERMARK clause in a declared column list — located on
    * blanked text, sliced from the original. The expression runs to the
    * end of its top-level column-list item. */
  private[sql] def parseWm(colsDdl: String): Option[Wm] =
    FlinkSqlSupport.splitTop(colsDdl).iterator
      .flatMap(item => FlinkSql.blankedMatch(wmRe, item))
      .nextOption()
      .map(g => Wm(g(0), g(1).trim))

  private[sql] def delayLiteral(n: String, unit: String): String =
    if (n == null) "0 seconds"
    else {
      val u = unit.toLowerCase // Flink units are singular; Spark durations plural
      s"$n ${if (u.endsWith("s")) u else u + "s"}"
    }

  /** General-expression delay: fold the expression over the rowtime column
    * bound to two distinct probe instants; both folds must yield the same
    * non-negative offset (the bounded-delay contract a watermark
    * expression must satisfy — the reference validates the expression's
    * return type, and the constant offset is what `withWatermark` can
    * express). Driver-only: two 1-row local frames, no job. */
  private[sql] def delayByProbe(spark: SparkSession, col: String, expr: String): String = {
    def offsetAt(probe: String): Long = {
      val row = spark.sql(s"SELECT CAST('$probe' AS TIMESTAMP) AS $col")
        .selectExpr(s"unix_micros($col) - unix_micros(CAST(($expr) AS TIMESTAMP)) AS d")
        .collect().head
      require(!row.isNullAt(0),
        s"WATERMARK expression '$expr' evaluates to NULL on a non-null $col")
      row.getLong(0)
    }
    val d1 = offsetAt("2020-03-15 07:20:30")
    val d2 = offsetAt("2021-11-02 21:05:10")
    require(d1 == d2,
      s"WATERMARK expression '$expr' is not a constant offset behind $col " +
        s"($d1 vs $d2 micros at two probe instants) — not expressible as a " +
        "bounded-delay watermark")
    require(d1 >= 0,
      s"WATERMARK expression '$expr' runs AHEAD of $col by ${-d1} micros — " +
        "a watermark cannot lead the rowtime")
    s"$d1 microseconds"
  }

  /** The Spark `withWatermark` delay literal for a parsed clause. */
  private[sql] def delayOf(spark: SparkSession, wm: Wm): String = wm.rawExpr match {
    case intervalFamilyRe(base, n, unit) if base.equalsIgnoreCase(wm.col) =>
      delayLiteral(n, unit)
    case _ => delayByProbe(spark, wm.col, wm.rawExpr)
  }

  /** The watermark expression in the reference's catalog serialization
    * (identifiers backquoted) — DESCRIBE's `watermark` column text. */
  private[sql] def exprText(col: String, n: String, unit: String): String =
    if (n == null) s"`$col`"
    else s"`$col` - INTERVAL '$n' ${unit.toUpperCase}"

  /** Catalog-serialized text of a parsed clause: the interval family gets
    * the reference's backquoted rendering; a general expression keeps its
    * spelled text with the rowtime identifier backquoted. */
  private[sql] def exprTextOf(wm: Wm): String = wm.rawExpr match {
    case intervalFamilyRe(base, n, unit) if base.equalsIgnoreCase(wm.col) =>
      exprText(wm.col, n, unit)
    case _ =>
      wm.rawExpr.replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(wm.col)}\\b", s"`${wm.col}`")
  }

  /** The view form; None → a plain CREATE VIEW for the stock parser. */
  def createView(sql: String): Option[LogicalPlan] = sql.trim match {
    case viewRe(name, wmCol, wmExpr, query) => Some(GraftCommand.effect { spark =>
      // the view body parses through the stock path (no WATERMARK clause)
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS $query")
      val wm = Wm(wmCol, wmExpr.trim)
      SystemTimeJoin.declareWatermark(name, wmCol, delayOf(spark, wm))
      SystemTimeJoin.declareWatermarkExpr(name, exprTextOf(wm))
    })
    case _ => None
  }

  /** The connector-table form — every CREATE TABLE with a WATERMARK clause
    * that is not a LIKE statement. */
  def createTable(sql: String): LogicalPlan = sql.trim match {
    case tableRe(rawName, schemaBody, propsBody) => GraftCommand.effect { spark =>
      // namespace-resolved like every connector create (a watermark table
      // created while a DDL catalog is current lives in that namespace)
      val name = ConnectorTables.canonical(spark, rawName)
      val wm = parseWm(schemaBody).getOrElse(
        throw new IllegalArgumentException(s"CREATE TABLE $rawName: WATERMARK FOR clause not found"))
      val props = propRe.findAllMatchIn(propsBody)
        .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
      val path = props.getOrElse("path",
        throw new IllegalArgumentException(s"CREATE TABLE $rawName: 'path' property required"))
      val fmt = props.getOrElse("format", "parquet")
      // plain column defs are informational — the schema is read from the
      // files, exactly like Spark's own schema inference on the same
      // connector. COMPUTED columns (`col AS expr`, parserImpls.ftl:551)
      // are applied on top in declaration order, so later ones may
      // reference earlier ones — the reference's generated-column flow.
      val computedRe = """(?is)^(\w+)\s+AS\s+(.+)$""".r
      val computedCols = FlinkSqlSupport.splitTop(schemaBody).collect {
        case i if FlinkSql.blankedMatch(wmRe, i).isEmpty &&
            computedRe.findFirstMatchIn(i.trim).isDefined =>
          val m = computedRe.findFirstMatchIn(i.trim).get
          (m.group(1), m.group(2).trim)
      }
      val base = computedCols.foldLeft(spark.read.format(fmt).load(path)) {
        case (df, (colName, colExpr)) =>
          df.withColumn(colName, org.apache.spark.sql.functions.expr(colExpr))
      }
      ConnectorTables.refreshViews(spark, name, base)
      // the Tbl metadata (path/format/props/computed columns + the full
      // declared list, PK and metadata columns) lands in the connector
      // registry so CREATE TABLE ... LIKE <this table> can merge its
      // options and inherit its watermark + generated columns, and so
      // DESCRIBE can render the declared schema
      ConnectorTables.registerMeta(spark, name,
        ConnectorTables.Tbl(path, fmt, props, None, Nil, computedCols,
          ConnectorTables.parsePk(schemaBody),
          ConnectorTables.parseMetaCols(schemaBody),
          ConnectorTables.parseDecl(schemaBody)))
      SystemTimeJoin.declareWatermark(name, wm.col, delayOf(spark, wm))
      SystemTimeJoin.declareWatermarkExpr(name, exprTextOf(wm))
    }
    case _ =>
      throw new IllegalArgumentException(
        "unsupported WATERMARK DDL shape — see WatermarkDdl scaladoc for the two accepted forms")
  }
}
