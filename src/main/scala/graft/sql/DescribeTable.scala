package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

/** `DESCRIBE <table>` with the reference's six-column result
  * (TableEnvironmentImpl.buildDescribeResult,
  * flink-table-api-java/.../TableEnvironmentImpl.java:1098-1130):
  *
  *   (name STRING, type STRING, null BOOLEAN, key STRING, extras STRING,
  *    watermark STRING)
  *
  * one row per declared column in declaration order, where `key` renders
  * `PRI(a, b)` on every primary-key column, `extras` renders a computed
  * column's `AS <expr>` or a metadata column's `METADATA [FROM 'key']
  * [VIRTUAL]` (TableColumn.explainExtras, TableColumn.java:185-305), and
  * `watermark` carries the watermark expression on its rowtime column
  * (WatermarkSpec.getWatermarkExpr).
  *
  * Scope: EVERY resolvable relation — the reference's buildDescribeResult
  * runs for any table or view (TableEnvironmentImpl.java:1055-1062).
  * Registered connector tables render their declared Flink-dialect
  * metadata (PK / computed / metadata columns / watermark); a plain temp
  * view or native catalog table has none of those, so its six-column
  * result is the resolved schema with empty key/extras/watermark.
  * DESCRIBE spellings that are not a bare relation (DESCRIBE DATABASE /
  * FUNCTION / QUERY, partition specs) stay native Spark.
  *
  * Types render as the DECLARED type text normalized to the reference's
  * summary form. A computed column's type (derived, not declared) resolves
  * from the table's readable view when one exists, else by folding the
  * generated-column expressions over an empty frame of the physical schema
  * — driver-only schema analysis, no job runs. Computed/metadata columns'
  * `null` flag is the DERIVED type's nullability from the same resolution
  * (TableEnvironmentImpl.java:1112-1117 renders
  * logicalType.isNullable()), not a constant.
  */
object DescribeTable {

  // DESCRIBE [EXTENDED] [[cat.]db.]t — SqlRichDescribeTable's grammar
  // (parserImpls.ftl:93-108); 1.12's buildDescribeResult ignores the
  // EXTENDED flag, so both spellings yield the same six-column result
  private val re = new FlinkSql.Blanked(
    """(?is)\s*DESC(?:RIBE)?\s+(?:EXTENDED\s+)?((?:\w+\.){0,2}\w+)\s*;?\s*""".r)

  /** DESCRIBE over a registered connector table or any relation Spark can
    * resolve. None → unresolvable names and other DESCRIBE spellings stay
    * native (its not-found error). */
  def describe(spark: SparkSession, sql: String): Option[LogicalPlan] = sql match {
    case re(name) if ConnectorTables.lookup(spark, name).isDefined ||
        (try spark.catalog.tableExists(name) catch { case _: Exception => false }) =>
      Some(GraftCommand(DataTypeUtils.toAttributes(outSchema))(rows(_, name)))
    case _ => None
  }

  /** Spark type → the reference's LogicalType summary rendering
    * (asSummaryString of the nullable copy — NOT NULL never shows in the
    * type text; nullability is the dedicated `null` column). */
  private[sql] def flinkTypeText(dt: DataType): String = dt match {
    case StringType => "STRING"
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case ShortType => "SMALLINT"
    case ByteType => "TINYINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    // Spark timestamps are microsecond-precision → TIMESTAMP(6)
    case TimestampType | TimestampNTZType => "TIMESTAMP(6)"
    case BinaryType => "BYTES"
    case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
    case a: ArrayType => s"ARRAY<${flinkTypeText(a.elementType)}>"
    case m: MapType => s"MAP<${flinkTypeText(m.keyType)}, ${flinkTypeText(m.valueType)}>"
    case s: StructType =>
      s"ROW<${s.fields.map(f => s"`${f.name}` ${flinkTypeText(f.dataType)}").mkString(", ")}>"
    case other => other.sql
  }

  private val outSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("null", BooleanType, nullable = false),
    StructField("key", StringType),
    StructField("extras", StringType),
    StructField("watermark", StringType)))

  private def rows(spark: SparkSession, name: String): Seq[Row] =
    ConnectorTables.lookup(spark, name) match {
      case Some(tbl) => describeConnector(spark, name, tbl)
      case None =>
        // any other resolvable relation: the resolved schema rendered in
        // the same six columns — no PK / extras / watermark metadata to
        // project (TableEnvironmentImpl.java:1055-1062 runs
        // buildDescribeResult for every table and view)
        spark.table(name).schema.fields.toSeq.map(f =>
          Row(f.name, flinkTypeText(f.dataType), f.nullable, null, null, null))
    }

  private def describeConnector(spark: SparkSession, name: String,
      tbl: ConnectorTables.Tbl): Seq[Row] = {
    val cname = ConnectorTables.canonical(spark, name)

    // declaration-order column list; reconstructed from the readable view
    // for tables registered without one (schema inferred from files)
    val decl: Seq[ConnectorTables.DeclCol] =
      if (tbl.decl.nonEmpty) tbl.decl
      else {
        val view = ConnectorTables.viewName(cname)
        val resolved =
          if (spark.catalog.tableExists(view)) spark.table(view).schema
          else ConnectorTables.read(spark, tbl).schema
        val compNames = tbl.computed.map(_._1.toLowerCase).toSet
        val metaNames = tbl.metaCols.map(_.name.toLowerCase).toSet
        resolved.fields.toSeq
          .filterNot(f => compNames(f.name.toLowerCase) || metaNames(f.name.toLowerCase))
          .map(f => ConnectorTables.PhysCol(f.name, flinkTypeText(f.dataType), f.nullable)) ++
          tbl.computed.map { case (n, e) => ConnectorTables.CompCol(n, e) } ++
          tbl.metaCols
      }

    // derived-column resolution (type AND nullability): from the readable
    // view when it exists, else from an empty-frame resolution over the
    // physical schema
    lazy val resolvedFields: Map[String, StructField] = {
      val view = ConnectorTables.viewName(cname)
      val schema =
        if (spark.catalog.tableExists(view)) Some(spark.table(view).schema)
        else tbl.schema.map { phys =>
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], phys)
          tbl.computed.foldLeft(empty) { case (d, (n, e)) =>
            d.withColumn(n, org.apache.spark.sql.functions.expr(e)) }.schema
        }
      schema.map(_.fields.map(f => f.name.toLowerCase -> f).toMap)
        .getOrElse(Map.empty)
    }
    // nullability of a DERIVED column is the derived type's own
    // (TableEnvironmentImpl.java:1112-1117 renders
    // logicalType.isNullable()): fold the generated-column expressions
    // over the DECLARED physical schema with its NOT NULL flags — the file
    // view can't carry declared non-nullability (parquet reads are
    // nullable), so this resolution is schema-analysis over decl. Folds
    // that reference undeclared file columns fall back to the view.
    lazy val declNullability: Map[String, Boolean] = {
      val fromDecl = tbl.schema.map { sc =>
        StructType(sc.fields.map { f =>
          val declN = tbl.decl.collectFirst {
            case ConnectorTables.PhysCol(n, _, nullable) if n.equalsIgnoreCase(f.name) => nullable
          }
          f.copy(nullable = declN.getOrElse(f.nullable))
        })
      }
      try fromDecl.map { phys =>
        val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], phys)
        tbl.computed.foldLeft(empty) { case (d, (n, e)) =>
          d.withColumn(n, org.apache.spark.sql.functions.expr(e)) }
          .schema.fields.map(f => f.name.toLowerCase -> f.nullable).toMap
      }.getOrElse(Map.empty)
      catch { case _: Exception => Map.empty }
    }
    // a computed column with no resolvable schema renders its raw
    // expression as the type text — a visible sentinel, never a
    // plausible-looking guessed type
    def computedType(n: String, expr: String): String =
      resolvedFields.get(n.toLowerCase).map(f => flinkTypeText(f.dataType))
        .getOrElse(s"<unresolved: $expr>")
    def derivedNullable(n: String): Boolean =
      declNullability.getOrElse(n.toLowerCase,
        resolvedFields.get(n.toLowerCase).forall(_.nullable))

    val pkCols = tbl.pk.map(_._2).getOrElse(Nil)
    val pkText = s"PRI(${pkCols.mkString(", ")})"
    def keyFor(n: String): String =
      if (pkCols.exists(_.equalsIgnoreCase(n))) pkText else null
    val wmCol = SystemTimeJoin.watermarkOf(cname).map(_._1)
    val wmText = SystemTimeJoin.watermarkExprOf(cname)
    def wmFor(n: String): String =
      if (wmCol.exists(_.equalsIgnoreCase(n)))
        wmText.getOrElse(s"`${wmCol.get}`")
      else null

    decl.map {
      case ConnectorTables.PhysCol(n, t, nullable) =>
        Row(n, t, nullable, keyFor(n), null, wmFor(n))
      case ConnectorTables.CompCol(n, e) =>
        Row(n, computedType(n, e), derivedNullable(n), keyFor(n), s"AS $e", wmFor(n))
      case m: ConnectorTables.MetaCol =>
        val extras = "METADATA" +
          (if (m.explicitFrom) s" FROM '${m.key}'" else "") +
          (if (m.virtual) " VIRTUAL" else "")
        Row(m.name, m.typeText, derivedNullable(m.name), keyFor(m.name), extras, wmFor(m.name))
    }
  }
}
