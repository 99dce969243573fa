package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Filesystem connector tables + INSERT INTO — the reference's connector DDL
  * (FileSystemTableSink via `CREATE TABLE ... WITH ('connector'='filesystem',
  * ...)` and StreamExecSink / BatchExecSink planning of `INSERT INTO`).
  *
  * `CREATE TABLE s (...) WITH ('connector'='filesystem','path'=p,
  * 'format'=f)` with NO watermark clause registers a sink; `INSERT INTO s
  * SELECT ...` plans the query with the stock parser and writes it to the
  * table's path in the declared format (append — the filesystem sink's
  * default). After the first insert the table also resolves as a SOURCE
  * (temp view over the written files), mirroring the reference where the
  * same connector table is readable and writable.
  *
  * Round 12 widens the DDL surface to the reference's:
  *   - the declared column list is parsed into a Spark schema and applied to
  *     formats that are not self-describing (csv/json), so a connector table
  *     over csv reads with the DDL types rather than inference;
  *   - format-scoped options (`'csv.field-delimiter' = '|'` etc., the
  *     reference's CsvFormatFactory option surface) map onto the Spark
  *     reader/writer options of the same meaning;
  *   - `CREATE TABLE d WITH (...) LIKE base (INCLUDING ALL | EXCLUDING
  *     OPTIONS | OVERWRITING OPTIONS)` merges the base table's options and
  *     schema per the reference's MergingStrategy semantics
  *     (SqlTableLike.java:104, MergeTableLikeUtil.java:185-206: INCLUDING
  *     duplicates error and point at EXCLUDING/OVERWRITING OPTIONS;
  *     OVERWRITING lets the derived WITH win; EXCLUDING starts empty);
  *   - query-time option overrides for the OPTIONS hint
  *     (see [[OptionsHint]]) read through [[ConnectorTables.read]] with the
  *     hinted map merged over the registered one
  *     (CatalogSourceTable.java:258 `FlinkHints.mergeTableOptions`).
  *
  * Statements whose target is NOT a registered connector sink fall through
  * untouched, so Spark-native INSERT INTO on catalog tables keeps working.
  */
object ConnectorTables {

  /** One declared column, in DDL declaration order — the catalog metadata
    * DESCRIBE projects (TableColumn.PhysicalColumn / ComputedColumn /
    * MetadataColumn, flink-table-common TableColumn.java:185-305). */
  private[sql] sealed trait DeclCol { def name: String }
  /** `name TYPE [NOT NULL]` — typeText is the normalized declared type. */
  private[sql] case class PhysCol(name: String, typeText: String,
      nullable: Boolean) extends DeclCol
  /** `name AS expr` — a generated column. */
  private[sql] case class CompCol(name: String, expr: String) extends DeclCol
  /** `name TYPE METADATA [FROM 'key'] [VIRTUAL]` (FLIP-107). `explicitFrom`
    * records whether the key was spelled (DESCRIBE prints FROM only then —
    * TableColumn.MetadataColumn.explainExtras, TableColumn.java:289-305). */
  private[sql] case class MetaCol(name: String, key: String, typeText: String,
      explicitFrom: Boolean, virtual: Boolean) extends DeclCol

  private[sql] case class Tbl(
      path: String,
      format: String,
      props: Map[String, String],
      schema: Option[StructType],
      partitions: Seq[String] = Nil,
      computed: Seq[(String, String)] = Nil,
      // PRIMARY KEY (name, columns) — metadata, NOT enforced, exactly like
      // the reference's `PRIMARY KEY (...) NOT ENFORCED`; carried for LIKE's
      // CONSTRAINTS merging and ALTER TABLE ADD/DROP CONSTRAINT
      pk: Option[(String, Seq[String])] = None,
      // METADATA columns (FLIP-107), declaration-ordered
      metaCols: Seq[MetaCol] = Nil,
      // full declared column list in declaration order — what DESCRIBE
      // renders; empty for tables registered without a usable column list
      decl: Seq[DeclCol] = Nil)

  /** (session identity, canonical table name) → table; session-keyed so
    * tests with multiple sessions cannot see each other's registrations.
    * Canonical names are `@cat.db.t` for tables living in a DDL-registered
    * catalog's namespace and the spelled (possibly `db.`-qualified) name
    * for session-global tables — see [[canonical]]. */
  private val tables = new ConcurrentHashMap[String, Tbl]()

  private def skey(s: SparkSession) = System.identityHashCode(s).toString

  private def key(s: SparkSession, name: String) =
    s"${skey(s)}:${name.toLowerCase}"

  /** Resolve a spelled table identifier to its canonical registry name —
    * the reference's CatalogManager.qualifyIdentifier(:616-621): an
    * unqualified name takes the current catalog + database, `db.t` takes
    * the current catalog, `cat.db.t` is already full. Namespace resolution
    * applies only while a DDL-registered catalog is current (or the first
    * part names one); otherwise the spelled name IS the canonical name —
    * the session-global registry this surface always had. */
  private[sql] def canonical(spark: SparkSession, name: String): String = {
    val n = name.toLowerCase
    val parts = n.split("\\.")
    parts.length match {
      case 3 if CatalogDdl.isRegistered(spark, parts(0)) => s"@$n"
      case 2 => CatalogDdl.currentNamespace(spark)
        .fold(n) { case (cat, _) => s"@$cat.$n" }
      case 1 => CatalogDdl.currentNamespace(spark)
        .fold(n) { case (cat, db) => s"@$cat.$db.$n" }
      case _ => n
    }
  }

  /** session identity → bare-name temp views mounted for the CURRENT
    * namespace (so `SELECT * FROM t` resolves natively while `USE CATALOG`
    * points at t's namespace). [[remount]] swaps the set on every
    * namespace switch. */
  private val mounted =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  /** (session:bare) → a USER-created temp view the mount displaced (ADVICE
    * r15): a plain temp view that is neither registry-owned nor one of our
    * mounts is captured before the bare name is re-pointed and restored
    * verbatim on unmount — the reference keeps temporary views resolvable
    * (they in fact SHADOW catalog tables; this surface mounts catalog
    * tables as temp views, so capture/restore is the faithful analogue). */
  private val shadowedUserViews = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation]

  /** Capture the user's temp view about to be displaced by mounting `bare`
    * (no-op when the existing view is our own mount or a registry table's
    * restorable legacy view). */
  private def captureUserView(spark: SparkSession, bare: String): Unit = {
    val sk = skey(spark)
    if (!mounted.getOrElse(sk, Set.empty).contains(bare) &&
        !tables.containsKey(s"$sk:$bare") &&
        !shadowedUserViews.contains(s"$sk:$bare"))
      spark.sessionState.catalog.getRawTempView(bare).foreach {
        case v: org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation =>
          shadowedUserViews.put(s"$sk:$bare", v): Unit
        case _ => () // non-relation raw view shapes: nothing to restore
      }
  }

  /** Restore a previously captured user view for `bare`; true if restored. */
  private def restoreUserView(spark: SparkSession, bare: String): Boolean =
    shadowedUserViews.remove(s"${skey(spark)}:$bare") match {
      case Some(v) =>
        spark.sessionState.catalog.createTempView(bare, v, overrideIfExists = true)
        true
      case None => false
    }

  /** Re-point bare-name temp views at the current namespace's tables —
    * called by [[CatalogDdl]] on USE CATALOG / USE <db> / DROP CATALOG.
    * Aliases of the previous namespace are dropped (a shadowed
    * session-global table's readable view is restored), then every
    * readable table of the new namespace mounts under its bare name. */
  private[sql] def remount(spark: SparkSession): Unit = {
    val sk = skey(spark)
    mounted.getOrElse(sk, Set.empty).foreach { bare =>
      spark.catalog.dropTempView(bare): Unit
      val legacy = Option(tables.get(s"$sk:$bare"))
      legacy match {
        case Some(t) if hasData(t) => read(spark, t).createOrReplaceTempView(bare)
        case _ => restoreUserView(spark, bare): Unit
      }
    }
    val newMounts = CatalogDdl.currentNamespace(spark).toSeq.flatMap { case (cat, db) =>
      listNamespace(spark, cat, db).flatMap { bare =>
        val v = viewName(s"@$cat.$db.$bare")
        if (spark.catalog.tableExists(v)) {
          captureUserView(spark, bare)
          spark.table(v).createOrReplaceTempView(bare)
          Some(bare)
        } else None
      }
    }
    mounted(sk) = newMounts.toSet
  }

  /** Bare object names registered under (cat, db) in this session. */
  private[sql] def listNamespace(spark: SparkSession, cat: String, db: String): Seq[String] = {
    val prefix = s"${skey(spark)}:@${cat.toLowerCase}.${db.toLowerCase}."
    val it = tables.keys()
    val b = Seq.newBuilder[String]
    while (it.hasMoreElements) {
      val k = it.nextElement()
      if (k.startsWith(prefix)) b += k.stripPrefix(prefix)
    }
    b.result()
  }

  /** Evict EVERY table registered under a catalog's namespaces — DROP
    * CATALOG destroys the in-memory catalog and all its objects (the
    * reference's GenericInMemoryCatalog simply ceases to exist); without
    * this, re-creating a same-named catalog would resurrect stale tables. */
  private[sql] def dropCatalogNamespace(spark: SparkSession, cat: String): Unit = {
    val prefix = s"${skey(spark)}:@${cat.toLowerCase}."
    val it = tables.keys()
    val doomed = Seq.newBuilder[String]
    while (it.hasMoreElements) {
      val k = it.nextElement()
      if (k.startsWith(prefix)) doomed += k
    }
    doomed.result().foreach { k =>
      val parts = k.stripPrefix(s"${skey(spark)}:@").split("\\.")
      dropNamespaced(spark, parts(0), parts(1), parts(2))
    }
  }

  /** Drop a namespaced table's registration and views (DROP DATABASE
    * CASCADE's per-table cleanup). */
  private[sql] def dropNamespaced(spark: SparkSession, cat: String, db: String,
      bare: String): Unit = {
    val cname = s"@${cat.toLowerCase}.${db.toLowerCase}.${bare.toLowerCase}"
    tables.remove(key(spark, cname)): Unit
    spark.catalog.dropTempView(viewName(cname)): Unit
    val sk = skey(spark)
    if (mounted.getOrElse(sk, Set.empty).contains(bare.toLowerCase)) {
      spark.catalog.dropTempView(bare): Unit
      mounted(sk) = mounted(sk) - bare.toLowerCase
      restoreUserView(spark, bare.toLowerCase): Unit
    }
  }

  private def hasData(tbl: Tbl): Boolean = {
    val f = new java.io.File(tbl.path)
    f.isFile ||
      (f.isDirectory && Option(f.listFiles).exists(_.exists(c => !c.getName.startsWith("_"))))
  }

  /** (Re)create a canonical table's readable view(s): the flat canonical
    * view always, plus the bare-name alias when the table's namespace is
    * the session's current one. */
  private[sql] def refreshViews(spark: SparkSession, cname: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(viewName(cname))
    if (cname.startsWith("@")) {
      val parts = cname.drop(1).split("\\.")
      if (CatalogDdl.currentNamespace(spark).contains((parts(0), parts(1)))) {
        captureUserView(spark, parts(2))
        df.createOrReplaceTempView(parts(2))
        val sk = skey(spark)
        mounted(sk) = mounted.getOrElse(sk, Set.empty) + parts(2)
      }
    }
  }

  // cols are non-greedy so the optional PARTITIONED BY group can match —
  // a greedy (.*) would swallow it and backtrack straight to WITH.
  // Table names may be database- or catalog-qualified (db.t / cat.db.t) —
  // see resolveQualified and canonical.
  // statement shapes are located on literal/comment-BLANKED text with
  // groups sliced from the original (FlinkSql.Blanked) — a prop VALUE
  // containing ')' / 'WITH (' / 'LIKE x' can neither terminate a capture
  // early nor steal a clause (fuzz family 30 discipline)
  private val createRe = new FlinkSql.Blanked(
    """(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?((?:\w+\.){0,2}\w+)\s*\((.*?)\)\s*(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?WITH\s*\((.*?)\)\s*""".r)
  private val likeRe = new FlinkSql.Blanked(
    """(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?((?:\w+\.){0,2}\w+)\s*(?:\((.*?)\)\s*)?(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?WITH\s*\((.*?)\)\s*LIKE\s+((?:\w+\.){0,2}\w+)\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*""".r)
  // INSERT INTO|OVERWRITE t [PARTITION (p='v'[, ...])] SELECT ...
  private val insertRe = new FlinkSql.Blanked(
    """(?is)\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?((?:\w+\.){0,2}\w+)\s*(?:PARTITION\s*\(([^)]*)\)\s*)?(SELECT\s+.*|VALUES\s*\(.*)""".r)
  private val propRe = """'([^']+)'\s*=\s*'([^']*)'""".r
  private val pkRe = """(?i)(?:CONSTRAINT\s+(\w+)\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)""".r

  private[sql] def parsePk(cols: String): Option[(String, Seq[String])] =
    pkRe.findFirstMatchIn(cols).map { m =>
      val c = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      (Option(m.group(1)).getOrElse("PK_" + c.mkString("_")), c)
    }

  // `col TYPE METADATA [FROM 'key'] [VIRTUAL]` (parserImpls.ftl:560-568);
  // the key defaults to the column name when FROM is absent. The type
  // portion admits multi-word spellings ("TIMESTAMP(3) WITH LOCAL TIME
  // ZONE", "MAP<STRING, STRING>") — non-greedy up to the METADATA keyword.
  private val metaColRe =
    """(?is)^(\w+)\s+(.+?)\s+METADATA(?:\s+(FROM)\s+'([^']+)')?(\s+VIRTUAL)?\s*$""".r

  private[sql] def parseMetaCols(cols: String): Seq[MetaCol] =
    splitTop(cols).flatMap(c => metaColRe.findFirstMatchIn(c.trim).map(m =>
      MetaCol(m.group(1), Option(m.group(4)).getOrElse(m.group(1)),
        normType(m.group(2)), m.group(3) != null, m.group(5) != null)))

  /** SQL type keywords — the words [[normType]] case-folds. Identifiers
    * (nested ROW field names) keep their spelled case, matching the
    * reference's asSummaryString which renders RowType field names
    * verbatim (RowType.asSummaryString). */
  private val typeKeywords = Set(
    "STRING", "CHAR", "VARCHAR", "BOOLEAN", "BINARY", "VARBINARY", "BYTES",
    "DECIMAL", "NUMERIC", "DEC", "TINYINT", "SMALLINT", "INT", "INTEGER",
    "BIGINT", "FLOAT", "DOUBLE", "PRECISION", "DATE", "TIME", "TIMESTAMP",
    "TIMESTAMP_LTZ", "WITH", "WITHOUT", "LOCAL", "ZONE", "INTERVAL", "YEAR",
    "MONTH", "DAY", "HOUR", "MINUTE", "SECOND", "ARRAY", "MULTISET", "MAP",
    "ROW", "RAW", "NULL", "NOT")

  /** Normalize a declared type's rendering to the reference's summary form
    * (LogicalType.asSummaryString): uppercase TYPE KEYWORDS (identifiers —
    * e.g. field names inside ROW<...> — keep their case), single spaces, a
    * space after commas — `decimal(10,2)` → `DECIMAL(10, 2)`,
    * `row<name string>` → `ROW<name STRING>`. Backquoted names pass
    * through untouched. */
  private[sql] def normType(t: String): String = {
    val spaced = t.trim.replaceAll("\\s+", " ").replaceAll(",\\s*", ", ")
    val sb = new StringBuilder
    var i = 0
    while (i < spaced.length) {
      val c = spaced.charAt(i)
      if (c == '`') { // quoted identifier: copy verbatim incl. quotes
        val close = spaced.indexOf('`', i + 1)
        val end = if (close < 0) spaced.length else close + 1
        sb.append(spaced.substring(i, end)); i = end
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < spaced.length && (spaced.charAt(j).isLetterOrDigit || spaced.charAt(j) == '_')) j += 1
        val word = spaced.substring(i, j)
        sb.append(if (typeKeywords(word.toUpperCase)) word.toUpperCase else word)
        i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `name TYPE [NOT NULL]` — anything that is not computed/metadata/
    * constraint/watermark. */
  private val physColRe = """(?is)^(\w+)\s+(.+?)(\s+NOT\s+NULL)?\s*$""".r
  private val compColRe = """(?is)^(\w+)\s+AS\s+(.+)$""".r

  /** The declared column list in declaration order — DESCRIBE's source of
    * truth. Constraint and WATERMARK items are not columns and drop out. */
  private[sql] def parseDecl(colsDdl: String): Seq[DeclCol] =
    splitTop(colsDdl).flatMap { item =>
      val c = item.trim
      val u = c.toUpperCase
      if (u.startsWith("PRIMARY KEY") || u.startsWith("CONSTRAINT") ||
          u.startsWith("WATERMARK")) None
      else metaColRe.findFirstMatchIn(c).map(m =>
        MetaCol(m.group(1), Option(m.group(4)).getOrElse(m.group(1)),
          normType(m.group(2)), m.group(3) != null, m.group(5) != null))
        .orElse(compColRe.findFirstMatchIn(c).map(m => CompCol(m.group(1), m.group(2).trim)))
        .orElse(physColRe.findFirstMatchIn(c).map(m =>
          PhysCol(m.group(1), normType(m.group(2)), nullable = m.group(3) == null)))
    }

  /** Flink DDL type text → the Spark type it reads as (the single-column
    * version of [[parseSchema]]'s mapping). None when unparseable. */
  private[sql] def flinkTypeToSpark(t: String): Option[org.apache.spark.sql.types.DataType] = {
    val cleaned = t.trim
      .replaceAll("(?i)\\bTIMESTAMP\\s*\\(\\d+\\)\\s+WITH\\s+LOCAL\\s+TIME\\s+ZONE", "TIMESTAMP")
      .replaceAll("(?i)\\bTIMESTAMP\\s*\\(\\d+\\)", "TIMESTAMP")
      .replaceAll("(?i)\\bVARCHAR\\s*\\(\\d+\\)", "STRING")
      .replaceAll("(?i)\\bCHAR\\s*\\(\\d+\\)", "STRING")
      .replaceAll("(?i)\\bBYTES\\b", "BINARY")
    try Some(StructType.fromDDL(s"__c $cleaned").head.dataType)
    catch { case _: Exception => None }
  }

  private val showPartsRe = new FlinkSql.Blanked(
    """(?is)^\s*SHOW\s+PARTITIONS\s+((?:\w+\.){0,2}\w+)\s*(?:PARTITION\s*\(([^)]*)\)\s*)?;?\s*$""".r)

  /** SHOW PARTITIONS t [PARTITION (partial spec)] on a registered
    * partitioned connector table — the reference's result shape: one
    * `partition name` column of `k=v[/k2=v2]` strings
    * (TableEnvironmentImpl.java:1026-1041). Non-connector tables return
    * None and fall through to Spark's native statement. */
  def showPartitions(spark: SparkSession, sql: String): Option[LogicalPlan] = sql match {
    case showPartsRe(name, specOpt) =>
      lookup(spark, name).map(tbl => GraftCommand.strings("partition name") { _ =>
        if (tbl.partitions.isEmpty)
          // TableNotPartitionedException message shape
          throw new IllegalArgumentException(s"Table $name is not partitioned.")
        def walk(dir: java.io.File, depth: Int, acc: List[String]): Seq[String] =
          if (depth == tbl.partitions.size) Seq(acc.reverse.mkString("/"))
          else Option(dir.listFiles).toSeq.flatten
            .filter(f => f.isDirectory && f.getName.contains("="))
            .flatMap(f => walk(f, depth + 1, f.getName :: acc))
        val all = walk(new java.io.File(tbl.path), 0, Nil)
        val filters = Option(specOpt).toSeq.flatMap(sp =>
          """(\w+)\s*=\s*(?:'([^']*)'|([^,\s']+))""".r.findAllMatchIn(sp)
            .map(m => m.group(1) + "=" + Option(m.group(2)).getOrElse(m.group(3))))
        val kept = all.filter(p => filters.forall(f => p.split("/").contains(f)))
        import spark.implicits._
        kept.sorted.toDF("partition name")
      })
    case _ => None
  }

  private val alterSetRe = new FlinkSql.Blanked(
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+\.){0,2}\w+)\s+SET\s*\((.*)\)\s*""".r)
  private val alterAddConstraintRe = new FlinkSql.Blanked(
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+\.){0,2}\w+)\s+ADD\s+(?:CONSTRAINT\s+(\w+)\s+)?(PRIMARY\s+KEY|UNIQUE)\s*\(([^)]*)\)\s*(NOT\s+ENFORCED)?\s*;?\s*""".r)
  private val alterDropConstraintRe = new FlinkSql.Blanked(
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+\.){0,2}\w+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r)
  private val alterRenameRe = new FlinkSql.Blanked(
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+\.){0,2}\w+)\s+RENAME\s+TO\s+((?:\w+\.){0,2}\w+)\s*""".r)
  private val dropRe = new FlinkSql.Blanked(
    """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?((?:\w+\.){0,2}\w+)\s*""".r)

  /** ALTER TABLE ... SET (props) / RENAME TO / DROP TABLE on registered
    * connector tables (SqlAlterTableProperties.java:33,
    * SqlAlterTableRename.java, SqlDropTable.java). SET merges the new
    * props over the registration (the reference replaces matching keys);
    * statements naming a non-connector table return None and fall through
    * to Spark's own DDL. */
  def alterOrDrop(spark: SparkSession, sql: String): Option[LogicalPlan] = sql match {
    // ALTER TABLE ADD [CONSTRAINT name] PRIMARY KEY (...) NOT ENFORCED /
    // DROP CONSTRAINT name (SqlAlterTableAddConstraint /
    // SqlAlterTableDropConstraint; SqlToOperationConverter.java:340-371,
    // validateTableConstraint:798-809 — reference error texts preserved,
    // including the original's 'constaint' spelling)
    case alterAddConstraintRe(name, cName, kind, colsList, notEnforced) =>
      lookup(spark, name).map(tbl => GraftCommand.effect { _ =>
        if (kind.toUpperCase.startsWith("UNIQUE"))
          throw new UnsupportedOperationException(
            "UNIQUE constraint is not supported yet")
        if (notEnforced == null)
          throw new IllegalArgumentException(
            "Flink doesn't support ENFORCED mode for PRIMARY KEY constaint. " +
              "ENFORCED/NOT ENFORCED  controls if the constraint checks are performed " +
              "on the incoming/outgoing data. Flink does not own the data therefore " +
              "the only supported mode is the NOT ENFORCED mode")
        if (tbl.pk.isDefined) // TableSchema.Builder.primaryKey:684-686
          throw new IllegalArgumentException("Can not create multiple PRIMARY keys.")
        val cols = colsList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        tbl.schema.foreach { sc =>
          cols.find(c => !sc.fieldNames.contains(c) &&
              !tbl.computed.exists(_._1.equalsIgnoreCase(c)) &&
              !tbl.metaCols.exists(_.name.equalsIgnoreCase(c))).foreach(c =>
            throw new IllegalArgumentException(
              s"Could not create a PRIMARY KEY with column '$c'. Column does not exist."))
        }
        val pkName = Option(cName).getOrElse("PK_" + cols.mkString("_"))
        // the operation rebuilds the schema through TableSchema.Builder,
        // whose validatePrimaryKey ladder rejects non-physical and nullable
        // columns (TableSchema.java:455-478)
        validatePkColumns(pkName, cols, tbl)
        registerMeta(spark, name, tbl.copy(pk = Some((pkName, cols))))
      })
    case alterDropConstraintRe(name, cName) =>
      lookup(spark, name).map(tbl => GraftCommand.effect { _ =>
        if (!tbl.pk.exists(_._1.equalsIgnoreCase(cName)))
          throw new IllegalArgumentException(s"CONSTRAINT [$cName] does not exist")
        registerMeta(spark, name, tbl.copy(pk = None))
      })
    case alterSetRe(name, propsBody) =>
      lookup(spark, name).map(tbl => GraftCommand.effect { _ =>
        val newProps = propRe.findAllMatchIn(propsBody)
          .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
        val merged = tbl.props ++ newProps
        // SET changes OPTIONS only — schema metadata (computed columns, PK,
        // metadata columns, declared list) rides along untouched, exactly
        // like the reference's SqlAlterTableProperties which replaces the
        // CatalogTable's options and keeps its TableSchema
        register(spark, canonical(spark, name),
          tbl.copy(path = merged.getOrElse("path", tbl.path),
            format = merged.getOrElse("format", tbl.format), props = merged))
      })
    case alterRenameRe(name, newName) =>
      lookup(spark, name).map(tbl => GraftCommand.effect { _ =>
        val cname = canonical(spark, name)
        tables.remove(key(spark, cname))
        dropViews(spark, cname)
        register(spark, canonical(spark, newName), tbl)
      })
    case dropRe(name) =>
      lookup(spark, name).map(_ => GraftCommand.effect { _ =>
        val cname = canonical(spark, name)
        tables.remove(key(spark, cname))
        dropViews(spark, cname)
      })
    case _ => None
  }

  /** Drop a canonical table's readable view(s) — the flat view plus any
    * bare-name alias mounted for the current namespace. */
  private def dropViews(spark: SparkSession, cname: String): Unit = {
    spark.catalog.dropTempView(viewName(cname)): Unit
    if (cname.startsWith("@")) {
      val parts = cname.drop(1).split("\\.")
      val sk = skey(spark)
      if (mounted.getOrElse(sk, Set.empty).contains(parts(2)) &&
          CatalogDdl.currentNamespace(spark).contains((parts(0), parts(1)))) {
        spark.catalog.dropTempView(parts(2)): Unit
        mounted(sk) = mounted(sk) - parts(2)
      }
    }
  }

  /** The registered table, if `name` resolves to a connector table of this
    * session — through the current (catalog, database) namespace when a
    * DDL-registered catalog is current, else the session-global registry. */
  private[sql] def lookup(spark: SparkSession, name: String): Option[Tbl] =
    Option(tables.get(key(spark, canonical(spark, name))))

  /** TableSchema.validatePrimaryKey's physical + nullability ladder
    * (TableSchema.java:455-478): a PK column must be a physical column and
    * declared NOT NULL. Existence is checked by the callers (their error
    * texts differ by path in the reference). Nullability can only be
    * checked when the table carries a declared column list — an inferred
    * schema has no NOT NULL to honor. */
  private def validatePkColumns(pkName: String, cols: Seq[String], tbl: Tbl): Unit = {
    cols.find(c => tbl.computed.exists(_._1.equalsIgnoreCase(c)) ||
        tbl.metaCols.exists(_.name.equalsIgnoreCase(c))).foreach(c =>
      throw new IllegalArgumentException(
        s"Could not create a PRIMARY KEY '$pkName'. Column '$c' is not a physical column."))
    cols.find(c => tbl.decl.exists {
      case PhysCol(n, _, nullable) => n.equalsIgnoreCase(c) && nullable
      case _ => false
    }).foreach(c =>
      throw new IllegalArgumentException(
        s"Could not create a PRIMARY KEY '$pkName'. Column '$c' is nullable."))
  }

  /** Flink DDL column list → Spark schema. Computed columns, PRIMARY KEY
    * constraints and metadata columns are not part of the physical read
    * schema; types map per FlinkTypeFactory (VARCHAR/CHAR → STRING,
    * TIMESTAMP(p) → TIMESTAMP, BYTES → BINARY). Returns None when the list
    * does not parse — self-describing formats never need it. */
  private[sql] def parseSchema(colsDdl: String): Option[StructType] = {
    val cols = splitTop(colsDdl).filterNot { c =>
      val u = c.trim.toUpperCase
      u.startsWith("PRIMARY KEY") || u.startsWith("CONSTRAINT") ||
        u.contains(" AS ") || metaColRe.findFirstIn(c.trim).isDefined
    }
    if (cols.isEmpty) return None
    val cleaned = cols.map { c =>
      c.trim
        .replaceAll("(?i)\\s+NOT\\s+NULL", "")
        .replaceAll("(?i)\\bTIMESTAMP\\s*\\(\\d+\\)\\s+WITH\\s+LOCAL\\s+TIME\\s+ZONE", "TIMESTAMP")
        .replaceAll("(?i)\\bTIMESTAMP\\s*\\(\\d+\\)", "TIMESTAMP")
        .replaceAll("(?i)\\bVARCHAR\\s*\\(\\d+\\)", "STRING")
        .replaceAll("(?i)\\bCHAR\\s*\\(\\d+\\)", "STRING")
        .replaceAll("(?i)\\bBYTES\\b", "BINARY")
    }
    try Some(StructType.fromDDL(cleaned.mkString(", ")))
    catch { case _: Exception => None }
  }

  /** Split a column list on top-level commas (ignores commas inside
    * parens like DECIMAL(10,2) and inside quoted strings). */
  private def splitTop(s: String): Seq[String] = {
    // structure from the literal-blanked text (escape-faithful — see
    // EmitStrategy.splitTop, ADVICE r15), slices from the original
    val b = FlinkSql.blankLiteralsAndComments(s)
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    var i = 0
    while (i < b.length) {
      b.charAt(i) match {
        case '(' | '<' => depth += 1
        case ')' | '>' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `'csv.field-delimiter'` → Spark csv reader/writer option `sep`, etc. —
    * the reference's CsvFormatFactory option names mapped to Spark's. Keys
    * of other formats (or unknown csv keys) pass through verbatim minus the
    * `<format>.` prefix, which matches Spark's parquet/orc/json options. */
  private val csvOptionMap = Map(
    "field-delimiter" -> "sep",
    "quote-character" -> "quote",
    "escape-character" -> "escape",
    "null-literal" -> "nullValue",
    "ignore-parse-errors" -> "mode")

  private[sql] def readerOptions(format: String, props: Map[String, String]): Map[String, String] = {
    val prefix = format.toLowerCase + "."
    props.collect { case (k, v) if k.startsWith(prefix) =>
      val bare = k.stripPrefix(prefix)
      if (format.equalsIgnoreCase("csv")) {
        val mapped = csvOptionMap.getOrElse(bare, bare)
        if (bare == "ignore-parse-errors")
          mapped -> (if (v.equalsIgnoreCase("true")) "DROPMALFORMED" else "FAILFAST")
        else mapped -> v
      } else bare -> v
    }
  }

  /** CDC changelog formats (flink-formats/flink-json): reading decodes the
    * line-JSON change messages into the repo's changelog shape — a `kind`
    * column ('+I'/'-U'/'+U'/'-D') followed by the declared columns. The
    * reference hides RowKind inside RowData; Spark rows have no kind slot,
    * so the explicit column is the documented mapping (the convention
    * streaming/Changelog.scala uses throughout). */
  private val cdcFmts = Set("debezium-json", "canal-json", "maxwell-json")

  /** Decode a (batch OR streaming) frame of raw change messages — the CDC
    * decoders are pure column pipelines, so the same plan serves both.
    * METADATA columns (debezium only in 1.12 — DebeziumJsonDecodingFormat
    * .listReadableMetadata) surface under their DECLARED names, appended
    * after the physical columns. */
  private def cdcDecode(raw: DataFrame, fmt: String, schema: StructType,
      props: Map[String, String], metaCols: Seq[MetaCol]): DataFrame = {
    val ignore = props.get(s"$fmt.ignore-parse-errors").exists(_.equalsIgnoreCase("true"))
    fmt match {
      case "debezium-json" =>
        // metadata columns surface POSITIONALLY under their DECLARED names
        // (no rename-by-key afterwards — a physical column sharing a key's
        // name, or two METADATA columns on the same key, stay distinct) and
        // cast to the declared DDL type, the reference's
        // DataTypeUtils.appendRowFields contract
        val decoded = graft.sources.CdcFormats.debeziumJson(raw, "value", schema,
          ignoreParseErrors = ignore,
          schemaInclude = props.get("debezium-json.schema-include").exists(_.equalsIgnoreCase("true")),
          metadata = metaCols.map(_.key), metadataNames = metaCols.map(_.name))
        metaCols.foldLeft(decoded) { case (d, mc) =>
          flinkTypeToSpark(mc.typeText).fold(d)(t =>
            d.withColumn(mc.name, org.apache.spark.sql.functions.col(mc.name).cast(t))) }
      case "canal-json" => graft.sources.CdcFormats.canalJson(raw, "value", schema,
        ignoreParseErrors = ignore, database = props.get("canal-json.database.include"))
      case "maxwell-json" => graft.sources.CdcFormats.maxwellJson(raw, "value", schema,
        ignoreParseErrors = ignore)
    }
  }

  /** Build the reader for a registered table, `overrides` merged OVER the
    * registered options (the OPTIONS-hint merge, CatalogSourceTable.java:258).
    * The declared schema applies to non-self-describing formats. */
  private[sql] def read(spark: SparkSession, tbl: Tbl,
      overrides: Map[String, String] = Map.empty): DataFrame = {
    val props = tbl.props ++ overrides
    val fmt = props.getOrElse("format", tbl.format)
    val path = props.getOrElse("path", tbl.path)
    if (cdcFmts(fmt.toLowerCase)) {
      val schema = tbl.schema.getOrElse(throw new IllegalArgumentException(
        s"format '$fmt' requires a declared column list"))
      return cdcDecode(spark.read.text(path).toDF("value"),
        fmt.toLowerCase, schema, props, tbl.metaCols)
    }
    var r: DataFrameReader = spark.read.format(fmt).options(readerOptions(fmt, props))
    if (fmt.equalsIgnoreCase("csv") || fmt.equalsIgnoreCase("json"))
      // partition columns live in the directory layout, not the files —
      // they come back via Spark's partition discovery
      tbl.schema.map(sc => StructType(sc.filterNot(f => tbl.partitions.contains(f.name))))
        .foreach(sc => r = r.schema(sc))
    val df = r.load(path)
    // partition discovery infers partition-col types; cast back to the DDL
    // types and restore the declared column order
    val ordered = tbl.schema.filter(_ => tbl.partitions.nonEmpty).fold(df) { sc =>
      df.select(sc.fieldNames.toSeq.map(n =>
        org.apache.spark.sql.functions.col(n)
          .cast(sc(n).dataType).as(n)): _*)
    }
    // computed (generated) columns apply on top in declaration order, so
    // later ones may reference earlier ones — parserImpls.ftl:551
    tbl.computed.foldLeft(ordered) { case (d, (n, e)) =>
      d.withColumn(n, org.apache.spark.sql.functions.expr(e))
    }
  }

  /** Stream-read a registered connector table: file-stream over its path
    * with the declared (or batch-inferred) schema, computed columns applied,
    * and the table's registered watermark — its own WATERMARK FOR or one
    * inherited through CREATE TABLE LIKE (INCLUDING WATERMARKS) — attached.
    * The streaming-source half of the reference's connector DDL. */
  def readStream(spark: SparkSession, name: String): DataFrame = {
    val tbl = lookup(spark, name).getOrElse(throw new IllegalArgumentException(
      s"readStream: '$name' is not a registered connector table"))
    if (cdcFmts(tbl.format.toLowerCase)) {
      // pure-projection decode — the identical plan runs under streaming
      val schema = tbl.schema.getOrElse(throw new IllegalArgumentException(
        s"format '${tbl.format}' requires a declared column list"))
      return cdcDecode(spark.readStream.text(tbl.path).toDF("value"),
        tbl.format.toLowerCase, schema, tbl.props, tbl.metaCols)
    }
    val opts = readerOptions(tbl.format, tbl.props)
    val schema = tbl.schema.getOrElse(
      spark.read.format(tbl.format).options(opts).load(tbl.path).schema)
    val raw = spark.readStream.format(tbl.format).options(opts)
      .schema(schema).load(tbl.path)
    val withComputed = tbl.computed.foldLeft(raw) { case (d, (n, e)) =>
      d.withColumn(n, org.apache.spark.sql.functions.expr(e)) }
    SystemTimeJoin.watermarkOf(canonical(spark, name)).fold(withComputed) {
      case (c, delay) => withComputed.withWatermark(c, delay) }
  }

  /** Registry-only insert — for tables whose readable view is built by the
    * caller (WatermarkDdl builds its own view with computed columns before
    * the Tbl metadata lands here for LIKE to find). */
  private[sql] def registerMeta(spark: SparkSession, name: String, tbl: Tbl): Unit =
    tables.put(key(spark, name), tbl): Unit

  /** Per-feature merging strategies of a LIKE options list
    * (MergeTableLikeUtil.computeMergingStrategies:98-121 + the parser's
    * SqlTableLike.validate():194-210): defaults are OPTIONS → OVERWRITING
    * and everything else → INCLUDING (MergeTableLikeUtil.java:74-81); an
    * ALL entry overrides every default; specific entries override last.
    * Each feature at most once; OVERWRITING is illegal for
    * ALL / PARTITIONS / CONSTRAINTS. */
  private[sql] def likeStrategies(optsText: String): Map[String, String] = {
    val feats = Seq("CONSTRAINTS", "GENERATED", "METADATA", "OPTIONS",
      "PARTITIONS", "WATERMARKS")
    val entryRe =
      """(?i)\b(INCLUDING|EXCLUDING|OVERWRITING)\s+(ALL|CONSTRAINTS|GENERATED|METADATA|OPTIONS|PARTITIONS|WATERMARKS)\b""".r
    val entries = entryRe.findAllMatchIn(optsText)
      .map(m => m.group(2).toUpperCase -> m.group(1).toUpperCase).toSeq
    if (entries.map(_._1).distinct.size != entries.size)
      throw new IllegalArgumentException(
        "Each like option feature can be declared only once.")
    entries.foreach { case (f, s) =>
      if (s == "OVERWRITING" && Set("ALL", "PARTITIONS", "CONSTRAINTS")(f))
        throw new IllegalArgumentException(
          s"Illegal merging strategy '$s' for '$f' option.")
    }
    val defaults =
      feats.map(f => f -> (if (f == "OPTIONS") "OVERWRITING" else "INCLUDING")).toMap
    val withAll = entries.collectFirst { case ("ALL", s) => s }
      .fold(defaults)(s => feats.map(_ -> s).toMap)
    withAll ++ entries.filter(_._1 != "ALL")
  }

  /** Flat readable-view name of a canonical (or legacy possibly-qualified)
    * table name (temp view names cannot contain dots). Qualified references
    * in queries reach this name through [[resolveQualified]]; namespaced
    * tables additionally mount under their bare name while their namespace
    * is current — see [[remount]]. */
  private[sql] def viewName(name: String): String =
    if (name.startsWith("@")) "__cat_" + name.drop(1).toLowerCase.replace('.', '_')
    else if (name.contains(".")) "__dbq_" + name.toLowerCase.replace('.', '_') else name

  /** Rewrite qualified references (`db.t`) to REGISTERED connector tables
    * into their flat readable-view names — the read half of database-scoped
    * connector tables. Locations are found on literal/comment-blanked text
    * (a string containing 'db.t' is untouched); the splice edits the
    * original. The parser applies it only to statements no DDL front-end
    * owns — those resolve names via lookup(). A trailing `.col` stays
    * correct: `db.t.col` becomes `<view>.col`. */
  def resolveQualified(spark: SparkSession, sqlText: String): String = {
    if (!sqlText.contains(".")) return sqlText
    val prefix = s"${System.identityHashCode(spark)}:"
    val ns = CatalogDdl.currentNamespace(spark)
    // (textual pattern, canonical name): a legacy `db.t` resolves as
    // spelled; a namespaced table resolves as `cat.db.t` from ANY current
    // catalog (cross-catalog reads) and as `db.t` when its catalog is
    // current — CatalogManager.qualifyIdentifier's partial-identifier
    // completion (CatalogManager.java:616-621)
    val quals = {
      val it = tables.keys()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasMoreElements) {
        val k0 = it.nextElement()
        if (k0.startsWith(prefix)) {
          val k = k0.stripPrefix(prefix)
          if (k.startsWith("@")) {
            val full = k.drop(1)
            b += full -> k
            val parts = full.split("\\.")
            if (ns.exists(_._1 == parts(0)))
              b += s"${parts(1)}.${parts(2)}" -> k
          } else if (k.contains(".")) b += k -> k
        }
      }
      b.result()
    }
    if (quals.isEmpty) return sqlText
    var text = sqlText
    // longest patterns first so `cat.db.t` wins over a same-suffix `db.t`;
    // on EQUAL-length collisions (a legacy session-global `db.t` vs the
    // current catalog's `@cat.db.t` exposed under the same `db.t` spelling)
    // the namespaced canonical wins deterministically — matching
    // [[canonical]]'s current-catalog completion (ADVICE r15; the previous
    // tie followed hash-iteration order)
    quals.sortBy { case (q, cname) =>
      (-q.length, if (cname.startsWith("@")) 0 else 1) }.foreach { case (q, cname) =>
      // trailing `.col` stays correct: `db.t.col` becomes `<view>.col`
      val re = ("(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(q) + "(?!\\w)").r
      val blanked = FlinkSql.blankLiteralsAndComments(text)
      if (re.findFirstIn(blanked).isDefined) {
        val sb = new StringBuilder
        var last = 0
        re.findAllMatchIn(blanked).foreach { m =>
          sb.append(text.substring(last, m.start)).append(viewName(cname))
          last = m.end
        }
        sb.append(text.substring(last))
        text = sb.toString
      }
    }
    text
  }

  /** Register under a CANONICAL name (callers resolve with [[canonical]]).
    * A namespaced create validates its database exists in the owning
    * catalog — GenericInMemoryCatalog.createTable's DatabaseNotExist check
    * (GenericInMemoryCatalog.java:154-163, message shape of
    * DatabaseNotExistException). */
  private def register(spark: SparkSession, name: String, tbl: Tbl): Unit = {
    if (name.startsWith("@")) {
      val parts = name.drop(1).split("\\.")
      if (!CatalogDdl.databaseExists(spark, parts(0), parts(1)))
        throw new IllegalArgumentException(
          s"Database ${parts(1)} does not exist in Catalog ${parts(0)}.")
    }
    tables.put(key(spark, name), tbl)
    // pre-existing data → the table is immediately readable too (an empty
    // directory is NOT data — self-describing formats can't infer from it)
    if (hasData(tbl)) refreshViews(spark, name, read(spark, tbl))
  }

  /** CREATE TABLE: the LIKE form, a WATERMARK table ([[WatermarkDdl]]), or
    * a plain connector table; None → no WITH clause, a native Spark table. */
  def create(sql: String): Option[LogicalPlan] = sql match {
    case likeRe(rawName, colsOpt, partColsOpt, propsBody, rawBase, likeOptsOpt) =>
      Some(GraftCommand.effect(createLike(_, rawName, colsOpt, partColsOpt, propsBody,
        rawBase, likeOptsOpt)))
    case _ if FlinkSql.blankedMatch(WatermarkDdl.wmRe, sql).isDefined =>
      Some(WatermarkDdl.createTable(sql))
    case createRe(rawName, cols, partCols, propsBody) =>
      Some(GraftCommand.effect(createPlain(_, rawName, cols, partCols, propsBody)))
    case _ => None
  }

  private def createLike(spark: SparkSession, rawName: String, colsOpt: String,
      partColsOpt: String, propsBody: String, rawBase: String, likeOptsOpt: String): Unit = {
    val name = canonical(spark, rawName)
    val baseName = canonical(spark, rawBase)
    val base = lookup(spark, rawBase).getOrElse(throw new IllegalArgumentException(
      s"CREATE TABLE $rawName LIKE $rawBase: base table is not a registered connector table"))
    val st = likeStrategies(Option(likeOptsOpt).getOrElse(""))
    val derived = propRe.findAllMatchIn(propsBody)
      .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
    // options merge (MergeTableLikeUtil.mergeOptions:185-206). NOTE the
    // default strategy is OVERWRITING (MergeTableLikeUtil.java:75) — a
    // bare LIKE lets the derived WITH silently win; the duplicate error
    // fires only under an explicit INCLUDING
    val merged = scala.collection.mutable.LinkedHashMap[String, String]()
    if (st("OPTIONS") != "EXCLUDING") merged ++= base.props
    derived.foreach { case (k, v) =>
      if (st("OPTIONS") == "INCLUDING" && merged.contains(k))
        throw new IllegalArgumentException(
          s"There already exists an option ['$k' -> '${merged(k)}'] in the base table. " +
            "You might want to specify EXCLUDING OPTIONS or OVERWRITING OPTIONS.")
      merged(k) = v
    }
    val props = merged.toMap
    // schema: derived PHYSICAL columns APPEND to the base's; a duplicate
    // physical name is the reference's unconditional error
    // (MergeTableLikeUtil.collectPhysicalFieldsTypes:460-469)
    val derivedSchema = Option(colsOpt).flatMap(parseSchema)
    val schema = (base.schema, derivedSchema) match {
      case (Some(b), Some(d)) =>
        d.fields.find(f => b.fieldNames.contains(f.name)).foreach(f =>
          throw new IllegalArgumentException(
            s"A column named '${f.name}' already exists in the base table."))
        Some(StructType(b.fields ++ d.fields))
      case (b, d) => d.orElse(b)
    }
    // computed (GENERATED) columns: inherit unless EXCLUDING; a derived
    // computed column on an inherited name needs OVERWRITING
    // (MergeTableLikeUtil.appendDerivedColumns:395-410)
    val computedRe = """(?is)^(\w+)\s+AS\s+(.+)$""".r
    val items = Option(colsOpt).map(splitTop).getOrElse(Nil)
    val derivedComputed = items.collect {
      case c if !c.trim.toUpperCase.startsWith("WATERMARK") &&
          computedRe.findFirstMatchIn(c.trim).isDefined =>
        val m = computedRe.findFirstMatchIn(c.trim).get
        (m.group(1), m.group(2).trim)
    }
    val baseComputed = if (st("GENERATED") == "EXCLUDING") Nil else base.computed
    derivedComputed.foreach { case (n, _) =>
      if (baseComputed.exists(_._1.equalsIgnoreCase(n)) && st("GENERATED") != "OVERWRITING")
        throw new IllegalArgumentException(
          s"A generated column named '$n' already exists in the base table. " +
            "You might want to specify EXCLUDING GENERATED or OVERWRITING GENERATED.")
    }
    val computed = baseComputed.filterNot(bc =>
      derivedComputed.exists(_._1.equalsIgnoreCase(bc._1))) ++ derivedComputed
    // METADATA columns: inherit unless EXCLUDING; a derived metadata
    // column on an inherited name needs OVERWRITING
    // (MergeTableLikeUtil.appendDerivedColumns:429-443)
    val derivedMeta = Option(colsOpt).map(parseMetaCols).getOrElse(Nil)
    val baseMeta = if (st("METADATA") == "EXCLUDING") Nil else base.metaCols
    derivedMeta.foreach { mc =>
      if (baseMeta.exists(_.name.equalsIgnoreCase(mc.name)) && st("METADATA") != "OVERWRITING")
        throw new IllegalArgumentException(
          s"A metadata column named '${mc.name}' already exists in the base table. You " +
            "might want to specify EXCLUDING METADATA or OVERWRITING METADATA.")
    }
    val metaMerged = baseMeta.filterNot(bm =>
      derivedMeta.exists(_.name.equalsIgnoreCase(bm.name))) ++ derivedMeta
    // partitions (MergeTableLikeUtil.mergePartitions:164-180 — the 1.12
    // shape, preserved exactly: EXCLUDING legalizes a derived override,
    // but an EMPTY derived list inherits the base's partitions under
    // every strategy, EXCLUDING included)
    val derivedParts = Option(partColsOpt)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (derivedParts.nonEmpty && base.partitions.nonEmpty && st("PARTITIONS") != "EXCLUDING")
      throw new IllegalArgumentException(
        "The base table already has partitions defined. You might want to " +
          "specify EXCLUDING PARTITIONS.")
    val parts = if (derivedParts.nonEmpty) derivedParts else base.partitions
    // watermarks (populateWatermarksFromSourceTable:258-266 +
    // verifyRowtimeAttribute:336-349): inherit unless EXCLUDING; a
    // derived spec on the same rowtime column needs OVERWRITING
    val baseWm = if (st("WATERMARKS") == "EXCLUDING") None
                 else SystemTimeJoin.watermarkOf(baseName)
    val derivedWm = Option(colsOpt).flatMap(WatermarkDdl.parseWm)
    derivedWm.foreach { w =>
      if (baseWm.exists(_._1.equalsIgnoreCase(w.col)) && st("WATERMARKS") != "OVERWRITING")
        throw new IllegalArgumentException(
          s"There already exists a watermark spec for column '${w.col}' in the " +
            "base table. You might want to specify EXCLUDING WATERMARKS or " +
            "OVERWRITING WATERMARKS.")
    }
    val wm = derivedWm.map(w => (w.col, WatermarkDdl.delayOf(spark, w)))
      .orElse(baseWm)
    // primary key (CONSTRAINTS): copied only under INCLUDING
    // (populatePrimaryKeyFromSourceTable:268-275); base + derived PK
    // together is the reference's error (appendDerivedPrimaryKey:277-281)
    val basePk = if (st("CONSTRAINTS") == "INCLUDING") base.pk else None
    val derivedPk = Option(colsOpt).flatMap(parsePk)
    if (derivedPk.isDefined && basePk.isDefined)
      throw new IllegalArgumentException(
        "The base table already has a primary key. You might want to " +
          "specify EXCLUDING CONSTRAINTS.")
    val path = props.getOrElse("path", throw new IllegalArgumentException(
      s"CREATE TABLE $name LIKE $baseName: no 'path' after option merge"))
    // declaration-order column list for DESCRIBE: the base's (minus
    // excluded/overridden computed+metadata items) with the derived list
    // appended — the merged TableSchema's column order in the reference
    val derivedDecl = Option(colsOpt).map(parseDecl).getOrElse(Nil)
    val mergedDecl = base.decl.filter {
      case _: PhysCol => true
      case c: CompCol => st("GENERATED") != "EXCLUDING" &&
        !derivedComputed.exists(_._1.equalsIgnoreCase(c.name))
      case m: MetaCol => st("METADATA") != "EXCLUDING" &&
        !derivedMeta.exists(_.name.equalsIgnoreCase(m.name))
    } ++ derivedDecl
    val mergedPk = derivedPk.orElse(basePk)
    mergedPk.foreach { case (pn, pc) =>
      if (mergedDecl.nonEmpty)
        pc.find(c => !mergedDecl.exists(_.name.equalsIgnoreCase(c))).foreach(c =>
          throw new IllegalArgumentException(
            s"Could not create a PRIMARY KEY '$pn'. Column '$c' does not exist."))
      validatePkColumns(pn, pc, Tbl(path, "", props, schema, parts, computed,
        None, metaMerged, mergedDecl)) }
    register(spark, name,
      Tbl(path, props.getOrElse("format", "parquet"), props, schema, parts,
        computed, mergedPk, metaMerged, mergedDecl))
    wm.foreach { case (c, d) => SystemTimeJoin.declareWatermark(name, c, d) }
    // the watermark EXPRESSION text (DESCRIBE's `watermark` column):
    // derived spec wins, else inherited from the base's registration
    derivedWm.map(WatermarkDdl.exprTextOf)
      .orElse(if (st("WATERMARKS") == "EXCLUDING") None
              else SystemTimeJoin.watermarkExprOf(baseName))
      .foreach(e => SystemTimeJoin.declareWatermarkExpr(name, e))
  }

  private def createPlain(spark: SparkSession, rawName: String, cols: String,
      partCols: String, propsBody: String): Unit = {
    val name = canonical(spark, rawName)
    val props = propRe.findAllMatchIn(propsBody)
      .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
    require(props.get("connector").forall(_ == "filesystem"),
      s"CREATE TABLE $name: only the filesystem connector is supported, " +
        s"got ${props.get("connector")}")
    val path = props.getOrElse("path",
      throw new IllegalArgumentException(s"CREATE TABLE $name: 'path' property required"))
    val fmt = props.getOrElse("format", "parquet")
    // PARTITIONED BY columns must be part of the declared schema (the
    // reference's SqlCreateTable validates the same); they become the
    // col=value directory layout on write
    val parts = Option(partCols).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // METADATA columns (FLIP-107): in 1.12 only the debezium-json format
    // lists readable metadata (DebeziumJsonDecodingFormat.java:108-113);
    // keys validate at DDL time with the reference's pointed error shape
    // (DynamicSourceUtils invalid-metadata-key validation)
    val metaCols = parseMetaCols(cols)
    if (metaCols.nonEmpty && !fmt.equalsIgnoreCase("debezium-json"))
      throw new IllegalArgumentException(
        s"CREATE TABLE $name: format '$fmt' does not support reading metadata " +
          "(only debezium-json lists readable metadata in this surface)")
    metaCols.foreach { mc =>
      if (!graft.sources.CdcFormats.DebeziumMetadataKeys.contains(mc.key))
        throw new IllegalArgumentException(
          s"Invalid metadata key '${mc.key}' in column '${mc.name}' of table $name. " +
            "The debezium-json format supports the following metadata keys for " +
            s"READING: ${graft.sources.CdcFormats.DebeziumMetadataKeys.mkString(", ")}")
    }
    val decl = parseDecl(cols)
    // computed (generated) columns are independent of the WATERMARK
    // clause (parserImpls.ftl:551) — a plain connector CREATE carries
    // them too; read() applies them in declaration order
    val computedCols = decl.collect { case CompCol(n, e) => (n, e) }
    val tbl = Tbl(path, fmt, props, parseSchema(cols), parts, computedCols,
      parsePk(cols), metaCols, decl)
    tbl.pk.foreach { case (pn, pc) =>
      pc.find(c => !decl.exists(_.name.equalsIgnoreCase(c))).foreach(c =>
        throw new IllegalArgumentException(
          s"Could not create a PRIMARY KEY '$pn'. Column '$c' does not exist."))
      validatePkColumns(pn, pc, tbl)
    }
    register(spark, name, tbl)
  }

  /** INSERT into a registered connector sink; None → not ours, let the
    * stock parser plan the INSERT. */
  def insert(spark: SparkSession, sql: String): Option[LogicalPlan] = sql match {
    case insertRe(mode, name, staticPart, query) =>
      lookup(spark, name).map(tbl => GraftCommand.effect { _ =>
        var df = spark.sql(query)
        // static PARTITION (p='v' | p=5) clause: the literals — quoted or
        // unquoted, both valid in the reference's grammar — append as
        // constant columns cast to the declared type; an unparsed residue
        // is a pointed error rather than a silent drop
        Option(staticPart).foreach { sp =>
          val specRe = """(\w+)\s*=\s*(?:'([^']*)'|([^,\s']+))""".r
          val ms = specRe.findAllMatchIn(sp).toSeq
          val residue = ms.foldLeft(sp)((acc, m) => acc.replace(m.matched, ""))
            .replaceAll("[,\\s]+", "")
          if (residue.nonEmpty)
            throw new IllegalArgumentException(
              s"INSERT INTO $name: unsupported static PARTITION spec near '$residue'")
          ms.foreach { m =>
            val v = Option(m.group(2)).getOrElse(m.group(3))
            val declared = tbl.schema.map(_.apply(m.group(1)).dataType)
            val c = org.apache.spark.sql.functions.lit(v)
            df = df.withColumn(m.group(1),
              declared.fold(c)(t => c.cast(t)))
          }
        }
        // each written column with a declared type is stored as that type
        // (a parquet table reads back what the files hold)
        tbl.schema.foreach(sc => df = df.select(df.columns.toSeq.map(c =>
          sc.find(_.name.equalsIgnoreCase(c)).fold(df(c))(f => df(c).cast(f.dataType).as(c))): _*))
        val overwrite = mode.equalsIgnoreCase("OVERWRITE")
        if (cdcFmts(tbl.format.toLowerCase)) {
          // changelog sink: the query yields (kind, <cols>) rows, encoded
          // with the reference's (lossy) serialization schema of the format
          val encoded = tbl.format.toLowerCase match {
            case "debezium-json" => graft.sources.CdcFormats.toDebeziumJson(df)
            case "canal-json" => graft.sources.CdcFormats.toCanalJson(df)
            case "maxwell-json" => graft.sources.CdcFormats.toMaxwellJson(df)
          }
          encoded.write.mode(if (overwrite) "overwrite" else "append").text(tbl.path)
        } else {
          val writerOpts = readerOptions(tbl.format, tbl.props) - "mode"
          var w = df.write.format(tbl.format).options(writerOpts)
            .mode(if (overwrite) "overwrite" else "append")
          if (tbl.partitions.nonEmpty) {
            w = w.partitionBy(tbl.partitions: _*)
            // the reference's PartitionLoader overwrites ONLY the partitions
            // present in the written data (FileSystemCommitter.java:97) —
            // Spark's dynamic partitionOverwriteMode is the same contract
            if (overwrite) w = w.option("partitionOverwriteMode", "dynamic")
          }
          w.save(tbl.path)
        }
        // refresh the readable view over the now-written files
        refreshViews(spark, canonical(spark, name), read(spark, tbl))
      })
    case _ => None
  }
}
