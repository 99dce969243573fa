package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col

/** Database DDL — the reference's catalog-database statement surface
  * (flink-sql-parser Parser.tdd:36-62: SqlCreateDatabase / SqlDropDatabase /
  * SqlAlterDatabase / SqlUseDatabase / SqlShowDatabases;
  * TableEnvironmentImpl.executeOperation, TableEnvironmentImpl.java:1015).
  *
  * Spark-first mapping — Spark's session catalog already implements the
  * semantics; only the spellings and result column names differ:
  *
  *   CREATE DATABASE [IF NOT EXISTS] db [COMMENT 'c'] [WITH (props)]
  *     → CREATE DATABASE ... [WITH DBPROPERTIES (props)]
  *   ALTER DATABASE db SET (props)
  *     → ALTER DATABASE db SET DBPROPERTIES (props)
  *   DROP DATABASE [IF EXISTS] db [RESTRICT | CASCADE] → native pass-through
  *   USE db                                            → native pass-through
  *   SHOW DATABASES → native result with the reference's column name
  *     (`database name` — TableEnvironmentImpl.java:1016 buildShowResult)
  *
  * Connector tables can live inside a non-default database by registering
  * under a QUALIFIED name (`CREATE TABLE db.t ... WITH (...)`); see
  * [[ConnectorTables.resolveQualified]] for how qualified references reach
  * the flat readable view.
  */
object DatabaseDdl {

  private val createRe =
    """(?is)^(\s*CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?\w+\s*(?:COMMENT\s+'[^']*'\s*)?)WITH\s*\((.*)\)\s*;?\s*$""".r
  private val alterRe =
    """(?is)^(\s*ALTER\s+DATABASE\s+\w+\s+SET\s*)\((.*)\)\s*;?\s*$""".r
  private val showRe = new FlinkSql.Blanked("""(?is)\s*SHOW\s+DATABASES\s*;?\s*""".r)
  private val showTablesRe = new FlinkSql.Blanked("""(?is)\s*SHOW\s+TABLES\s*;?\s*""".r)
  private val showViewsRe = new FlinkSql.Blanked("""(?is)\s*SHOW\s+VIEWS\s*;?\s*""".r)
  private val showFunctionsRe = new FlinkSql.Blanked("""(?is)\s*SHOW\s+FUNCTIONS\s*;?\s*""".r)

  /** Text rewrite of the Flink property-clause spellings into Spark's —
    * `WITH (...)` → `WITH DBPROPERTIES (...)`, `SET (...)` →
    * `SET DBPROPERTIES (...)`. The rewritten (and any natively-spelled)
    * statement no longer matches, so the parser's preprocess chain cannot
    * loop. CREATE DATABASE without WITH, DROP DATABASE [RESTRICT|CASCADE]
    * and USE are already native Spark spellings and pass through untouched. */
  def rewrite(sqlText: String): String = sqlText match {
    case createRe(head, props) => s"${head}WITH DBPROPERTIES ($props)"
    case alterRe(head, props) => s"${head}DBPROPERTIES ($props)"
    case _ => sqlText
  }

  /** The bare SHOW forms, built with the reference's one-column result
    * headers (buildShowResult, TableEnvironmentImpl.java:1012-1024);
    * `SHOW TABLES IN db` / `LIKE 'pat'` variants return None and stay native.
    * `native` runs a statement through the DELEGATE parser (spark.sql would
    * re-enter this dispatch). Tables/views are sorted like the reference
    * (TableEnvironmentImpl.listTables/listViews .sorted());
    * listFunctions/listDatabases carry the provider's order. */
  def show(sql: String, native: String => DataFrame): Option[LogicalPlan] = sql match {
    case showTablesRe() => Some(GraftCommand.strings("table name") { spark =>
      // with a DDL-registered catalog current, list ONLY that
      // catalog.database's registered tables — the reference's
      // CatalogManager.listTables(currentCatalog, currentDatabase)
      // (CatalogManager.java:430-454). Spark temp views stay
      // session-global and out of the namespaced listing (documented
      // divergence in CatalogDdl's scaladoc).
      CatalogDdl.currentNamespace(spark).map { case (cat, db) =>
        import spark.implicits._
        ConnectorTables.listNamespace(spark, cat, db).sorted.toDF("table name")
      }.getOrElse(
        native("SHOW TABLES").select(col("tableName").as("table name"))
          .sort("table name"))
    })
    case showViewsRe() => Some(GraftCommand.strings("view name") { _ =>
      native("SHOW VIEWS").select(col("viewName").as("view name"))
        .sort("view name")
    })
    case showFunctionsRe() => Some(GraftCommand.strings("function name") { _ =>
      native("SHOW FUNCTIONS").select(col("function").as("function name"))
    })
    case showRe() => Some(GraftCommand.strings("database name") { spark =>
      // with a DDL-registered catalog current, list ITS databases in
      // creation order (GenericInMemoryCatalog.listDatabases)
      CatalogDdl.listDatabases(spark).map { dbs =>
        import spark.implicits._
        dbs.toDF("database name")
      }.getOrElse(
        spark.catalog.listDatabases().select(col("name").as("database name")))
    })
    case _ => None
  }
}
