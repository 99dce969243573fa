package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A SQL-registrable function — the analogue of the reference's
  * UserDefinedFunction subclasses that CREATE FUNCTION DDL instantiates by
  * class name (flink-sql-parser function DDL → FunctionCatalog
  * .registerTempCatalogFunction → UserDefinedFunctionHelper
  * .instantiateFunction). Implementations self-register their Spark UDF
  * under the DDL-given name. */
trait GraftSqlFunction {
  def register(spark: SparkSession, name: String): Unit
}

/** `CREATE [OR REPLACE] [TEMPORARY] [SYSTEM] FUNCTION [IF NOT EXISTS]
  * <name> AS '<className>'` — the reference's function DDL
  * (flink-sql-parser parserImpls.ftl SqlCreateFunction, executed in
  * TableEnvironmentImpl.createCatalogFunction). The class is resolved
  * reflectively and must implement [[GraftSqlFunction]]; statements whose
  * class does not (e.g. Spark's own Hive-style CREATE FUNCTION ... USING
  * JAR) fall through to the stock parser untouched.
  *
  * `ALTER FUNCTION <name> AS '<className>'` completes the function-DDL
  * ladder (SqlAlterFunction.java; SqlToOperationConverter
  * .convertAlterFunction:460-478; executed in TableEnvironmentImpl
  * .alterCatalogFunction:1379-1402): the function re-registers under the
  * same name with the new class. The reference's refusal ladder is
  * preserved — TEMPORARY SYSTEM → "Alter temporary system
  * function is not supported" (converter:462), TEMPORARY → "Alter
  * temporary catalog function is not supported" (:1384-1385), and altering
  * a function this DDL never created → FunctionNotExistException unless
  * IF EXISTS. Namespaces are separate like the reference's: a name created
  * via CREATE TEMPORARY FUNCTION lives in the temp registry only, so a
  * non-TEMPORARY ALTER on it refuses with FunctionNotExistException
  * (Catalog.alterFunction never sees temp names), and DROP FUNCTION
  * evicts the bookkeeping (see [[drop]]). */
object FunctionDdl {

  private val createRe =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+'([\w.$]+)'\s*(?:LANGUAGE\s+\w+\s*)?""".r
  private val alterRe =
    """(?is)\s*ALTER\s+(TEMPORARY\s+SYSTEM\s+|TEMPORARY\s+)?FUNCTION\s+(?:(IF\s+EXISTS)\s+)?((?:\w+\.)*\w+)\s+AS\s+'([\w.$]+)'\s*(?:LANGUAGE\s+\w+\s*)?;?\s*""".r
  private val dropRe = new FlinkSql.Blanked(
    """(?is)\s*DROP\s+(TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(?:IF\s+EXISTS\s+)?((?:\w+\.)*\w+)\s*;?\s*""".r)

  /** session identity + function name → (catalog-registered class,
    * temp-registered class) — TWO slots per name, because the reference
    * keeps temporary and catalog function namespaces SEPARATE
    * (FunctionCatalog temp registry vs Catalog.alterFunction): CREATE
    * TEMPORARY FUNCTION f after CREATE FUNCTION f must not hide the
    * catalog entry from a later ALTER, and DROP TEMPORARY FUNCTION must
    * not evict the catalog one (ADVICE r15; the previous single entry did
    * both). Spark's UDF registry itself is flat — these slots are the
    * namespace bookkeeping layered on top. */
  private val registered = scala.collection.concurrent.TrieMap
    .empty[String, (Option[String], Option[String])]

  private def key(s: SparkSession, name: String) =
    s"${System.identityHashCode(s)}:${name.toLowerCase}"

  /** CREATE FUNCTION over a [[GraftSqlFunction]] class; None → not a graft
    * class (e.g. Hive-style `USING JAR`), let the stock parser have it. */
  def create(sql: String): Option[LogicalPlan] = sql match {
    case createRe(temp, name, className) if isGraftFunction(className) =>
      Some(GraftCommand.effect { spark =>
        instance(className).register(spark, name)
        val k = key(spark, name)
        val (cat, tmp) = registered.getOrElse(k, (None, None))
        registered(k) =
          if (temp != null) (cat, Some(className)) else (Some(className), tmp)
      })
    case _ => None
  }

  private def isGraftFunction(className: String): Boolean =
    try classOf[GraftSqlFunction].isAssignableFrom(Class.forName(className))
    catch { case _: Throwable => false }

  private def instance(className: String): GraftSqlFunction =
    Class.forName(className).getDeclaredConstructor().newInstance()
      .asInstanceOf[GraftSqlFunction]

  /** DROP FUNCTION stays native (Spark drops the UDF registration); once it
    * has run, the CREATE bookkeeping forgets the name so a later ALTER
    * FUNCTION sees the function as gone. */
  def drop(sql: String, native: => LogicalPlan): Option[LogicalPlan] = sql match {
    case dropRe(temp, name) => Some(GraftCommand.around(native) { spark =>
      val k = key(spark, name.split("\\.").last)
      registered.get(k).foreach { case (cat, tmp) =>
        // DROP TEMPORARY FUNCTION evicts the temp slot when one exists —
        // a same-named catalog function SURVIVES it (the reference's two
        // namespaces). When no temp slot exists the TEMPORARY spelling
        // falls back to the catalog slot: Spark's registry is flat, so that
        // native drop really did remove the function — bookkeeping follows
        // it. Plain DROP FUNCTION evicts the catalog slot
        // (Catalog.dropFunction).
        val next =
          if (temp != null) { if (tmp.isDefined) (cat, None) else (None, tmp) }
          else (None, tmp)
        if (next == ((None, None))) registered.remove(k): Unit
        else registered(k) = next
      }
    })
    case _ => None
  }

  /** ALTER FUNCTION — always handled (there is no Spark-native spelling to
    * fall through to). */
  def alter(sql: String): LogicalPlan = sql match {
    case alterRe(temp, ifExists, name, className) =>
      Option(temp).map(_.trim.toUpperCase) match {
        case Some("TEMPORARY SYSTEM") => throw new UnsupportedOperationException(
          "Alter temporary system function is not supported")
        case Some("TEMPORARY") => throw new UnsupportedOperationException(
          "Alter temporary catalog function is not supported")
        case _ =>
      }
      val bare = name.split("\\.").last
      GraftCommand.effect { spark =>
        // a non-TEMPORARY ALTER resolves in the CATALOG function namespace
        // only — a name created via CREATE TEMPORARY FUNCTION is invisible
        // to it (alterCatalogFunction goes to Catalog.alterFunction, which
        // throws FunctionNotExistException for a temp-only name)
        if (!registered.get(key(spark, bare)).exists(_._1.isDefined)) {
          if (ifExists == null)
            // FunctionNotExistException message shape
            throw new IllegalArgumentException(s"Function $name does not exist.")
        } else {
          val inst =
            try Class.forName(className).getDeclaredConstructor().newInstance()
            catch { case e: Throwable => throw new IllegalArgumentException(
              s"ALTER FUNCTION $name: could not instantiate '$className'", e) }
          inst match {
            case f: GraftSqlFunction =>
              f.register(spark, bare) // spark.udf.register replaces in place
              val k = key(spark, bare)
              val tmp = registered.get(k).flatMap(_._2)
              registered(k) = (Some(className), tmp)
            case _ => throw new IllegalArgumentException(
              s"ALTER FUNCTION $name: '$className' is not a GraftSqlFunction")
          }
        }
      }
    case _ => throw new IllegalArgumentException(
      "unsupported ALTER FUNCTION shape — expected ALTER [TEMPORARY [SYSTEM]] " +
        "FUNCTION [IF EXISTS] <name> AS '<className>' [LANGUAGE ...]")
  }
}
