package graft.sql

import scala.collection.mutable.ListBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Multi-statement INSERT execution with shared-scan reuse — the reference's
  * StatementSet (`TableEnvironment.createStatementSet()`,
  * flink-table-api-java internal/StatementSetImpl.java: buffers modify
  * operations and submits them as ONE job so the planner deduplicates
  * common subgraphs). Spark-first analogue: a source table referenced by
  * more than one buffered INSERT is persisted for the duration of
  * `execute()`, so every statement's scan of it hits the block store —
  * Spark's CacheManager substitutes the InMemoryRelation into any plan
  * fragment that matches the cached one. At 100 TB the shared scan is the
  * entire point of a statement set: N sinks over one source must read it
  * once, not N times.
  */
final class StatementSet private (spark: SparkSession) {
  private val stmts = ListBuffer.empty[String]

  def addInsertSql(sql: String): this.type = {
    require("""(?is)^\s*INSERT\s+INTO\b""".r.findFirstIn(sql).isDefined,
      s"StatementSet accepts INSERT INTO statements, got: ${sql.take(60)}")
    stmts += sql
    this
  }

  /** Source tables referenced by two or more buffered statements, resolved
    * from the PARSED logical plan (UnresolvedRelation leaves), not regex —
    * qualified/quoted identifiers, subquery aliases, and `EXTRACT(x FROM c)`
    * all resolve correctly. The INSERT target itself is excluded: caching a
    * sink would be wrong, and two INSERTs into one table share no scan.
    *
    * Parsing uses the stock Catalyst parser, NOT the session's injected
    * parser: the stock parser exposes an INSERT's source query, while the
    * session parser turns an INSERT into a connector sink into an opaque
    * command. A statement the stock parser can't parse (pure graft
    * dialect) contributes no tables — detection degrades to "no shared
    * scan", never to a wrong result. */
  private[sql] def sharedTables: Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    import org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
    val perStmt = stmts.toList.map { s =>
      scala.util.Try {
        // sources come from the INSERT's child query only — subtracting the
        // sink name from a whole-plan collect would also erase a genuine
        // source reference when a statement reads from the table it inserts
        // into, hiding a scan shared with another buffered statement
        val source = CatalystSqlParser.parsePlan(s) match {
          case ins: InsertIntoStatement => ins.query
          case other => other
        }
        source.collectWithSubqueries {
          case r: UnresolvedRelation => r.multipartIdentifier.last.toLowerCase
        }.toSet
      }.getOrElse(Set.empty[String])
    }
    perStmt.flatten.groupBy(identity)
      .collect { case (t, occ) if occ.size >= 2 => t }
      .toSeq.sorted
      .filter(t => spark.catalog.tableExists(t))
  }

  /** Runs every buffered INSERT (through the session's SQL front-end, so
    * connector sink targets route via [[ConnectorTables]]); source tables
    * shared by 2+ statements are cached around the batch. Returns the
    * shared-table set for inspection. */
  def execute(): Seq[String] = {
    require(stmts.nonEmpty, "StatementSet.execute: no statements added")
    val shared = sharedTables
    val cached = shared.map(spark.table)
    cached.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try stmts.foreach(spark.sql(_))
    finally cached.foreach(_.unpersist(blocking = false))
    shared
  }
}

object StatementSet {
  def create(spark: SparkSession): StatementSet = new StatementSet(spark)
}
