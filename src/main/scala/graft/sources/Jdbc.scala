package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** JDBC connector — flink-connectors/flink-connector-jdbc
  * (table/JdbcDynamicTableSource.java scan + predicate-era lookup,
  * table/JdbcDynamicTableSink.java buffered upsert writes,
  * dialect/DerbyDialect.java): relational-database tables as sources and
  * sinks.
  *
  * Spark's native JDBC source/sink covers the surface: `write.jdbc`
  * creates-and-loads the table, `read.jdbc` scans with predicate and
  * projection pushdown into the database's SQL. The demo runs against an
  * EMBEDDED Derby instance — in-process and offline, the exact engine the
  * reference's own JDBC dialect list and ITCases use (DerbyDialect.java,
  * DerbyDbMetadata.java) — so the row is executable here, unlike the
  * network-service connectors (HBase/ES) whose jars are unobtainable in
  * this sandbox.
  *
  * At scale the dim table lives in the RDBMS and the fact scan stays on
  * the lake: exactly this plan — the JDBC side is a bounded dimension
  * read broadcast onto the fact ([[jdbcDimJoin]]), and a LARGER relational
  * extract parallelizes across executors with `partitionColumn` range
  * splits ([[jdbcParallelRead]] — JdbcDynamicTableSource's scan options
  * scan.partition.column/num/lower-bound/upper-bound), so the database is
  * read by N concurrent range queries instead of one cursor.
  */
object Jdbc {
  type QFn = (SparkSession, String) => DataFrame

  /** Embedded Derby allows one booting JVM per database, so every Derby db
    * path is per-JVM-unique (same discipline as GraftSession's metastore:
    * two JVMs running the same query at the same data dir must not race a
    * shared `dbex.lck`). Stale dims from dead JVMs are purged on first
    * use. */
  private val jvmTag = java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  /** One purge per JVM (ADVICE r10: the old per-call walk also re-ran on
    * every dbUrl). A db dir is purged only when its top-level mtime is past
    * the cutoff AND its `db.lck` is ABSENT — Derby sets db.lck's mtime once
    * at boot and never refreshes it (ADVICE r11), so a present lock file is
    * treated as live regardless of age: a >2h JVM that hasn't re-called
    * dbUrl must not have its booted database pulled out from under it.
    * Dead-JVM wreckage that kept its db.lck is therefore retained (these
    * dim databases are KB-scale; disk is bounded), while clean-shutdown
    * leftovers (Derby removes db.lck on orderly shutdown) purge normally.
    * Our own dirs (jvmTag suffix) are never candidates, and [[dbUrl]]
    * re-touches them on every use. */
  private lazy val purgeStale: Unit = {
    val root = new java.io.File("target/derby")
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    Option(root.listFiles()).foreach(_.foreach { f =>
      val lck = new java.io.File(f, "db.lck")
      if (!f.getName.endsWith(s"_$jvmTag") && f.lastModified() < cutoff &&
          !lck.exists())
        graft.io.LocalFiles.delete(f)
    })
  }

  private def dbUrl(name: String, dir: String): String = {
    purgeStale
    val token = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val path = s"target/derby/${name}_${token}_$jvmTag"
    // keep a long-lived JVM's db visibly fresh (dir mtime is the other
    // JVMs' first-line liveness signal)
    val d = new java.io.File(path)
    if (d.exists()) { d.setLastModified(System.currentTimeMillis()): Unit }
    s"jdbc:derby:$path;create=true"
  }

  /** Derby uppercases unquoted identifiers; fold the read-back schema to
    * the lake's lowercase convention. */
  private def lowered(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  private def jdbcDimJoin(s: SparkSession, dir: String): DataFrame = {
    val url = dbUrl("dim", dir)
    // sink: publish the dimension into the database
    Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite")
      .format("jdbc").option("url", url).option("dbtable", "nation").save()
    // source: scan it back — the filter pushes into Derby's SQL
    val dim = lowered(s.read.format("jdbc")
        .option("url", url).option("dbtable", "nation").load())
      .filter(col("n_regionkey") < 3)
    // the deployment plan: bounded JDBC dim broadcast onto the lake fact
    Tables.load(s, dir, "customer")
      .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_nationkey"))
  }

  /** How many range partitions the parallel extract uses — asserted >1 by
    * JdbcSpec (the scan must actually fan out, not just narrate it). */
  val ParallelPartitions = 4

  /** The parallel-extraction shape: a larger relational table read with
    * `partitionColumn` range splits — Spark issues [[ParallelPartitions]]
    * concurrent `WHERE key >= lo AND key < hi` queries, one per executor
    * task, the exact analogue of the reference's scan.partition.* options.
    * A 10% orders slice stands in for the "operational extract" so the
    * JDBC load stays proportionate at every gate SF. */
  def parallelOrdersScan(s: SparkSession, dir: String): DataFrame = {
    val url = dbUrl("ext", dir)
    val slice = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    slice.write.mode("overwrite")
      .format("jdbc").option("url", url).option("dbtable", "orders_ext").save()
    val hi = slice.agg(max(col("o_orderkey"))).head.getLong(0)
    lowered(s.read.format("jdbc")
      .option("url", url).option("dbtable", "orders_ext")
      .option("partitionColumn", "o_orderkey")
      .option("lowerBound", "0").option("upperBound", (hi + 1).toString)
      .option("numPartitions", ParallelPartitions.toString)
      .load())
  }

  private def jdbcParallelRead(s: SparkSession, dir: String): DataFrame =
    parallelOrdersScan(s, dir)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents_total"))
      .orderBy(col("status"))

  def queries: Map[String, QFn] = Map(
    "jdbc_dim_join" -> (jdbcDimJoin _),
    "jdbc_parallel_read" -> (jdbcParallelRead _)
  )

  def oracles: Map[String, String] = Map(
    "jdbc_dim_join" ->
      """SELECT n_nationkey, n_name, count(*) AS n_customers
         FROM nation JOIN customer ON c_nationkey = n_nationkey
         WHERE n_regionkey < 3
         GROUP BY n_nationkey, n_name ORDER BY n_nationkey""",
    "jdbc_parallel_read" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents_total
         FROM orders WHERE o_orderkey % 10 = 0
         GROUP BY o_orderstatus ORDER BY status"""
  )
}
