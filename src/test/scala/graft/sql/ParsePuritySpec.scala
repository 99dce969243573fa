package graft.sql

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Parsing a statement runs nothing. For every DDL kind the front-ends own,
  * `sqlParser.parsePlan` twice leaves the graft registries (connector
  * tables, catalogs, function bookkeeping, view lineage, watermarks), the
  * session's functions and temp views, and the sink directory's files as
  * they were; `spark.sql` once then makes the statement's effect happen,
  * exactly once. */
class ParsePuritySpec extends SparkSpec {

  private lazy val root: Path = Files.createTempDirectory("parse_purity")

  private def parser = spark.sessionState.sqlParser

  /** A front-end registry, read by reflection (the registries are private
    * to their front-ends) and copied into immutable values. */
  private def registry(owner: AnyRef, name: String): Any = {
    val f = owner.getClass.getDeclaredFields
      .find(f => f.getName == name || f.getName.endsWith("$$" + name))
      .getOrElse(fail(s"${owner.getClass.getSimpleName} has no registry '$name'"))
    f.setAccessible(true)
    def copy(v: Any): Any = v match {
      case c: CatalogDdl.Cat => (c, c.databases.toList)
      case other => other
    }
    f.get(owner) match {
      case m: java.util.Map[_, _] => m.asScala.toMap.map { case (k, v) => k -> copy(v) }
      case m: scala.collection.Map[_, _] => m.toMap.map { case (k, v) => k -> copy(v) }
      case other => other
    }
  }

  private def snapshot(): Map[String, Any] = Map(
    "connector tables" -> registry(ConnectorTables, "tables"),
    "connector mounts" -> registry(ConnectorTables, "mounted"),
    "catalogs" -> registry(CatalogDdl, "catalogs"),
    "current DDL catalog" -> registry(CatalogDdl, "current"),
    "function bookkeeping" -> registry(FunctionDdl, "registered"),
    "view lineage" -> registry(SystemTimeJoin, "viewBase"),
    "watermarks" -> registry(SystemTimeJoin, "timeAttributes"),
    "functions" -> spark.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet,
    "temp views" -> spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet,
    "current catalog" -> spark.catalog.currentCatalog(),
    "sink files" -> Files.walk(root).iterator().asScala.map(root.relativize(_).toString).toSet)

  private def changed(a: Map[String, Any], b: Map[String, Any]): Seq[String] =
    a.keys.filter(k => a(k) != b(k)).toSeq.sorted

  /** Parse `sql` twice and assert nothing changed; then run it once and
    * assert its effect showed up somewhere. Returns what the run changed. */
  private def parseTwiceThenRun(sql: String, effect: Boolean = true): Seq[String] = {
    val before = snapshot()
    parser.parsePlan(sql)
    parser.parsePlan(sql)
    val parsed = snapshot()
    assert(changed(before, parsed).isEmpty,
      s"parsing changed ${changed(before, parsed).mkString(", ")}: $sql")
    spark.sql(sql).collect()
    val ran = changed(parsed, snapshot())
    if (effect) assert(ran.nonEmpty, s"running changed nothing: $sql")
    ran
  }

  private def connectorDdl(name: String, cols: String, dir: String, extra: String = ""): String =
    s"""CREATE TABLE $name ($cols) $extra
        WITH ('connector' = 'filesystem', 'path' = '$root/$dir', 'format' = 'parquet')"""

  test("connector and watermark CREATE TABLE register only when run") {
    val s = spark
    import s.implicits._
    assert(parseTwiceThenRun(connectorDdl("pp_sink", "a BIGINT, b STRING", "pp_sink"))
      == Seq("connector tables"))
    assert(ConnectorTables.lookup(spark, "pp_sink").isDefined)

    Seq((1L, new java.sql.Timestamp(5000L))).toDF("id", "ts")
      .write.mode("overwrite").parquet(s"$root/pp_wm")
    parseTwiceThenRun(connectorDdl("pp_wm",
      "id BIGINT, ts TIMESTAMP(3), WATERMARK FOR ts AS ts - INTERVAL '5' SECOND", "pp_wm"))
    assert(SystemTimeJoin.watermarkOf("pp_wm").contains(("ts", "5 seconds")))
    assert(spark.sql("SELECT count(*) FROM pp_wm").head.getLong(0) == 1L)
  }

  test("INSERT into a connector table writes its rows once, when run") {
    spark.sql(connectorDdl("pp_ins", "a BIGINT", "pp_ins"))
    assert(parseTwiceThenRun("INSERT INTO pp_ins SELECT 1L AS a").contains("sink files"))
    assert(spark.sql("SELECT a FROM pp_ins").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("ALTER TABLE SET / ADD CONSTRAINT / RENAME and DROP TABLE change the registry only when run") {
    spark.sql(connectorDdl("pp_alt", "id BIGINT NOT NULL, v STRING", "pp_alt1"))
    parseTwiceThenRun(s"ALTER TABLE pp_alt SET ('path' = '$root/pp_alt2')")
    assert(ConnectorTables.lookup(spark, "pp_alt").get.path == s"$root/pp_alt2")
    parseTwiceThenRun("ALTER TABLE pp_alt ADD PRIMARY KEY (id) NOT ENFORCED")
    assert(ConnectorTables.lookup(spark, "pp_alt").get.pk.contains(("PK_id", Seq("id"))))
    parseTwiceThenRun("ALTER TABLE pp_alt RENAME TO pp_alt_dst")
    assert(ConnectorTables.lookup(spark, "pp_alt").isEmpty &&
      ConnectorTables.lookup(spark, "pp_alt_dst").isDefined)
    parseTwiceThenRun("DROP TABLE pp_alt_dst")
    assert(ConnectorTables.lookup(spark, "pp_alt_dst").isEmpty)
  }

  test("CREATE / ALTER / DROP FUNCTION change the function registry only when run") {
    val s = spark
    import s.implicits._
    Seq("banana").toDF("w").createOrReplaceTempView("pp_words")
    def fn(): Int = spark.sql("SELECT pp_fn(w) FROM pp_words").head.getInt(0)
    parseTwiceThenRun("CREATE FUNCTION pp_fn AS 'graft.functions.VowelCountFn'")
    assert(fn() == 3)
    parseTwiceThenRun("ALTER FUNCTION pp_fn AS 'graft.functions.LetterCountFn'")
    assert(fn() == 6)
    parseTwiceThenRun("DROP TEMPORARY FUNCTION pp_fn")
    assert(!spark.catalog.functionExists("pp_fn"))
    val e = intercept[Exception](spark.sql("ALTER FUNCTION pp_fn AS 'graft.functions.VowelCountFn'"))
    assert(e.getMessage.contains("Function pp_fn does not exist."))
  }

  test("CREATE VIEW records its lineage only when run") {
    val s = spark
    import s.implicits._
    Seq((1L, new java.sql.Timestamp(0L))).toDF("k", "ts").createOrReplaceTempView("pp_base")
    assert(parseTwiceThenRun("CREATE OR REPLACE TEMPORARY VIEW pp_view AS SELECT k, ts FROM pp_base")
      == Seq("temp views", "view lineage"))
  }

  test("SHOW PARTITIONS / DATABASES / TABLES and DESCRIBE change nothing") {
    spark.sql(connectorDdl("pp_part", "n BIGINT, p STRING", "pp_part", "PARTITIONED BY (p)"))
    spark.sql("INSERT INTO pp_part SELECT 1L AS n, 'x' AS p")
    Seq("SHOW PARTITIONS pp_part", "SHOW DATABASES", "SHOW TABLES", "DESCRIBE pp_part")
      .foreach(sql => assert(parseTwiceThenRun(sql, effect = false).isEmpty, sql))
    assert(spark.sql("SHOW PARTITIONS pp_part").collect().map(_.getString(0)).toSeq == Seq("p=x"))
  }

  test("CREATE / USE / DROP CATALOG change the catalog registry only when run") {
    val create = "CREATE CATALOG pp_cat WITH ('type' = 'generic_in_memory')"
    try {
      parseTwiceThenRun(create)
      assert(CatalogDdl.isRegistered(spark, "pp_cat"))
      val e = intercept[IllegalArgumentException](spark.sql(create))
      assert(e.getMessage == "Catalog pp_cat already exists.")
      parseTwiceThenRun("USE CATALOG pp_cat")
      assert(CatalogDdl.currentNamespace(spark).contains(("pp_cat", "default")))
      parseTwiceThenRun("USE CATALOG spark_catalog")
      assert(CatalogDdl.currentNamespace(spark).isEmpty)
      parseTwiceThenRun("DROP CATALOG pp_cat")
      assert(!CatalogDdl.isRegistered(spark, "pp_cat"))
    } finally {
      spark.sql("USE CATALOG spark_catalog")
      spark.sql("DROP CATALOG IF EXISTS pp_cat")
    }
  }

  test("the query front-ends register no temp view, parsing or running") {
    val s = spark
    import s.implicits._
    Seq((1L, new java.sql.Timestamp(1000L), "signup"), (1L, new java.sql.Timestamp(2000L), "purchase"))
      .toDF("user_id", "ts", "event_type").createOrReplaceTempView("pp_events")
    Seq((1L, new java.sql.Timestamp(10000L), 100L)).toDF("ok", "ots", "oid")
      .createOrReplaceTempView("pp_orders")
    Seq((1L, new java.sql.Timestamp(5000L), 1.0)).toDF("rk", "rts", "rate")
      .createOrReplaceTempView("pp_rates")
    SystemTimeJoin.declareWatermark("pp_rates", "rts")
    TemporalTableFunctions.registerFunction("pp_Rates",
      TemporalTableFunctions.createTemporalTableFunction(spark.table("pp_rates"), "rts", "rk"))
    Seq(1L, 2L).toDF("a").write.mode("overwrite").parquet(s"$root/pp_hinted")
    spark.sql(connectorDdl("pp_hinted", "a BIGINT", "pp_hinted"))
    val statements = Seq(
      """SELECT user_id, start_ts FROM pp_events MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY ts ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW PATTERN (A B)
           DEFINE A AS event_type = 'signup', B AS event_type = 'purchase')""",
      """WITH j AS (
           SELECT oid, rate FROM (SELECT ok, ots, oid FROM pp_orders) o
           JOIN pp_rates FOR SYSTEM_TIME AS OF ots ON ok = rk)
         SELECT oid, rate FROM j""",
      """SELECT o.oid, r.rate FROM pp_orders AS o, LATERAL TABLE (pp_Rates(o.ots)) AS r
         WHERE r.rk = o.ok""",
      "SELECT a FROM pp_hinted /*+ OPTIONS('k' = 'v') */ WHERE a > 1")
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    spark.conf.set(OptionsHint.ConfKey, "true")
    try statements.foreach { sql =>
      val before = views
      def changed = (views diff before) ++ (before diff views)
      parser.parsePlan(sql)
      parser.parsePlan(sql)
      assert(changed.isEmpty, s"parsing changed temp views: $sql")
      Seq.fill(2)(assert(spark.sql(sql).collect().length == 1, sql))
      assert(changed.isEmpty, s"running changed temp views: $sql")
    } finally spark.conf.unset(OptionsHint.ConfKey)
  }
}
