package graft.sql

import graft.SparkSpec

/** Sink-table DDL + INSERT INTO dispatch: connector targets write through
  * the filesystem sink, everything else must fall through to Spark's own
  * INSERT planning untouched. */
class ConnectorTablesSpec extends SparkSpec {

  test("connector sink: CREATE TABLE WITH + INSERT INTO + read-back") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString
    spark.sql(s"""CREATE TABLE sink_t (a BIGINT, b STRING)
                  WITH ('connector' = 'filesystem', 'path' = '$dir/t',
                        'format' = 'parquet')""")
    spark.sql("INSERT INTO sink_t SELECT id AS a, CAST(id AS STRING) AS b FROM range(3)")
    val rows = spark.sql("SELECT a, b FROM sink_t ORDER BY a").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // append semantics: a second insert adds rows
    spark.sql("INSERT INTO sink_t SELECT id + 10 AS a, 'x' AS b FROM range(2)")
    assert(spark.sql("SELECT count(*) AS n FROM sink_t").head.getLong(0) == 5L)
  }

  test("INSERT INTO a parquet connector table stores the declared column types") {
    val dir = java.nio.file.Files.createTempDirectory("sink_types").toString
    spark.sql(s"""CREATE TABLE sink_typed (a BIGINT, b DOUBLE)
                  WITH ('connector' = 'filesystem', 'path' = '$dir/t',
                        'format' = 'parquet')""")
    // the query yields INT and DECIMAL columns, named out of declared order
    spark.sql("INSERT INTO sink_typed SELECT 2.5 AS b, 1 AS a")
    val row = spark.sql("SELECT a, b FROM sink_typed").head
    assert(row.getLong(0) == 1L && row.getDouble(1) == 2.5)
  }

  test("INSERT INTO a non-connector target falls through to Spark") {
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    spark.sql(s"CREATE TABLE native_t (a INT) USING parquet LOCATION '$wh/native_t'")
    try {
      spark.sql("INSERT INTO native_t VALUES (7), (8)")
      assert(spark.sql("SELECT sum(a) AS s FROM native_t").head.getLong(0) == 15L)
    } finally spark.sql("DROP TABLE native_t")
  }
}
