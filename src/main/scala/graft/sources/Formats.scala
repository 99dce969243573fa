package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** File-format connectors (SURVEY.md §2.1): CSV, JSON, ORC (and Parquet as
  * the resident format) — the reference's flink-csv / flink-json / flink-orc
  * / flink-parquet row (de)serializers re-expressed as Spark's built-in
  * DataSource formats, which add schema inference, predicate pushdown
  * (ORC/Parquet), and vectorized reading on top.
  *
  * Avro (flink-formats/flink-avro) is exercised through [[AvroCodec]] — a
  * native record-level codec on the core avro library (the spark-avro
  * DataSource jar is not in this environment's /opt/spark/jars, but the
  * format itself is fully provable without it): `fmt_avro_roundtrip` pushes
  * every row through Avro binary encode → decode before aggregating.
  * Kafka (flink-connector-kafka) needs spark-sql-kafka — the mapping is
  * `readStream/writeStream.format("kafka")`, documented in SURVEY §2.1;
  * AvroCodec's binary `value` column is exactly that sink's input contract.
  *
  * Each query round-trips a table through the format under test (write to
  * the build dir, read back, aggregate) and must hash-match the oracle run
  * against the ORIGINAL parquet — proving the (de)serialization is
  * lossless for the exercised types. Timestamps ride through CSV as
  * ISO-8601 strings (Flink's CsvRowDataSerializationSchema does the same).
  */
object Formats {
  type QFn = (SparkSession, String) => DataFrame

  private def cacheDir(fmt: String, dir: String): String =
    s"target/format_cache/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/$fmt"

  /** Write `nation` + a lineitem slice through the format, read back. */
  private def roundTrip(s: SparkSession, dir: String, fmt: String,
                        options: Map[String, String] = Map.empty): DataFrame = {
    val path = cacheDir(fmt, dir)
    val src = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate").cast("string").as("l_shipdate"))
    src.write.mode("overwrite").options(options).format(fmt).save(path)
    s.read.options(options).format(fmt)
      .schema(src.schema) // fixed schema — no inference drift
      .load(path)
  }

  private def agged(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy(col("l_returnflag"))

  private val aggOracle =
    """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              CAST(max(l_shipdate) AS VARCHAR) AS max_ship
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Avro round-trip without any file: every row → Avro binary record →
    * back, in-pipeline (the Kafka value-bytes shape). */
  private def avroRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate").cast("string").as("l_shipdate"))
    AvroCodec.decodeRows(AvroCodec.encodeRows(src), src.schema)
  }

  // ---- CDC changelog formats (debezium/canal/maxwell JSON) ----

  /** Deterministic per-user changelog over the click events: first click
    * +I, every later click -U(prev)/+U(cur), and users with user_id%3==0
    * get a final -D — the update/delete mix every op branch needs.
    * Columns: (kind, user_id, ev_seq, val_cents). */
  private def clickChangelog(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.load(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100).cast("long").as("val_cents"))
      .select(col("user_id"),
        row_number().over(w).as("ev_seq"),
        count(lit(1)).over(Window.partitionBy("user_id")).as("cnt"),
        col("val_cents"),
        lag(col("val_cents"), 1).over(w).as("prev_cents"))
    def node(kind: String, seq: Column, cents: Column) =
      struct(lit(kind).as("kind"), col("user_id"), seq.as("ev_seq"), cents.as("val_cents"))
    val ops = concat(
      when(col("ev_seq") === 1, array(node("+I", col("ev_seq"), col("val_cents"))))
        .otherwise(array(
          node("-U", col("ev_seq") - 1, col("prev_cents")),
          node("+U", col("ev_seq"), col("val_cents")))),
      when(col("ev_seq") === col("cnt") && col("user_id") % 3 === 0,
        array(node("-D", col("ev_seq"), col("val_cents"))))
        .otherwise(array().cast("array<struct<kind:string,user_id:bigint,ev_seq:bigint,val_cents:bigint>>")))
    ev.select(explode(ops).as("e")).select(col("e.kind").as("kind"),
      col("e.user_id").as("user_id"), col("e.ev_seq").cast("long").as("ev_seq"),
      col("e.val_cents").as("val_cents"))
  }

  /** Order-independent changelog fold: a (user, seq, val) survives when its
    * insert/delete counts don't cancel — works under the formats' LOSSY
    * encoding (-U/+U pairs become d/c pairs), since every superseded or
    * deleted version nets to zero regardless of file read order. */
  private def foldSurvivors(changelog: DataFrame): DataFrame =
    changelog.groupBy("user_id", "ev_seq", "val_cents")
      .agg(sum(when(col("kind").isin("+I", "+U"), 1).otherwise(-1)).as("net"))
      .filter(col("net") > 0)
      .select("user_id", "ev_seq", "val_cents")
      .orderBy("user_id", "ev_seq")

  /** The surviving state the fold must reconstruct: each non-deleted user's
    * LAST click version. */
  private val lastClickOracle =
    """WITH c AS (SELECT user_id,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS ev_seq,
                         CAST(floor(value * 100) AS BIGINT) AS val_cents,
                         count(*) OVER (PARTITION BY user_id) AS cnt
                  FROM events WHERE event_type = 'click')
       SELECT user_id, CAST(ev_seq AS BIGINT) AS ev_seq, val_cents
       FROM c WHERE ev_seq = cnt AND user_id % 3 <> 0
       ORDER BY user_id, ev_seq"""

  /** debezium-json through the connector DDL: encode the changelog via
    * INSERT INTO a debezium sink table, decode it back through the table's
    * read path, fold to the surviving state. */
  private def debeziumCdc(s: SparkSession, dir: String): DataFrame = {
    val path = cacheDir("dbz_cdc", dir)
    graft.io.LocalFiles.delete(path)
    clickChangelog(s, dir).createOrReplaceTempView("dbz_changelog")
    s.sql(s"""CREATE TABLE dbz_sink (user_id BIGINT, ev_seq BIGINT, val_cents BIGINT)
              WITH ('connector' = 'filesystem', 'path' = '$path',
                    'format' = 'debezium-json')""")
    s.sql("INSERT INTO dbz_sink SELECT kind, user_id, ev_seq, val_cents FROM dbz_changelog")
    foldSurvivors(s.sql("SELECT kind, user_id, ev_seq, val_cents FROM dbz_sink"))
  }

  /** debezium-json READABLE METADATA (FLIP-107;
    * DebeziumJsonDecodingFormat.ReadableMetadata): raw messages carrying
    * ts_ms + source envelopes, read through a connector table whose DDL
    * declares METADATA columns; timestamps surface as epoch millis so the
    * oracle is integer-exact. */
  private def debeziumMetadata(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = cacheDir("dbz_meta", dir)
    graft.io.LocalFiles.delete(path)
    val rowSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("val_cents", LongType)))
    val baseMs = 1589355606000L // deterministic epoch base, integer-exact
    s.sql("""SELECT event_id, user_id, CAST(floor(value * 100) AS BIGINT) AS val_cents
             FROM events WHERE event_type = 'click'""")
      .select(to_json(struct(
        lit(null).cast(rowSchema).as("before"),
        struct(col("event_id"), col("user_id"), col("val_cents")).as("after"),
        lit("c").as("op"),
        (lit(baseMs) + col("event_id")).as("ts_ms"),
        map(lit("db"), lit("inventory"), lit("table"), lit("clicks"),
          lit("ts_ms"), (lit(baseMs) - 1000L + col("event_id")).cast("string"))
          .as("source"))).as("value"))
      .write.mode("overwrite").text(path)
    s.sql(s"""CREATE TABLE dbz_meta_t (
                event_id BIGINT, user_id BIGINT, val_cents BIGINT,
                origin_db STRING METADATA FROM 'source.database',
                origin_table STRING METADATA FROM 'source.table',
                ingest_ts TIMESTAMP METADATA FROM 'ingestion-timestamp',
                src_ts TIMESTAMP METADATA FROM 'source.timestamp'
              ) WITH ('connector' = 'filesystem', 'path' = '$path',
                      'format' = 'debezium-json')""")
    s.sql("""SELECT event_id, user_id, val_cents, origin_db, origin_table,
                    unix_millis(ingest_ts) AS ingest_ms,
                    unix_millis(src_ts) AS src_ms
             FROM dbz_meta_t ORDER BY event_id""")
  }

  private val debeziumMetadataOracle =
    """SELECT event_id, user_id, CAST(floor(value * 100) AS BIGINT) AS val_cents,
              'inventory' AS origin_db, 'clicks' AS origin_table,
              1589355606000 + event_id AS ingest_ms,
              1589355605000 + event_id AS src_ms
       FROM events WHERE event_type = 'click' ORDER BY event_id"""

  /** canal-json decode with BATCHED data arrays and the database filter:
    * one INSERT message per user carrying all their versions, one batched
    * DELETE for user_id%3==0, plus poisoned messages under another
    * database name that the filter must drop. */
  private def canalCdc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rowSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ev_seq", LongType),
      StructField("val_cents", LongType)))
    val versions = clickChangelog(s, dir)
      .filter(col("kind").isin("+I", "+U"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("user_id"), col("ev_seq"), col("val_cents"))))
        .as("rows"))
    def msg(ty: String, db: String, rows: Column) = to_json(struct(
      rows.as("data"),
      lit(null).cast(ArrayType(rowSchema)).as("old"),
      lit(ty).as("type"), lit(db).as("database")))
    val inserts = versions.select(msg("INSERT", "inv", col("rows")).as("value"))
    val deletes = versions.filter(col("user_id") % 3 === 0)
      .select(msg("DELETE", "inv", col("rows")).as("value"))
    // same shape, wrong database — values poisoned so a filter miss is loud
    val noise = versions.filter(col("user_id") % 5 === 0)
      .select(msg("INSERT", "other",
        transform(col("rows"), r => struct(r.getField("user_id").as("user_id"),
          r.getField("ev_seq").as("ev_seq"),
          (r.getField("val_cents") + 999999).as("val_cents")))).as("value"))
    val decoded = CdcFormats.canalJson(inserts.union(deletes).union(noise),
      "value", rowSchema, database = Some("inv"))
    foldSurvivors(decoded)
  }

  /** maxwell-json encode → decode round trip of the same changelog. */
  private def maxwellCdc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rowSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ev_seq", LongType),
      StructField("val_cents", LongType)))
    val encoded = CdcFormats.toMaxwellJson(clickChangelog(s, dir))
    foldSurvivors(CdcFormats.maxwellJson(encoded, "value", rowSchema))
  }

  /** Canal's batched INSERTs keep every version of surviving users. */
  private val allClicksOracle =
    """SELECT user_id,
              CAST(row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT) AS ev_seq,
              CAST(floor(value * 100) AS BIGINT) AS val_cents
       FROM events WHERE event_type = 'click' AND user_id % 3 <> 0
       ORDER BY user_id, ev_seq"""

  def queries: Map[String, QFn] = Map(
    "fmt_csv_roundtrip" -> ((s, d) =>
      agged(roundTrip(s, d, "csv", Map("header" -> "true")))),
    "fmt_json_roundtrip" -> ((s, d) => agged(roundTrip(s, d, "json"))),
    "fmt_orc_roundtrip" -> ((s, d) => agged(roundTrip(s, d, "orc"))),
    "fmt_avro_roundtrip" -> ((s, d) => agged(avroRoundTrip(s, d))),
    "fmt_debezium_cdc" -> ((s, d) => { Tables.registerAll(s, d); debeziumCdc(s, d) }),
    "fmt_debezium_metadata" -> ((s, d) => { Tables.registerAll(s, d); debeziumMetadata(s, d) }),
    "fmt_canal_cdc" -> ((s, d) => { Tables.registerAll(s, d); canalCdc(s, d) }),
    "fmt_maxwell_cdc" -> ((s, d) => { Tables.registerAll(s, d); maxwellCdc(s, d) })
  )

  def oracles: Map[String, String] = Map(
    "fmt_csv_roundtrip" -> aggOracle,
    "fmt_json_roundtrip" -> aggOracle,
    "fmt_orc_roundtrip" -> aggOracle,
    "fmt_avro_roundtrip" -> aggOracle,
    "fmt_debezium_cdc" -> lastClickOracle,
    "fmt_debezium_metadata" -> debeziumMetadataOracle,
    "fmt_canal_cdc" -> allClicksOracle,
    "fmt_maxwell_cdc" -> lastClickOracle
  )
}
