package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** DataFrame-level surface for the custom as-of join operator. */
object AsOf {

  /** Join each left row with the latest right row of the same key whose
    * `rightTime` is ≤ (or < when `strict`) the left row's `leftTime`.
    * Unmatched left rows keep null right columns (`inner = false`, the
    * reference's `LEFT JOIN ... FOR SYSTEM_TIME`) or are dropped
    * (`inner = true`, the plain-`JOIN` form — TemporalJoinITCase.scala:500
    * vs :344). */
  def join(left: DataFrame, right: DataFrame,
           leftKey: Column, rightKey: Column,
           leftTime: Column, rightTime: Column,
           strict: Boolean = false, inner: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    GraftSqlBridge.ofRows(spark, AsOfJoin(
      GraftSqlBridge.logicalPlan(left), GraftSqlBridge.logicalPlan(right),
      GraftSqlBridge.expression(leftKey), GraftSqlBridge.expression(rightKey),
      GraftSqlBridge.expression(leftTime), GraftSqlBridge.expression(rightTime),
      strict, inner))
  }

  /** Multi-key variant: the key lists compose into one resolved
    * CreateStruct expression per side (the operator clusters/orders on the
    * key expression generically, so a struct key needs no operator change;
    * `functions.struct` would reach the operator UNRESOLVED through the
    * Column bridge, hence the catalyst-level construction here). */
  def joinMulti(left: DataFrame, right: DataFrame,
                leftKeys: Seq[Column], rightKeys: Seq[Column],
                leftTime: Column, rightTime: Column,
                strict: Boolean = false, inner: Boolean = false): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "as-of join needs matching non-empty key lists")
    val spark = left.sparkSession
    import org.apache.spark.sql.catalyst.expressions.CreateStruct
    def key(cols: Seq[Column]) =
      if (cols.size == 1) GraftSqlBridge.expression(cols.head)
      else CreateStruct(cols.map(GraftSqlBridge.expression))
    GraftSqlBridge.ofRows(spark, AsOfJoin(
      GraftSqlBridge.logicalPlan(left), GraftSqlBridge.logicalPlan(right),
      key(leftKeys), key(rightKeys),
      GraftSqlBridge.expression(leftTime), GraftSqlBridge.expression(rightTime),
      strict, inner))
  }

  /** The temporal join of `probe` against the versions in `versioned`, on
    * the key equalities `pairs` (probe column, versioned column) — the one
    * kernel of FOR SYSTEM_TIME AS OF and the temporal table functions. With
    * `probeTime`, each probe row takes the version valid at that time
    * ([[joinMulti]]). Without, it takes its key's latest version: the
    * bounded degeneration of the processing-time join
    * (TemporalProcessTimeJoinOperator.java:48) — by query time every
    * version has "arrived", so the latest is the max over `versionTime`,
    * ties broken on the remaining columns so keep-last is reproducible.
    * Probe rows without a version are null-padded (`outer`) or dropped. */
  def temporalJoin(probe: DataFrame, versioned: DataFrame, pairs: Seq[(String, String)],
                   probeTime: Option[String], versionTime: String, outer: Boolean): DataFrame =
    probeTime match {
      case Some(t) =>
        joinMulti(probe, versioned, pairs.map(p => probe(p._1)), pairs.map(p => versioned(p._2)),
          probe(t), versioned(versionTime), inner = !outer)
      case None =>
        val ord = (versionTime +: versioned.columns.filterNot(_ == versionTime).toSeq)
          .map(c => col(c).desc)
        val latest = versioned
          .withColumn("__v", row_number().over(
            Window.partitionBy(pairs.map(p => col(p._2)): _*).orderBy(ord: _*)))
          .filter(col("__v") === 1).drop("__v")
        probe.join(latest, pairs.map(p => probe(p._1) === latest(p._2)).reduce(_ && _),
          if (outer) "left" else "inner")
    }

  /** Oracle-checked query: the TimeOps as-of join re-planned through the
    * custom operator — same semantics (strictly-preceding click per
    * purchase), same oracle, linear merge instead of pair-join+ROW_NUMBER. */
  def qAsofCustom(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    join(p, c, p("u"), c("cu"), p("p_ts"), c("c_ts"), strict = true)
      .select(col("u"), col("p_id"), col("c_id").as("asof_click_id"),
        col("c_ts").as("asof_click_ts"))
      .orderBy(col("u"), col("p_id"))
  }

  type QFn = (SparkSession, String) => DataFrame
  def queries: Map[String, QFn] = Map("asof_custom" -> (qAsofCustom _))
  def oracles: Map[String, String] = Map(
    "asof_custom" -> graft.operators.TimeOps.oracles("time_asof_join"))
}
