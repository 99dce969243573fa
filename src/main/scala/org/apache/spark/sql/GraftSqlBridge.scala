package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors needed to surface a
  * custom logical operator as a DataFrame — the same doorway Spark
  * extension libraries use. Nothing else in the codebase lives outside
  * the `graft` package. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Unload every loaded state-store provider and stop the maintenance
    * task, closing each provider's RocksDB instance (joining its native
    * background work) while the JVM can still service JNI attach calls.
    * `SparkSession.stop()` alone leaves cached providers loaded; their
    * RocksDB background compactions then race JVM teardown inside
    * rocksdbjni's LoggerJniCallback (SIGSEGV — see BASELINE.md round-11
    * incident note). Call before `spark.stop()` in every main. */
  def stopStateStores(): Unit =
    execution.streaming.state.StateStore.stop()

  /** Run [[stopStateStores]] at JVM exit through Spark's own shutdown-hook
    * manager, which runs its hooks one at a time by priority: this one
    * before the SparkContext stops (`SPARK_CONTEXT_SHUTDOWN_PRIORITY`) and
    * so before Spark deletes its local dirs (`TEMP_DIR_SHUTDOWN_PRIORITY`).
    * A plain `Runtime` hook would run concurrently with both, and RocksDB
    * would then close stores whose working dirs are already gone. */
  def stopStateStoresOnShutdown(): Unit = {
    val _ = org.apache.spark.util.ShutdownHookManager.addShutdownHook(
      org.apache.spark.util.ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY + 1) { () =>
      try stopStateStores() catch { case _: Throwable => () }
    }
  }
}
