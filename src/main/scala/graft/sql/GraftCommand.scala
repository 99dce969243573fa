package graft.sql

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StringType

/** A DDL statement as a plan: the front-ends parse a statement into one of
  * these and `body` runs it when Spark executes the plan — eagerly, inside
  * `spark.sql`, like every native command — never while parsing. The body's
  * rows are the statement's result, typed by `output`. */
private[sql] case class GraftCommand(override val output: Seq[Attribute])(
    body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = body(spark)
  override protected def otherCopyArgs: Seq[AnyRef] = body :: Nil
}

private[sql] object GraftCommand {

  /** A statement that returns no rows. */
  def effect(body: SparkSession => Unit): GraftCommand =
    GraftCommand(Nil) { s => body(s); Nil }

  /** A statement whose result is the one string column of the frame `body`
    * builds. */
  def strings(column: String)(body: SparkSession => DataFrame): GraftCommand =
    GraftCommand(Seq(AttributeReference(column, StringType)()))(s => body(s).collect().toSeq)

  /** A native plan run as it is, then `after` — for a native statement whose
    * effect a graft registry follows. */
  def around(plan: LogicalPlan)(after: SparkSession => Unit): GraftCommand =
    GraftCommand(plan.output) { s =>
      val rows = GraftSqlBridge.ofRows(s, plan).collect().toSeq
      after(s)
      rows
    }
}
