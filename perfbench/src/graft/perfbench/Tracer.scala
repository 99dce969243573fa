package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of a traced row: row > phase (build/parse/plan/exec) > job >
  * stage. Times are epoch milliseconds. `selfMs` is the span's duration
  * minus the part its children cover; children are clipped to the parent
  * and overlapping siblings to each other, so the self times of a row's
  * spans add up to the row's wall time. */
final case class Span(id: Int, parent: Int, row: Int, name: String,
                      layer: String, start: Double, end: Double, var selfMs: Double = 0)

/** Traced-pass instrumentation: listener callbacks count only while
  * `enabled`. Rows run one at a time, so every job, task, streaming
  * progress and query execution observed between [[beginRow]] and
  * [[endRow]] belongs to that row; the phase a job was submitted in rides
  * on the job as the local property [[PhaseKey]]. */
final class Tracer {
  import Tracer._

  @volatile var enabled = false
  @volatile private var parsing = false

  private final case class Job(id: Int, phase: Option[String], start: Long, var end: Long)
  private final class Stage(val id: Int, val job: Int) {
    var start, end = 0L
    var tasks, empty = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stateByQuery = mutable.Map.empty[java.util.UUID, (Long, Long)]
  private var parseNs = 0L
  private var writeQe: Option[QueryExecution] = None
  val spans = mutable.ArrayBuffer.empty[Span]

  private def add(k: String, v: Double): Unit = counts(k) += v

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      jobs(e.jobId) = Job(e.jobId, Option(e.properties).flatMap(p =>
        Option(p.getProperty(PhaseKey))), e.time, e.time)
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(s, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) synchronized {
        stages.get(e.stageInfo.stageId).foreach { s =>
          s.start = e.stageInfo.submissionTime.getOrElse(0L)
          s.end = e.stageInfo.completionTime.getOrElse(s.start)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
      stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          val out = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
          if (in == 0 && out == 0) s.empty += 1
          add("operators.executor_cpu_ms", m.executorCpuTime / 1e6)
          add("operators.executor_run_ms", m.executorRunTime.toDouble)
          add("operators.gc_ms", m.jvmGCTime.toDouble)
          add("operators.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("operators.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("operators.spill_bytes", m.diskBytesSpilled.toDouble)
        }
      }
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (enabled) synchronized(add("streaming.queries", 1))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("streaming.batches", 1)
        if (p.numInputRows == 0) add("streaming.empty_batches", 1)
        add("streaming.trigger_ms", d("triggerExecution"))
        add("streaming.addbatch_ms", d("addBatch"))
        add("streaming.commit_ms", d("walCommit") + d("commitOffsets"))
        p.stateOperators.foreach { so =>
          add("streaming.state_commit_ms", so.commitTimeMs.toDouble)
          add("streaming.late_rows_dropped", so.numRowsDroppedByWatermark.toDouble)
        }
        // state size is a level, not a flow: keep each query's latest
        stateByQuery(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (enabled && isNoopWrite(qe)) synchronized { writeQe = Some(qe) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Wraps the session's parser so traced TPC-DS rows can time parsing. */
  def parser(delegate: ParserInterface): ParserInterface = new ParserInterface {
    private def timed[T](f: => T): T =
      if (!parsing) f
      else {
        val t0 = System.nanoTime()
        try f finally synchronized(parseNs += System.nanoTime() - t0)
      }
    override def parsePlan(s: String) = timed(delegate.parsePlan(s))
    override def parsePlanWithParameters(s: String, p: ParameterContext) =
      timed(delegate.parsePlanWithParameters(s, p))
    override def parseExpression(s: String) = delegate.parseExpression(s)
    override def parseTableIdentifier(s: String) = delegate.parseTableIdentifier(s)
    override def parseFunctionIdentifier(s: String) = delegate.parseFunctionIdentifier(s)
    override def parseMultipartIdentifier(s: String) = delegate.parseMultipartIdentifier(s)
    override def parseQuery(s: String) = delegate.parseQuery(s)
    override def parseRoutineParam(s: String) = delegate.parseRoutineParam(s)
    override def parseTableSchema(s: String) = delegate.parseTableSchema(s)
    override def parseDataType(s: String) = delegate.parseDataType(s)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
    spark.listenerManager.register(executionListener)
  }

  /** Start counting for one row; `timeParse` for rows whose constructor
    * parses a read-only SQL text (parsing a DDL text runs the statement). */
  def beginRow(timeParse: Boolean): Unit = synchronized {
    jobs.clear(); stages.clear(); counts.clear(); stateByQuery.clear()
    parseNs = 0L; writeQe = None
    parsing = timeParse
  }

  /** Close a traced row: wait for its listener events, build its spans and
    * return its per-layer numbers. Phase bounds are epoch ms: the row ran
    * [t0, t1] and its constructor returned at tb. */
  def endRow(spark: SparkSession, rowId: Int, layer: String,
             t0: Double, tb: Double, t1: Double): Map[String, Double] = {
    parsing = false
    PerfbenchBridge.drainListeners(spark.sparkContext)
    synchronized {
      val parseMs = parseNs / 1e6
      val planMs = writeQe.map { qe =>
        val ph = qe.tracker.phases
        Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
          .flatMap(ph.get).map(_.durationMs.toDouble).sum
      }.getOrElse(0.0).min(t1 - tb)
      val execLayer = if (layer == "pipeline") "pipeline" else "operators"
      def mk(parent: Int, name: String, l: String, s: Double, e: Double): Span = {
        val sp = Span(spans.size, parent, rowId, name, l, s, e); spans += sp; sp
      }
      val row = mk(-1, "row", "harness", t0, t1)
      val build = mk(row.id, "build", layer, t0, tb)
      val plan = mk(row.id, "plan", "operators", tb, tb + planMs)
      val exec = mk(row.id, "exec", execLayer, tb + planMs, t1)
      if (parseMs > 0) mk(build.id, "parse", "sql", t0, (t0 + parseMs).min(tb))
      def inBuild(j: Job) = j.phase.map(_ == "build").getOrElse(j.start < tb)
      jobs.values.toSeq.sortBy(_.start).foreach { j =>
        val p = if (inBuild(j)) build else exec
        val js = mk(p.id, s"job ${j.id}", p.layer, j.start.toDouble, j.end.toDouble)
        stages.values.filter(_.job == j.id).toSeq.sortBy(_.start).foreach { s =>
          mk(js.id, s"stage ${s.id}", p.layer, s.start.toDouble, s.end.toDouble)
        }
      }
      selfTimes(row)

      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      m ++= counts
      m(s"$layer.build_ms") += tb - t0 - parseMs
      m(s"$layer.build_jobs") += jobs.values.count(inBuild)
      if (parseMs > 0) m("sql.parse_ms") += parseMs
      m("operators.plan_ms") += planMs
      m(s"$execLayer.exec_ms") += t1 - tb - planMs
      m("operators.driver_ms") += exec.selfMs
      m("operators.jobs") += jobs.size
      val ran = stages.values.filter(_.tasks > 0).toSeq
      m("operators.stages") += ran.size
      m("operators.tasks") += ran.map(_.tasks).sum
      m("operators.empty_tasks") += ran.map(_.empty).sum
      if (ran.nonEmpty) {
        val slow = ran.maxBy(s => s.end - s.start).taskMs.sorted
        m("operators.task_skew") = slow.last / math.max(1.0, slow(slow.size / 2).toDouble)
      }
      writeQe.foreach { qe =>
        val nodes = planNodes(qe.executedPlan)
        m("operators.exchanges") += nodes.count(_.isInstanceOf[Exchange])
        m("operators.smj") += nodes.count(_.isInstanceOf[SortMergeJoinExec])
        m("operators.bhj") += nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
        m("operators.reused_exchanges") += nodes.count(_.isInstanceOf[ReusedExchangeExec])
      }
      m("streaming.state_rows") += stateByQuery.values.map(_._1).sum
      m("streaming.state_bytes") += stateByQuery.values.map(_._2).sum
      m.toMap
    }
  }

  /** Self time of every span under `root`, children clipped as documented
    * on [[Span]]. */
  private def selfTimes(root: Span): Unit = {
    val children = spans.drop(root.id).groupBy(_.parent)
    def visit(s: Span, lo: Double, hi: Double): Unit = {
      var cursor = lo
      var covered = 0.0
      children.getOrElse(s.id, Nil).sortBy(_.start).foreach { c =>
        val a = math.max(c.start, cursor)
        val b = math.min(c.end, hi)
        if (b > a) { visit(c, a, b); covered += b - a; cursor = b }
        else visit(c, a, a)
      }
      s.selfMs = math.max(0.0, hi - lo) - covered
    }
    visit(root, root.start, root.end)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  private def isNoopWrite(qe: QueryExecution): Boolean =
    qe.logical.collectFirst { case w: V2WriteCommand => w.table }.exists {
      case r: DataSourceV2Relation => r.table.name == "noop-table"
      case _ => false
    }

  /** Every node of an executed plan, looking through adaptive wrappers into
    * the final (post-AQE) plan and into subquery plans. A reused exchange
    * is one node: its child is counted where it first ran. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
