package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{GraftSession, ResultCaches, SparkEntry, Tables}
import graft.operators.Tpcds
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM: one closed-loop client on `local[cpus]`
  * that runs one workload row at a time, timing constructor call + plan +
  * a `noop` write that materializes every output column.
  *
  *   Main run  <workload> <seed> <seconds> <trace 0|1> <dataRoot> <outDir> <cpus>
  *   Main order <workload> <seed> <passes>  prints each pass's row order
  *   Main plan <dataRoot> <cpus>         prints q1_agg's timed executed plan
  *   Main fixture <cpus>                 generates the TPC-DS fixture, prints its tables
  *
  * `run` writes raw samples to `<outDir>/run.json` (and, traced, the spans
  * to `<outDir>/spans.json`); `perfbench/run.py` turns them into metrics and
  * checks the rows `<outDir>/check` holds against the DuckDB oracle. */
object Main {
  /** No pass starts that would end later than this many seconds after JVM
    * start, whatever `seconds` asks, so one run always ends within its
    * limit. */
  private val PassBudgetS = 120.0

  /** Timed passes every run makes, whatever `seconds` asks. */
  private val MinPasses = 3

  /** `target/<root>` dirs `graft.RelayDir` allocates per invocation. */
  private val relayRoots = Seq("mr_relay", "mr_stream", "fsql_relay", "qstate_ckpt",
    "iterate_chan", "cep_relay", "cdc_relay", "asof_stream_in", "asof_stream_out",
    "tij_relay")

  private lazy val queries = SparkEntry.queries

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: w :: seed :: secs :: trace :: data :: out :: cpus :: Nil =>
      run(Workloads(w), seed.toLong, secs.toDouble, trace == "1", data, out, cpus.toInt)
    case "order" :: w :: seed :: passes :: Nil =>
      (0 until passes.toInt).foreach(p =>
        println(Workloads.order(Workloads(w), seed.toLong, p).mkString(",")))
    case "plan" :: data :: cpus :: Nil => printPlan(data, cpus.toInt)
    case "fixture" :: cpus :: Nil => buildFixture(cpus.toInt)
    case _ =>
      System.err.println("usage: see graft.perfbench.Main"); sys.exit(2)
  }

  private def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s: $msg")

  private def session(cpus: Int, tracer: Option[Tracer]): SparkSession = {
    val b = GraftSession.builder(s"local[$cpus]", cpus)
    tracer.foreach(t => b.withExtensions(_.injectParser((_, d) => t.parser(d))))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.foreach(_.install(spark))
    spark
  }

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build the session, mount the tables and warm up; returns the session
    * and the phase times in ms. */
  private def setUp(cpus: Int, tracer: Option[Tracer], w: Workloads.Workload, data: String,
                    warmData: String): (SparkSession, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val spark = session(cpus, tracer)
    val t1 = System.nanoTime()
    w.warmup.foreach { r =>
      try noopWrite(queries(r)(spark, warmData))
      catch { case e: Throwable => log(s"warm-up row $r failed: $e") }
    }
    val t2 = System.nanoTime()
    Tables.registerAll(spark, data)
    if (w.mountTpcds) Tpcds.ensureTables(spark)
    val t3 = System.nanoTime()
    (spark, Map("build_ms" -> (t1 - t0) / 1e6, "warmup_ms" -> (t2 - t1) / 1e6,
      "register_ms" -> (t3 - t2) / 1e6))
  }

  private def run(w: Workloads.Workload, seed: Long, seconds: Double, trace: Boolean,
                  dataRoot: String, out: String, cpus: Int): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val data = s"$dataRoot/${w.data}"
    val tracer = if (trace) Some(new Tracer) else None
    // Set-up runs once per JVM, timed from JVM start: a second set-up in
    // the same JVM would find classes loaded and code compiled, and measure
    // something users never pay.
    val (firstSpark, setupPhases) = setUp(cpus, tracer, w, data, s"$dataRoot/sf0.001")
    var spark = firstSpark
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    log(s"set-up: $setupS s, $setupPhases")
    val calibration = calibrate()

    // The untimed passes run the rows in one fixed order, whatever the
    // seed: the type profiles the JIT compiles the hot code from are then
    // gathered the same way in every run.
    def untimedPass(body: String => Unit): Unit =
      w.rows.foreach { row =>
        ResultCaches.dropAll()
        val before = relayEntries()
        body(row)
        purge(before)
        if (spark.sparkContext.isStopped) spark = revive(cpus, tracer)
      }
    // Untimed verification pass: every row's result is written for the
    // oracle check.
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    new File(s"$out/check").mkdirs()
    untimedPass { row =>
      val df = try Right(queries(row)(spark, data)) catch { case e: Throwable => Left(message(e)) }
      verify(df, row, out, verifyErrors)
    }
    log(s"verification pass done, ${verifyErrors.size} errors")
    // Untimed warm-up passes: through the first passes after the
    // verification pass the JIT is still compiling the workload's hot code,
    // and medians over passes run on half-compiled code would depend on how
    // far compilation got. A row that fails here fails again, and counts,
    // in the timed passes.
    (1 to w.warmPasses).foreach { _ =>
      untimedPass { row =>
        try noopWrite(queries(row)(spark, data))
        catch { case e: Throwable => log(s"warm-up: $row failed: ${message(e)}") }
      }
    }

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val execs = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    val wallBase = System.currentTimeMillis()
    val nanoBase = System.nanoTime()
    def epochMs(ns: Long): Double = wallBase + (ns - nanoBase) / 1e6
    val loopStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - loopStart) / 1e9
    def sinceJvmStartS = (System.currentTimeMillis() - jvmStart) / 1e3
    var pass = 1
    var lastPassS = 0.0
    var rowId = 0
    // read after the first timed pass, when every run has done the same work
    var peakRssMb, liveHeapMb = 0.0
    // Timed passes run until `seconds` have gone by, and at least
    // MinPasses of them, so every row has a median. Traced runs alternate untraced and traced passes
    // (untraced-traced-untraced at least), so the tracing overhead is
    // measured inside one run and JIT warm-up over the passes does not pose
    // as (negative) overhead.
    def wantMore = pass == 1 || (sinceJvmStartS + lastPassS < PassBudgetS &&
      (pass <= MinPasses || elapsedS < seconds))
    while (wantMore) {
      val traced = trace && pass % 2 == 0
      tracer.foreach(_.enabled = traced)
      val passT0 = System.nanoTime()
      var busyS, cpuS = 0.0
      Workloads.order(w, seed, pass).foreach { row =>
        ResultCaches.dropAll()
        val before = relayEntries()
        val layer = Workloads.layer(row)
        tracer.filter(_ => traced).foreach(_.beginRow(row.startsWith("dsds_")))
        val sc = spark.sparkContext
        var error: Option[String] = None
        val cpu0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        var tb = t0
        try {
          sc.setLocalProperty(Tracer.PhaseKey, "build")
          val df = queries(row)(spark, data)
          tb = System.nanoTime()
          sc.setLocalProperty(Tracer.PhaseKey, "action")
          noopWrite(df)
        } catch { case e: Throwable => error = Some(message(e)) }
        finally sc.setLocalProperty(Tracer.PhaseKey, null)
        val t1 = System.nanoTime()
        cpuS += (os.getProcessCpuTime - cpu0) / 1e9
        if (tb == t0) tb = t1
        busyS += (t1 - t0) / 1e9
        val layers = tracer.filter(_ => traced).map(
          _.endRow(spark, rowId, layer, epochMs(t0), epochMs(tb), epochMs(t1)))
        val m = layers.getOrElse(Map.empty) + ("streaming.disk_bytes" -> purge(before).toDouble)
        execs += Json.obj("row" -> row, "pass" -> pass, "id" -> rowId, "layer" -> layer,
          "s" -> (t1 - t0) / 1e9, "traced" -> traced, "error" -> error.orNull, "layers" -> m)
        rowId += 1
        if (sc.isStopped) spark = revive(cpus, tracer)
      }
      lastPassS = (System.nanoTime() - passT0) / 1e9
      log(f"pass $pass%d traced=$traced: busy $busyS%.3f s, wall $lastPassS%.3f s")
      passes += Json.obj("pass" -> pass, "traced" -> traced, "busy_s" -> busyS,
        "wall_s" -> lastPassS, "cpu_s" -> cpuS)
      if (pass == 1) { peakRssMb = vmHwmMb(); liveHeapMb = liveHeap() }
      pass += 1
    }
    tracer.foreach(_.enabled = false)

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => w.rows.contains(k) }
    Files.writeString(Paths.get(s"$out/check/oracle_sql.json"), Json.obj(oracle.toSeq: _*))
    tracer.foreach(t => Files.writeString(Paths.get(s"$out/spans.json"),
      t.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "row" -> s.row,
        "name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
        "self_ms" -> s.selfMs)).mkString("[\n", ",\n", "\n]")))
    Files.writeString(Paths.get(s"$out/run.json"), Json.obj(
      "workload" -> w.name, "seed" -> seed, "cpus" -> cpus, "data" -> data,
      "setup_s" -> setupS, "setup_phases" -> setupPhases,
      "calibration_s" -> calibration, "peak_rss_mb" -> peakRssMb,
      "live_heap_mb" -> liveHeapMb,
      "passes" -> Json.raw(passes.mkString("[", ",", "]")),
      "execs" -> Json.raw(execs.mkString("[\n", ",\n", "\n]")),
      "verify_errors" -> verifyErrors.toMap))
    GraftSession.shutdown(spark)
  }

  /** Write the row's result for the oracle check, or record why not. */
  private def verify(df: Either[String, DataFrame], row: String, out: String,
                     errors: mutable.Map[String, String]): Unit =
    df match {
      case Left(e) => errors(row) = e
      case Right(d) =>
        try d.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$row")
        catch { case e: Throwable => errors(row) = message(e) }
    }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).take(300)

  /** A fatal task error stops the SparkContext in local mode; one poisoned
    * row must cost one error, not every later row. */
  private def revive(cpus: Int, tracer: Option[Tracer]): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    session(cpus, tracer)
  }

  private def relayEntries(): Set[File] =
    relayRoots.flatMap { r =>
      Option(new File(s"target/$r").listFiles()).toSeq.flatten
        .flatMap(t => Option(t.listFiles()).toSeq.flatten)
    }.toSet

  /** Record, then delete, the relay and checkpoint dirs a row allocated
    * under `target/`: `RelayDir` itself purges only after 30 minutes.
    * Returns their size in bytes. */
  private def purge(before: Set[File]): Long =
    relayEntries().diff(before).toSeq.map { f => val n = du(f); delete(f); n }.sum

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap in use after a full collection: what the run keeps reachable,
    * such as cached results, plans and in-memory state. */
  private def liveHeap(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds for a fixed integer kernel (median of 5), stamped on every run
    * so a slow or noisy host window is visible. Never used to rescale. */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
      if (x == 42) println(x) // keeps the loop live
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(5)(once()).sorted.apply(2)
  }

  /** Generate the TPC-DS fixture `Tpcds.ensureTables` mounts (a one-time
    * cost per checkout, kept out of the timed set-up) and print the
    * directories of its tables, one a line. */
  private def buildFixture(cpus: Int): Unit = {
    val spark = session(cpus, None)
    Tpcds.ensureTables(spark)
    spark.catalog.listTables().collect().filter(_.isTemporary).foreach { t =>
      spark.table(t.name).inputFiles.headOption.foreach(f =>
        println(new File(new java.net.URI(f)).getParent))
    }
    GraftSession.shutdown(spark)
  }

  /** q1_agg's executed plan and output columns under the timed `noop`
    * write and under `count()`, with the median wall time of three runs of
    * each, as one JSON line for the benchmark's own test. */
  private def printPlan(dataRoot: String, cpus: Int): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
    import org.apache.spark.sql.execution.QueryExecution
    val spark = session(cpus, None)
    val captured = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = captured.set(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def last(): Map[String, Any] = {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val qe = captured.get
      val query = qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query }
        .getOrElse(qe.optimizedPlan)
      Map("output" -> query.output.map(_.name),
        "plan" -> Tracer.planNodes(qe.executedPlan).map(_.simpleString(1000)))
    }
    val q1 = queries("q1_agg")
    val data = s"$dataRoot/sf0.1"
    def median(f: => Unit): Double = Seq.fill(3) {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
    noopWrite(q1(spark, data)); q1(spark, data).count()
    val noopS = median(noopWrite(q1(spark, data)))
    val noop = last()
    val countS = median(q1(spark, data).count())
    println(Json.obj("noop_s" -> noopS, "count_s" -> countS, "noop" -> noop, "count" -> last()))
    GraftSession.shutdown(spark)
  }
}

/** Just enough JSON output for the benchmark's raw-sample files. */
private object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
