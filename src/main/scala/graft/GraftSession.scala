package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * The reference's TableEnvironment (flink-table-api-java
  * internal/TableEnvironmentImpl.java:658) bundles parser + planner + catalog;
  * in Spark all of that is the SparkSession itself. We only pin the configs
  * that matter for a deterministic, scale-ready deployment:
  *
  *  - AQE on: runtime re-planning (skew joins, coalesced shuffle partitions)
  *    replaces Flink 1.12's static `BatchExecExchange` planning and is the
  *    main lever that keeps the same plan healthy from sf0.001 to 100 TB.
  *  - shuffle.partitions=32 for local[32]; on a real cluster this is set per
  *    deployment (or left to AQE's coalescing with a high initial value).
  *  - UTC session time zone so timestamp semantics match the oracle.
  *  - `file:` pinned to the fork-free [[io.NioLocalFileSystem]] (FileSystem)
  *    and [[io.NioLocalFs]] (FileContext). The Spark distribution ships
  *    Hadoop without `libhadoop`, so the stock local filesystem forks a
  *    `chmod` for every file and dir it creates and a `readlink` for every
  *    `FileContext` rename — the offset, commit, state-changelog and
  *    checksum files of every streaming micro-batch, and every relay, sink
  *    and lineage-cut write. Permissions, `.crc` files and rename semantics
  *    are unchanged; this is an engine constant, not a user option.
  *  - Codegen cache of [[CodegenCacheEntries]] classes, so a class this JVM
  *    already generated is a cache hit, not a Janino compile (what Flink's
  *    `CompileUtils` cache gives its jobs). Every query and micro-batch is
  *    planned afresh, and Spark's JVM-wide cache keeps only 100 classes by
  *    default: one pass of the benchmark's `stream_iterative` rows
  *    generates about 200 distinct classes and one of `batch_sql` about
  *    106, so the LRU cache evicted a pass's classes before the next pass
  *    needed them, and every pass compiled them again (~10 ms each). Cost,
  *    measured on one pass over the 126 TPC-H and TPC-DS rows at sf0.001
  *    (4-core host): 190 MB of metaspace after a full GC against 183 MB at
  *    100 entries, and a peak resident set of 1.91 GB on both; that pass
  *    compiled 1778 classes against 2950, because distinct queries share
  *    scan and projection classes. Whole-stage class names leave out the
  *    stage id (`useIdInClassName`), which AQE assigns in the order stages
  *    happen to be planned, so the same stage generates the same source
  *    every run. Spark sizes the cache once, when the JVM
  *    first generates code, so the size holds in every JVM whose first
  *    session comes from [[builder]]. Engine constants, not user options.
  */
object GraftSession {
  /** Spark's JVM-wide codegen cache size, pinned above every workload's
    * per-pass working set with headroom — see the header. */
  val CodegenCacheEntries = 1000

  /** Per-JVM-unique embedded-Derby metastore name. Embedded Derby permits
    * exactly ONE booting JVM per database: round 9 shipped a shared on-disk
    * `target/metastore_db`, and the first resident JVM (the driver's sbt
    * bench) held `dbex.lck` so every OTHER JVM's catalog boot died with
    * Derby XSDB6 ("another instance may have already booted"), failing
    * `hive_partitioned_table`, regressing `bucket_colocated_join` (Hive
    * support reroutes `saveAsTable` through HiveExternalCatalog), and
    * breaking 8 tests whenever two JVMs overlapped. The metastore is
    * throwaway — every query CREATEs its own tables — so each JVM now gets
    * its own in-memory Derby: zero cross-JVM locks, zero disk litter.
    * MultiJvmHiveSpec pins the exact two-JVM shape that failed. */
  private val metastoreName =
    "graft_ms_" + java.util.UUID.randomUUID.toString.replace("-", "")

  /** Warehouse root, also per-JVM: with per-JVM catalogs, two concurrent
    * JVMs CREATE-ing the same managed-table name must not interleave files
    * under one shared `spark-warehouse/<table>` path. Lives under the JVM's
    * temp dir, not the repo. */
  private val warehouseDir = {
    val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    // purge siblings from dead JVMs (deleteOnExit can't remove non-empty
    // dirs). Liveness is the NEWEST mtime anywhere in the subtree, not the
    // top-level dir's — a directory's mtime does not change when nested
    // files do (ADVICE r10), so a live >2h JVM still writing tables keeps
    // its warehouse; 2h idle is far past any run
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    Option(tmp.listFiles()).foreach(_.foreach { f =>
      def newest(g: java.io.File): Long =
        (g.lastModified() +: Option(g.listFiles()).toSeq.flatten.map(newest)).max
      if (f.getName.startsWith("graft-warehouse-") && newest(f) < cutoff)
        graft.io.LocalFiles.delete(f)
    })
    val d = new java.io.File(tmp, s"graft-warehouse-$metastoreName")
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // Embedded Derby writes derby.log into the CWD by default — point it at
  // target/ so metastore boot never litters the repo root.
  locally {
    val _ = new java.io.File("target").mkdirs()
    sys.props.getOrElseUpdate("derby.stream.error.file", "target/derby.log")
  }

  /** Once-per-JVM backstop for ABNORMAL exits: a shutdown hook that closes
    * every cached state-store provider (joining RocksDB native background
    * work) while JNI attach still succeeds. The orderly path is
    * [[shutdown]] in every `main`'s finally — but a fatal task error can
    * exit through Spark's uncaught-exception handler (System.exit), which
    * skips finally blocks; a round-11 disk-full job abort reproduced the
    * rocksdbjni LoggerJniCallback SIGSEGV on exactly that path
    * (BASELINE.md incident addendum). The hook runs in Spark's own
    * shutdown-hook order, before the SparkContext stops and before Spark
    * deletes its local dirs, where the stores' RocksDB working dirs live
    * ([[org.apache.spark.sql.GraftSqlBridge.stopStateStoresOnShutdown]]):
    * a store closed after that delete fails RocksDB's MANIFEST check. */
  private val shutdownHookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def installShutdownHook(): Unit =
    if (shutdownHookInstalled.compareAndSet(false, true))
      org.apache.spark.sql.GraftSqlBridge.stopStateStoresOnShutdown()

  def builder(master: String = "local[32]",
              shufflePartitions: Int = 32): SparkSession.Builder = {
    installShutdownHook()
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // Flink-SQL group-window dialect (TUMBLE/HOP/SESSION) — SURVEY §7.2 M4
      .withExtensions(sql.FlinkSql.extensions)
      // native codegen expressions for pipeline hot loops — SURVEY §7.3
      .withExtensions(functions.NativeExpressions.extensions)
      // custom whole-operator planning (as-of join) — SURVEY §7.3(c)
      .withExtensions(plans.AsOfJoinPlan.extensions)
      // correlated-EXISTS-over-OR decorrelation pre-rewrite — SURVEY §7.3
      .withExtensions(sql.SubqueryOrRewrite.extensions)
      // Hive catalog (flink-connectors/flink-connector-hive
      // HiveCatalog.java:136): persistent STORED AS tables + HiveQL DDL
      // against an embedded Derby metastore — initialization is lazy, so
      // sessions that never touch a persistent table pay nothing. The
      // metastore is IN-MEMORY and per-JVM-unique (see [[metastoreName]]):
      // embedded Derby's one-booting-JVM-per-database lock made a shared
      // on-disk metastore fail in every multi-JVM environment, including
      // the driver's own gate.
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:memory:$metastoreName;create=true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // in-process chmod/readlink for local files — see the header
      .config("spark.hadoop.fs.file.impl", classOf[io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[io.NioLocalFs].getName)
      // Disk-backed streaming state by default — the analogue of the
      // reference's production RocksDB state backend (flink-statebackend-
      // rocksdb RocksDBStateBackend.java:119). The default HDFS-backed
      // provider keeps EVERY open key's state row on the executor heap;
      // the sf10 probe's cumulate-window query (~24 M open (user, pane)
      // keys in one micro-batch) ran a 24 GB heap out of memory in
      // putState on exactly that. RocksDB keeps the working set off-heap
      // and spills to disk, which is the only shape that survives
      // state ≫ heap — the StateScaleProbe drives it to 10 M keys.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing: commit the per-batch DELTA instead of a
      // full RocksDB snapshot zip per partition per micro-batch (snapshots
      // still happen, asynchronously in maintenance). The default
      // full-snapshot mode measured ~0.5-1 s of pure commit overhead per
      // stateful micro-batch at 32 partitions even with KB-scale state
      // (StreamFloorProbe r16), and at production state sizes snapshot-per-
      // commit is the scale killer changelog mode exists to fix. Recovery
      // semantics are unchanged (snapshot + changelog replay).
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // Stream-stream join state format v3 (virtual column families): ONE
      // RocksDB instance per partition instead of four (left/right ×
      // keyToNumValues/keyWithIndexToValue). The v2 default ran 4× the
      // store instances, each paying its own open + changelog-commit fsync
      // per micro-batch — measured 27 s aggregate fsync across 128
      // instances on a 200 k-row join batch (StreamJoinProbe r16); v3 cut
      // the row 9-12 s → 3.4 s at identical output. Applies to NEW
      // checkpoints only (every checkpoint here is per-run), semantics
      // unchanged.
      .config("spark.sql.streaming.join.stateFormatVersion", "3")
      // events.ts is parquet TIMESTAMP(NANOS) — read as long, see Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // compile each generated class once per JVM — see the header
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      // the UI is off but the app-status listeners still retain per-execution
      // state; over a 140+-query session the defaults (1000 executions /
      // jobs / stages) accumulate into real GC pressure — keep a short tail
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
  }

  def create(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Quiet the RocksDB JNI logger bridge: Spark's state-store RocksDB
    // derives its native InfoLogLevel from this slf4j logger's enabled
    // level (RocksDB.createLogger), and every message above that level
    // crosses a JNI callback (rocksdbjni LoggerJniCallback). A round-10
    // StateScaleProbe run SIGSEGV'd in that callback when a native
    // background-compaction thread logged during teardown (BASELINE.md
    // incident note). ERROR keeps routine flush/compaction chatter —
    // the overwhelming majority of callback invocations — entirely on
    // the native side of the bridge.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.RocksDB",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Orderly engine shutdown for `main`s: close every loaded state-store
    * provider (joining RocksDB native background work while JNI attach
    * still succeeds) BEFORE stopping the session. Without this, a cached
    * RocksDB provider's background compaction can outlive `spark.stop()`
    * into JVM exit and crash in the JNI logger callback — the round-10
    * `hs_err` incident (BASELINE.md). RocksDbShutdownSpec forks a real
    * JVM through this exact open-run-exit path and asserts a clean exit.
    * A shutdown still running after 60 s prints every thread's stack to
    * stderr once (it stops, interrupts and times out nothing), so a hang
    * leaves its cause in the log. */
  def shutdown(spark: SparkSession): Unit = {
    val done = new java.util.concurrent.CountDownLatch(1)
    val watcher = new Thread(() =>
      if (!done.await(60L, java.util.concurrent.TimeUnit.SECONDS))
        System.err.println(Thread.getAllStackTraces.asScala.map { case (t, frames) =>
          s""""${t.getName}" ${t.getState}""" + frames.map(f => s"\n    at $f").mkString
        }.mkString("GraftSession.shutdown: still running after 60 s\n", "\n\n", "")))
    watcher.setDaemon(true)
    watcher.start()
    try {
      org.apache.spark.sql.GraftSqlBridge.stopStateStores()
      spark.stop()
    } finally done.countDown()
  }
}
