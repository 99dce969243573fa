package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.streaming.{Changelog, KeyedRow, StatefulOps}

/** State-DEPTH probe for the stateful streaming operators (round 9).
  *
  * The sf1 streaming probes prove THROUGHPUT scaling; this main proves the
  * state dimension: the retractable Top-N and the unbounded outer join
  * driven to millions of DISTINCT KEYS on the RocksDB state store provider
  * (the disk-backed scale path — SURVEY maps flink-statebackend-rocksdb
  * onto it), with the no-silent-fallback metrics assert from
  * RocksDbStateStoreSpec repeated at every depth: the run FAILS unless the
  * progress metrics carry rocksdb-prefixed custom metrics AND the state
  * row count equals the expected key count.
  *
  * Inputs are generated DISTRIBUTED (spark.range → parquet, multiple part
  * files streamed with maxFilesPerTrigger so state builds across several
  * micro-batches) and outputs are counted in foreachBatch — nothing routes
  * through the driver at any depth.
  *
  * Usage: runMain graft.StateScaleProbe [keyCount ...]
  *        (default 1000000 3000000 10000000)
  * Prints one JSON line per (probe, depth).
  */
object StateScaleProbe {
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def fresh(tag: String): String = {
    val d = s"target/state_probe/$tag"
    graft.io.LocalFiles.delete(d)
    d
  }

  /** Run a streaming pipeline until its output is complete, counting rows
    * executor-side; returns (outRows, stateRowsTotal, seconds) and asserts
    * the RocksDB provider actually served the state.
    *
    * `minOut > 0` switches to poll-until-stable shutdown instead of
    * processAllAvailable: an operator holding pending PROCESSING-TIME
    * timeouts (the TTL join) makes Spark schedule timeout-check batches
    * continuously, and every such batch re-scans and deserializes the
    * ENTIRE state (FlatMapGroupsWithStateExec has no timer heap — a real
    * Spark-vs-reference cost this probe quantifies, see BASELINE.md).
    * processAllAvailable races that storm indefinitely, so the probe
    * instead waits for the expected output floor + stability, captures the
    * progress metrics, and stops the query. */
  private def drive[T](out: Dataset[T], tag: String, minOut: Long = 0L): (Long, Long, Double) = {
    val ckpt = fresh(s"$tag.ckpt")
    val n = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[T], _: Long) => n.addAndGet(b.count()): Unit }
      .start()
    try {
      if (minOut == 0L) q.processAllAvailable()
      else {
        var stable = 0
        var last = -1L
        while (stable < 3) {
          Thread.sleep(2000)
          val cur = n.get()
          // an empty (timeout-check) batch as the LATEST completed batch
          // proves every data batch committed — numRowsTotal then reflects
          // the full state, not the state as of some mid-load batch
          val drained = Option(q.lastProgress).exists(_.numInputRows == 0L)
          if (cur == last && cur >= minOut && drained) stable += 1
          else { stable = 0; last = cur }
        }
      }
    } catch { case t: Throwable => q.stop(); throw t }
    val sec = (System.nanoTime() - t0) / 1e9
    val op = q.lastProgress.stateOperators.head
    q.stop()
    require(op.customMetrics.keySet.toArray.exists(_.toString.startsWith("rocksdb")),
      s"$tag: expected rocksdb custom metrics — the provider silently fell back; " +
        s"got ${op.customMetrics.keySet}")
    (n.get(), op.numRowsTotal, sec)
  }

  /** Retractable Top-N over `k` distinct keys, 2 changes per key, streamed
    * as 8 files / 4 micro-batches. State = per-key row map + rank list. */
  private def probeTopN(spark: SparkSession, k: Long): Unit = {
    import spark.implicits._
    val dir = fresh(s"topn_$k")
    spark.range(0, 2 * k).select(
        lit("+I").as("kind"), (col("id") % k).as("key"), col("id").as("id"),
        col("id").as("ts"), (col("id") % 1000).cast("double").as("value"))
      .repartition(8).write.parquet(dir)
    val changes = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Changelog.Change].schema)
      .option("maxFilesPerTrigger", 2).parquet(dir)
      .as[Changelog.Change]
    val (outRows, stateRows, sec) = drive(Changelog.retractableTopN(changes, 3), s"topn_$k")
    require(stateRows == k, s"topn_$k: state rows $stateRows != $k keys")
    require(outRows >= k, s"topn_$k: only $outRows rank changes for $k keys")
    println(s"""{"probe":"retract_topn","keys":$k,"outRows":$outRows,"stateRows":$stateRows,"sec":${math.round(sec * 10) / 10.0}}""")
  }

  /** Unbounded left-outer join with TTL over `k` distinct keys, one row per
    * key per side. State = per-key left+right buffers until the TTL. */
  private def probeJoin(spark: SparkSession, k: Long): Unit = {
    import spark.implicits._
    def gen(tag: String, idOff: Long): Dataset[KeyedRow] = {
      val dir = fresh(s"join_${tag}_$k")
      spark.range(0, k).select(
          col("id").as("key"), col("id").as("ts"), (col("id") + idOff).as("id"),
          lit("x").as("kind"), lit(1.0).as("value"))
        .repartition(4).write.parquet(dir)
      spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[KeyedRow].schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .as[KeyedRow]
    }
    val joined = StatefulOps.unboundedLeftOuterJoinWithTtl(
      gen("l", 0L), gen("r", 1000000000L), java.time.Duration.ofMinutes(30))
    // every key ends fully paired: at least one +I per key survives any
    // arrival interleaving, so k is a safe output floor for the poll
    val (outRows, stateRows, sec) = drive(joined, s"join_$k", minOut = k)
    require(stateRows == k, s"join_$k: state rows $stateRows != $k keys")
    require(outRows >= k, s"join_$k: only $outRows emissions for $k keys")
    println(s"""{"probe":"unbounded_join","keys":$k,"outRows":$outRows,"stateRows":$stateRows,"sec":${math.round(sec * 10) / 10.0}}""")
  }

  /** Shared generator for the CEP/MR deep-key probes: 4 events per key
    * (error,error,error,ok — exactly one errorBurst match), ts monotone
    * WITH the file-stream's batch order so watermark-release is exercised
    * mid-stream, not only at the end. Written as 8 sequential chunk
    * appends (2 files each, streamed 2-per-trigger): within a chunk rows
    * shuffle freely, so the watermark delay is sized to cover two full
    * chunk spans and no row can ever be late-dropped even if chunk/batch
    * alignment drifts. A trailing sentinel key (key = k, kind "ok", far
    * future ts) pushes the final watermark past max(ts) so every real row
    * is released — the bounded-input analogue of the reference's
    * end-of-input watermark. Returns (stream, delayString). */
  private def cepInput(spark: SparkSession, k: Long, tag: String):
      (Dataset[KeyedRow], String) = {
    import spark.implicits._
    val dir = fresh(s"${tag}_$k")
    val rows = 4L * k
    val chunk = rows / 8
    val tsStep = 1000L // µs per row → chunk span = chunk/1000 seconds
    (0 until 8).foreach { c =>
      spark.range(c * chunk, if (c == 7) rows else (c + 1) * chunk)
        .select((col("id") / 4).cast("long").as("key"),
          (col("id") * tsStep).as("ts"), col("id").as("id"),
          when(col("id") % 4 < 3, "error").otherwise("ok").as("kind"),
          lit(1.0).as("value"))
        .repartition(2).write.mode("append").parquet(dir)
    }
    val delaySec = 2 * chunk * tsStep / 1000000L + 5
    spark.range(0, 4).select(lit(k).as("key"),
        (lit(rows * tsStep) + lit(10 * delaySec * 1000000L) + col("id")).as("ts"),
        (lit(rows) + col("id")).as("id"), lit("ok").as("kind"), lit(1.0).as("value"))
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[KeyedRow].schema)
      .option("maxFilesPerTrigger", 2).parquet(dir)
      .as[KeyedRow]
    (stream, s"$delaySec seconds")
  }

  /** Streaming CEP NFA (Cep.matchStream) to `k` distinct partition keys:
    * state = per-key pending buffer + active runs on RocksDB. Exactly one
    * errorBurst match per key, so outRows == k is an exact assert; the
    * sentinel key's forever-pending rows add exactly one state row. On
    * `transformWithState` `numRowsTotal` counts the `ValueState` rows, one
    * per key; the armed timers (the sentinel key's) are not counted. */
  private def probeCep(spark: SparkSession, k: Long): Unit = {
    val (stream, delay) = cepInput(spark, k, "cep")
    val (outRows, stateRows, sec) =
      drive(streaming.Cep.matchStream(stream, streaming.Cep.errorBurst, delay), s"cep_$k")
    require(outRows == k, s"cep_$k: $outRows matches != $k keys × 1")
    require(stateRows == k + 1, s"cep_$k: state rows $stateRows != ${k + 1}")
    println(s"""{"probe":"cep_match_stream","keys":$k,"outRows":$outRows,"stateRows":$stateRows,"sec":${math.round(sec * 10) / 10.0}}""")
  }

  /** MATCH_RECOGNIZE navigation buffer (Cep.orderedWithNav, the PREV/NEXT
    * rings) to `k` distinct partition keys: state = per-key pending buffer
    * + prev ring + nextDepth held rows. Each key emits its 4 rows minus
    * the nextDepth=2 held tail → outRows == 2k exact; state rows count
    * as in [[probeCep]]: k keys + the sentinel key. */
  private def probeNav(spark: SparkSession, k: Long): Unit = {
    val (stream, delay) = cepInput(spark, k, "nav")
    val (outRows, stateRows, sec) =
      drive(streaming.Cep.orderedWithNav(stream, prevDepth = 2, nextDepth = 2, delay), s"nav_$k")
    require(outRows == 2 * k, s"nav_$k: $outRows emitted != 2×$k")
    require(stateRows == k + 1, s"nav_$k: state rows $stateRows != ${k + 1}")
    println(s"""{"probe":"mr_nav_stream","keys":$k,"outRows":$outRows,"stateRows":$stateRows,"sec":${math.round(sec * 10) / 10.0}}""")
  }

  /** The NFA's documented historical worst case (Cep.scala object scaladoc):
    * an always-true anchor under relaxed contiguity over one monotone run —
    * `A+ B` where A matches EVERY row and B only the key's last row. Every
    * row anchors a fresh run and every active run grows, which held
    * O(rows²) run objects and list cells before round 11's segment-
    * compressed trails + greedy-domination pruning (the SharedBuffer
    * analogue); with them, active state is O(pattern length) runs × O(1)
    * trail cells per key and the scan is a single linear pass. `rowsPerKey`
    * rows on each of 4 keys, batch NFA (the same `advance` core the stream
    * runs); exact asserts: 1 match per key covering ALL its rows. */
  private def probeBlow(spark: SparkSession, rowsPerKey: Long): Unit = {
    import spark.implicits._
    val nKeys = 4L
    val t0 = System.nanoTime()
    val rows = spark.range(0, nKeys * rowsPerKey).select(
        (col("id") / rowsPerKey).cast("long").as("key"),
        (col("id") % rowsPerKey).as("ts"), (col("id") % rowsPerKey).as("id"),
        when(col("id") % rowsPerKey === rowsPerKey - 1, "last").otherwise("a").as("kind"),
        lit(1.0).as("value"))
      .as[KeyedRow]
    val pat = streaming.Cep.Pattern(Seq(
      streaming.Cep.Step("A", _ => true, oneOrMore = true),
      streaming.Cep.Step("B", _.kind == "last")))
    val m = streaming.Cep.matchBatch(rows, pat).toDF()
      .select(col("key"), size(col("ids")).cast("long").as("n"))
      .groupBy().agg(count(lit(1)).as("matches"), sum(col("n")).as("rows_covered"))
      .collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    require(m.getLong(0) == nKeys, s"blow_$rowsPerKey: ${m.getLong(0)} matches != $nKeys")
    require(m.getLong(1) == nKeys * rowsPerKey,
      s"blow_$rowsPerKey: ${m.getLong(1)} rows covered != ${nKeys * rowsPerKey}")
    println(s"""{"probe":"cep_worstcase_anchor","rowsPerKey":$rowsPerKey,"keys":$nKeys,"matches":${m.getLong(0)},"rowsCovered":${m.getLong(1)},"sec":${math.round(sec * 10) / 10.0}}""")
  }

  /** Round 12: the always-true-anchor worst case with a RELUCTANT
    * quantifier (`A+? B`, relaxed contiguity, SKIP PAST LAST ROW) — the
    * shape VERDICT r11 flagged as falling outside the (then greedy-only)
    * domination prune. With the round-12 rank flip (reluctant keeps the
    * SHORTEST lockstep sibling) it is linear again. Exact asserts: one
    * match per key, ids = [first row, last row] (fewest-rows semantics). */
  private def probeBlowReluctant(spark: SparkSession, rowsPerKey: Long): Unit = {
    import spark.implicits._
    val nKeys = 4L
    val t0 = System.nanoTime()
    val rows = spark.range(0, nKeys * rowsPerKey).select(
        (col("id") / rowsPerKey).cast("long").as("key"),
        (col("id") % rowsPerKey).as("ts"), (col("id") % rowsPerKey).as("id"),
        when(col("id") % rowsPerKey === rowsPerKey - 1, "last").otherwise("a").as("kind"),
        lit(1.0).as("value"))
      .as[KeyedRow]
    val pat = streaming.Cep.Pattern(Seq(
      streaming.Cep.Step("A", _ => true, oneOrMore = true, reluctant = true),
      streaming.Cep.Step("B", _.kind == "last")))
    val m = streaming.Cep.matchBatch(rows, pat).toDF()
      .select(col("key"), size(col("ids")).cast("long").as("n"),
        element_at(col("ids"), 1).as("id0"), element_at(col("ids"), 2).as("id1"))
      .groupBy().agg(count(lit(1)).as("matches"), sum(col("n")).as("rows_covered"),
        max(col("id0")).as("maxId0"), min(col("id1")).as("minId1"))
      .collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    require(m.getLong(0) == nKeys, s"blowrel_$rowsPerKey: ${m.getLong(0)} matches != $nKeys")
    require(m.getLong(1) == 2 * nKeys, s"blowrel_$rowsPerKey: reluctant matches must be 2 rows each")
    require(m.getLong(2) == 0 && m.getLong(3) == rowsPerKey - 1,
      s"blowrel_$rowsPerKey: ids must be [0, ${rowsPerKey - 1}]")
    println(s"""{"probe":"cep_worstcase_reluctant","rowsPerKey":$rowsPerKey,"keys":$nKeys,"matches":${m.getLong(0)},"sec":${math.round(sec * 10) / 10.0}}""")
  }

  /** Round 12: the SAME anchor shape under SKIP TO NEXT ROW — the other
    * unprunable configuration VERDICT r11 named. Here the blowup is
    * CONTRACT-INHERENT: every (anchor, absorption-length) pair is a
    * DISTINCT match the user asked for, so matches per key = n(n-1)/2 and
    * the id volume is cubic — no engine can emit less than its output
    * (documented in BASELINE.md next to the simhash member-pair contract).
    * The probe pins (a) the exact closed-form output cardinality and
    * (b) that wall-clock scales with OUTPUT volume, not worse. */
  private def probeBlowNext(spark: SparkSession, rowsPerKey: Long): Unit = {
    import spark.implicits._
    val nKeys = 4L
    val n = rowsPerKey
    val t0 = System.nanoTime()
    val rows = spark.range(0, nKeys * n).select(
        (col("id") / n).cast("long").as("key"),
        (col("id") % n).as("ts"), (col("id") % n).as("id"),
        when(col("id") % n === n - 1, "last").otherwise("a").as("kind"),
        lit(1.0).as("value"))
      .as[KeyedRow]
    val pat = streaming.Cep.Pattern(Seq(
      streaming.Cep.Step("A", _ => true, oneOrMore = true),
      streaming.Cep.Step("B", _.kind == "last")),
      afterMatch = streaming.Cep.SkipToNextRow)
    val m = streaming.Cep.matchBatch(rows, pat).toDF()
      .select(col("key"), size(col("ids")).cast("long").as("nids"))
      .groupBy().agg(count(lit(1)).as("matches"), sum(col("nids")).as("id_cells"))
      .collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    // anchors a = 0..n-2, absorption ends e = a..n-2 → (a, e) pairs, each
    // match = rows a..e plus the last row → (e - a + 2) id cells
    val expMatches = nKeys * (n - 1) * n / 2
    var expCells = 0L
    var a = 0L
    while (a < n - 1) {
      val m1 = n - 1 - a // number of absorption ends
      expCells += m1 * (m1 + 1) / 2 + m1 // sum of lengths + the B row each
      a += 1
    }
    expCells *= nKeys
    require(m.getLong(0) == expMatches,
      s"blownext_$n: ${m.getLong(0)} matches != closed form $expMatches")
    require(m.getLong(1) == expCells,
      s"blownext_$n: ${m.getLong(1)} id cells != closed form $expCells")
    println(s"""{"probe":"cep_worstcase_skipnext","rowsPerKey":$n,"keys":$nKeys,"matches":${m.getLong(0)},"idCells":${m.getLong(1)},"sec":${math.round(sec * 10) / 10.0}}""")
  }

  /** Event-time temporal join HOT-KEY probe (round 12): ONE key holding a
    * deep version history entirely ABOVE the watermark while probes
    * accumulate — the shape VERDICT r11 flagged: per-trigger cost must be
    * bounded by merge work (one linear pass over the buffer), not
    * O(probes × versions) per resolution or a full re-sort per trigger.
    * `versions` version rows (ts = 1s + 2i µs) and versions/10 probe rows
    * (ts = 1s + 20j+1 µs) stream in 8 chunks each under a watermark delay
    * covering the whole span, so NOTHING resolves until the far-future
    * sentinel probes release the entire backlog through the merge cursor
    * in one pass. Exact asserts: probe j joins version 10j → outRows ==
    * probes; final state = key 0's single retained below-watermark version
    * + the sentinel key's pending probes = 2 state rows. */
  private def probeAsof(spark: SparkSession, versions: Long): Unit = {
    import spark.implicits._
    val nProbes = versions / 10
    val base = 1000000L // keep every ts ≥ 1s so ts/1000 > initial wm (0)
    val vDir = fresh(s"asof_v_$versions")
    val pDir = fresh(s"asof_p_$versions")
    val vChunk = versions / 8
    (0 until 8).foreach { c =>
      spark.range(c * vChunk, if (c == 7) versions else (c + 1) * vChunk)
        .select(lit(0L).as("key"), (lit(base) + col("id") * 2).as("ts"),
          col("id").as("id"), lit("v").as("kind"), lit(1.0).as("value"))
        .repartition(2).write.mode("append").parquet(vDir)
    }
    val pChunk = nProbes / 8
    (0 until 8).foreach { c =>
      spark.range(c * pChunk, if (c == 7) nProbes else (c + 1) * pChunk)
        .select(lit(0L).as("key"), (lit(base) + col("id") * 20 + 1).as("ts"),
          col("id").as("id"), lit("p").as("kind"), lit(1.0).as("value"))
        .repartition(2).write.mode("append").parquet(pDir)
    }
    // sentinel probes on their own key, far past the span + delay
    val span = base + 2 * versions
    spark.range(0, 4).select(lit(1L).as("key"),
        (lit(span) + lit(600L * 1000000L) + col("id")).as("ts"),
        (lit(nProbes) + col("id")).as("id"), lit("s").as("kind"), lit(1.0).as("value"))
      .coalesce(1).write.mode("append").parquet(pDir)
    def read(dir: String) = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[KeyedRow].schema)
      .option("maxFilesPerTrigger", 2).parquet(dir).as[KeyedRow]
    val delaySec = span / 1000000L + 60
    val joined = StatefulOps.eventTimeTemporalJoin(
      read(pDir), read(vDir), watermarkDelay = s"$delaySec seconds")
    val (outRows, stateRows, sec) = drive(joined, s"asof_$versions")
    require(outRows == nProbes, s"asof_$versions: $outRows joined != $nProbes probes")
    require(stateRows == 2, s"asof_$versions: state rows $stateRows != 2")
    println(s"""{"probe":"asof_hot_key","versions":$versions,"probes":$nProbes,"outRows":$outRows,"stateRows":$stateRows,"sec":${math.round(sec * 10) / 10.0}}""")
  }

  def main(args: Array[String]): Unit = {
    // usage: [probes] [depth ...] — probes = comma list of
    // topn,join,cep,nav,blow,asof (default topn,join,cep,nav); depths
    // default 1M/3M/10M for the row-state probes and are shared by the
    // CEP/MR probes when given.
    val (probes, depthArgs) = args.headOption match {
      case Some(h) if h.exists(c => !c.isDigit) =>
        (h.split(",").toSet, args.drop(1).toSeq)
      case _ => (Set("topn", "join", "cep", "nav"), args.toSeq)
    }
    val depths =
      if (depthArgs.nonEmpty) depthArgs.map(_.toLong)
      else Seq(1000000L, 3000000L, 10000000L)
    val spark = GraftSession.create()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", Rocks)
    // probes never failure-recover across old batches; the default
    // minBatchesToRetain=100 keeps ~100 state versions of SSTs+changelog on
    // disk, which at 100 M keys outgrows the sandbox volume (the round-12
    // first 100 M attempt hit 94% disk on retained versions alone). A
    // production deployment sizes this to its recovery SLA; the probe needs
    // only the last committed version + the in-flight one.
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    // shutdown MUST run on the exception path too: an aborted probe that
    // exits with open RocksDB providers reproduces the JNI-logger SIGSEGV
    // (BASELINE.md round-11 incident addendum — a disk-full task abort
    // walked exactly that path)
    try {
      depths.foreach { k =>
        if (probes("topn")) probeTopN(spark, k)
        if (probes("join")) probeJoin(spark, k)
        if (probes("cep")) probeCep(spark, k)
        if (probes("nav")) probeNav(spark, k)
        if (probes("blow")) probeBlow(spark, k)
        if (probes("blowrel")) probeBlowReluctant(spark, k)
        if (probes("blownext")) probeBlowNext(spark, k)
        if (probes("asof")) probeAsof(spark, k)
      }
    } finally GraftSession.shutdown(spark)
  }
}
