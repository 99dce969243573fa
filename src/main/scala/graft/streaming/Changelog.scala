package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Changelog / RowKind adapter — SURVEY.md §1.1 and §4.4's hard part.
  *
  * The reference threads a per-row change flag through every Table-runtime
  * operator (RowKind.java:35-58 — +I insert, -U update-before, +U
  * update-after, -D delete; ChangelogNormalize, DropUpdateBefore). Spark has
  * no per-row flag; its contract is output modes + state. The adapter
  * surfaces the same information at the edges:
  *
  *  - `keyedChangelog`: per-key last-row tracking that EMITS the retract
  *    pairs (-U old, +U new) and +I first rows as tagged records — the
  *    `_change_kind` column of the sink contract. This is exactly what
  *    GroupAggFunction.java:141-169 emits around each accumulator update.
  *  - `dropUpdateBefore`: the reference's DropUpdateBeforeFunction — a
  *    filter on the tag.
  *  - upsert sinks: `foreachBatch` + merge keyed on the primary key;
  *    demonstrated in ChangelogSpec with an in-memory "table".
  */
object Changelog {

  case class Change(kind: String, key: Long, id: Long, ts: Long, value: Double)

  /** Update-mode keyed changelog: for every arriving row that becomes the
    * new "last row" of its key, emit (-U previous) then (+U new) — or (+I)
    * if the key is new. Late/stale rows emit nothing. */
  def keyedChangelog(rows: Dataset[KeyedRow]): Dataset[Change] =
    keyedChangelogImpl(rows, miniBatch = false)

  /** Mini-batch variant (the reference's
    * operators/deduplicate/ProcTimeMiniBatchDeduplicateKeepLastRowFunction
    * .java shape, the table.exec.mini-batch.enabled production config):
    * fold the whole micro-batch per key and emit at most ONE change pair —
    * +I if the key is new, -U(batch-entry last)/+U(batch-exit last) if it
    * changed, nothing otherwise. Fold-equivalent to [[keyedChangelog]] at
    * every batch boundary (family 22 proves it on seeded streams) while
    * shrinking the emitted changelog from O(input rows) to O(touched
    * keys) per batch — the downstream-volume lever at 100 TB. */
  def keyedChangelogMiniBatch(rows: Dataset[KeyedRow]): Dataset[Change] =
    keyedChangelogImpl(rows, miniBatch = true)

  private def keyedChangelogImpl(rows: Dataset[KeyedRow],
                                 miniBatch: Boolean): Dataset[Change] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[LastRowEmit, Change](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          val out = scala.collection.mutable.ListBuffer.empty[Change]
          val entry = state.getOption.orNull
          var cur = entry
          it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
            if (cur == null) {
              cur = LastRowEmit(key, r.id, r.ts, r.value)
              if (!miniBatch) out += Change("+I", key, r.id, r.ts, r.value)
            } else if (r.ts > cur.ts || (r.ts == cur.ts && r.id > cur.id)) {
              if (!miniBatch) out += Change("-U", key, cur.id, cur.ts, cur.value)
              cur = LastRowEmit(key, r.id, r.ts, r.value)
              if (!miniBatch) out += Change("+U", key, r.id, r.ts, r.value)
            } // stale row: no change
          }
          if (miniBatch && (cur ne entry)) {
            if (entry == null)
              out += Change("+I", key, cur.id, cur.ts, cur.value)
            else {
              out += Change("-U", key, entry.id, entry.ts, entry.value)
              out += Change("+U", key, cur.id, cur.ts, cur.value)
            }
          }
          state.update(cur)
          out.iterator
      }
  }

  /** DropUpdateBefore (operators/misc/DropUpdateBeforeFunction.java):
    * retain only rows that add/overwrite (+I/+U), dropping -U retractions —
    * what a sink that upserts by key wants to consume. */
  def dropUpdateBefore(changes: Dataset[Change]): Dataset[Change] =
    changes.filter(col("kind") =!= "-U").as[Change](
      changes.sparkSession.implicits.newProductEncoder)

  /** `seq` is a per-key monotone emission sequence (survives micro-batch
    * boundaries via state) — the changelog's total order, so a consumer can
    * fold the log without trusting physical row order. */
  case class RankChange(kind: String, key: Long, rnk: Int, id: Long,
                        value: Double, seq: Long)
  /** `topIds`/`topVals` cache the current top-N (parallel lists — the
    * reference's TopNBuffer) so emission diffs against the previous
    * occupants without re-deriving them; `rows` is the key's full
    * (id → value) map, rebuilt into an ordered index per invocation (see
    * retractableTopN) so every change applies in O(log m). */
  case class RankState(rows: Map[Long, Double], topIds: List[Long],
                       topVals: List[Double], nextSeq: Long)

  /** Built once per JVM — see [[StateEncoder]]. */
  private implicit val rankStateEncoder: Encoder[RankState] = StateEncoder[RankState]

  /** Retractable Top-N — Top-N over a RETRACTING changelog input (the
    * reference's RetractableTopNFunction,
    * flink-table-runtime-blink/.../operators/rank/RetractableTopNFunction.java:
    * 455 LoC; chosen by the planner when the rank input produces updates).
    * [[topNPerKey]]'s append-only variant can ignore everything below the
    * N-th value; here a -U/-D can promote previously-hidden rows, so state
    * is the key's full (id → value) map — exactly the reference's
    * sorted-map state, and its documented cost.
    *
    * Per input change (processed in (ts, retract-before-accumulate, id)
    * order): apply it to the map, recompute the top-N (value DESC, id ASC),
    * and emit the RANK CHANGELOG — per rank position: +I when a rank first
    * fills, -U old/+U new when its occupant changes, -D when the rank
    * empties. Downstream [[applyRankChanges]] folds the log back into the
    * rank table (the upsert-sink contract). */
  def retractableTopN(changes: Dataset[Change], n: Int): Dataset[RankChange] = {
    import changes.sparkSession.implicits._
    // rank order: value DESC, id ASC — a strict total order (ids unique),
    // realized as a comparator so an ORDERED index can maintain it
    val rankOrder = new java.util.Comparator[(Double, Long)] with Serializable {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val byVal = java.lang.Double.compare(b._1, a._1) // DESC
        if (byVal != 0) byVal else java.lang.Long.compare(a._2, b._2) // ASC
      }
    }
    changes.groupByKey(_.key)
      .flatMapGroupsWithState[RankState, RankChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          // The key's full (id -> value) map rebuilt per invocation into an
          // ORDERED index (the reference's sorted-map state,
          // RetractableTopNFunction.java:83 `treeMap`): every change is then
          // O(log m) and the top-N read is O(n) off the head — NO full-map
          // rescan anywhere. The earlier partial-selection repair was O(m)
          // per top-occupant change, and the GLOBAL sort-limit (one key
          // whose map is the whole stream) paid it constantly: the sf10
          // probe measured 150 s / 198x data-scaling on exactly that; the
          // tree form is ~20x faster there and scales O(changes · log m).
          // Rebuild cost is O(m log m) once per key per micro-batch —
          // amortized over the batch's changes, and zero on the first batch.
          val prior = state.getOption
          var seq = prior.map(_.nextSeq).getOrElse(0L)
          def next(): Long = { seq += 1; seq }
          val idToVal = new java.util.HashMap[java.lang.Long, java.lang.Double]()
          val index = new java.util.TreeMap[(Double, Long), java.lang.Long](rankOrder)
          prior.foreach(_.rows.foreach { case (id, v) =>
            idToVal.put(id, v); index.put((v, id), id): Unit
          })
          var top: Seq[(Long, Double)] =
            prior.map(st => st.topIds.zip(st.topVals)).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[RankChange]
          def topN(): Seq[(Long, Double)] = {
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
            val iter = index.keySet().iterator()
            while (buf.length < n && iter.hasNext) {
              val (v, id) = iter.next(); buf += ((id, v))
            }
            buf.toSeq
          }
          def emitDiff(before: Seq[(Long, Double)],
                       after: Seq[(Long, Double)]): Unit =
            (0 until n).foreach { r =>
              (before.lift(r), after.lift(r)) match {
                case (None, Some((id, v))) =>
                  out += RankChange("+I", key, r + 1, id, v, next())
                case (Some((oid, ov)), Some((nid, nv))) if oid != nid || ov != nv =>
                  out += RankChange("-U", key, r + 1, oid, ov, next())
                  out += RankChange("+U", key, r + 1, nid, nv, next())
                case (Some((oid, ov)), None) =>
                  out += RankChange("-D", key, r + 1, oid, ov, next())
                case _ => // rank occupant unchanged
              }
            }
          val ordered = it.toArray.sortBy(c =>
            (c.ts, if (c.kind == "-U" || c.kind == "-D") 0 else 1, c.id))
          // O(1) head guard: the head (top-N) can only change when the
          // inserted or removed key sorts at-or-before the current floor
          // (the N-th key) — two comparator calls decide it, so the
          // dominant below-floor change never materializes or compares a
          // top buffer (measured: the per-change topN()+equality alone held
          // the global sort-limit at 95 s on the sf10 stream)
          def inHead(key: (Double, Long)): Boolean =
            top.length < n || rankOrder.compare(key, (top.last._2, top.last._1)) <= 0
          ordered.foreach { c =>
            val affected = c.kind match {
              case "+I" | "+U" =>
                val old = idToVal.put(c.id, c.value)
                if (old != null) index.remove((old.doubleValue, c.id))
                index.put((c.value, c.id), c.id)
                inHead((c.value, c.id)) ||
                  (old != null && inHead((old.doubleValue, c.id)))
              case "-U" | "-D" =>
                val old = idToVal.remove(c.id)
                if (old != null) index.remove((old.doubleValue, c.id))
                old != null && inHead((old.doubleValue, c.id))
              case other => throw new IllegalArgumentException(s"RowKind $other")
            }
            if (affected) {
              val after = topN()
              if (after != top) { emitDiff(top, after); top = after }
            }
          }
          val rows = {
            val b = Map.newBuilder[Long, Double]
            idToVal.forEach((id, v) => b += (id.longValue -> v.doubleValue))
            b.result()
          }
          state.update(RankState(rows, top.map(_._1).toList, top.map(_._2).toList, seq))
          out.iterator
      }
  }

  private[streaming] case class AggState(count: Long, sumMicros: Long, nextSeq: Long)

  /** Retracting group aggregate — the consumer half of GroupAggFunction
    * (flink-table-runtime-blink/.../aggregate/GroupAggFunction.java:141-169):
    * ingest a -U/+U changelog, REGROUP by a derived dimension (here the
    * value's decile bucket), and maintain per-group accumulators that an
    * update can both leave (-U routes to the OLD value's bucket) and enter
    * (+U to the new one). Emits the aggregate's own changelog: +I when a
    * group first fills, -U/+U around every accumulator update, -D when it
    * empties — exactly the RowKind protocol the reference threads between
    * chained operators.
    *
    * Sums accumulate in integer micro-units: a retractable aggregate adds
    * and subtracts intermediate values, and float cancellation would make
    * the final accumulator depend on arrival history; integer arithmetic
    * makes it equal the plain sum over final rows, which is what the
    * composed-pipeline oracle asserts. `value` in and out is micros. */
  def retractingAgg(changes: Dataset[Change]): Dataset[Change] =
    retractingAggImpl(changes, miniBatch = false)

  /** Mini-batch variant (MiniBatchGroupAggFunction.java — fold the whole
    * micro-batch into the accumulator first, then emit at most ONE change
    * pair per group: +I when the group fills, -D when it empties,
    * -U(entry)/+U(exit) when the aggregate VALUE changed, nothing when it
    * didn't). Fold-equivalent to [[retractingAgg]] at every batch boundary
    * (family 22); shrinks the emitted changelog from O(input changes) to
    * O(touched groups) per batch. */
  def retractingAggMiniBatch(changes: Dataset[Change]): Dataset[Change] =
    retractingAggImpl(changes, miniBatch = true)

  private def retractingAggImpl(changes: Dataset[Change],
                                miniBatch: Boolean): Dataset[Change] = {
    import changes.sparkSession.implicits._
    def bucketOf(c: Change): Long = ((math.floor(c.value / 1e6).toLong % 10) + 10) % 10
    changes.groupByKey(bucketOf)
      .flatMapGroupsWithState[AggState, Change](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (bucket, it, state) =>
          var st = state.getOption.getOrElse(AggState(0L, 0L, 0L))
          val entry = st
          val out = scala.collection.mutable.ListBuffer.empty[Change]
          def emit(kind: String, sumMicros: Long): Unit = {
            st = st.copy(nextSeq = st.nextSeq + 1)
            out += Change(kind, 0L, bucket, st.nextSeq, sumMicros.toDouble)
          }
          it.toArray
            .sortBy(c => (c.ts, if (c.kind == "-U" || c.kind == "-D") 0 else 1, c.key, c.id))
            .foreach { c =>
              val before = st
              val d = c.value.toLong
              c.kind match {
                case "+I" | "+U" =>
                  st = st.copy(count = st.count + 1, sumMicros = st.sumMicros + d)
                case "-U" | "-D" =>
                  st = st.copy(count = st.count - 1, sumMicros = st.sumMicros - d)
                case other => throw new IllegalArgumentException(s"RowKind $other")
              }
              if (!miniBatch) {
                if (before.count == 0L) emit("+I", st.sumMicros)
                else if (st.count == 0L) emit("-D", before.sumMicros)
                else { emit("-U", before.sumMicros); emit("+U", st.sumMicros) }
              }
            }
          if (miniBatch) {
            if (entry.count == 0L && st.count > 0L) emit("+I", st.sumMicros)
            else if (entry.count > 0L && st.count == 0L) emit("-D", entry.sumMicros)
            else if (entry.count > 0L && st.count > 0L &&
                     st.sumMicros != entry.sumMicros) {
              emit("-U", entry.sumMicros); emit("+U", st.sumMicros)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Fold a rank changelog into the final rank table (the upsert merge on
    * (key, rnk) — what a sink keyed by rank position holds at the end). */
  def applyRankChanges(log: Seq[RankChange]): Map[(Long, Int), (Long, Double)] = {
    val tbl = scala.collection.mutable.Map.empty[(Long, Int), (Long, Double)]
    log.foreach { c =>
      c.kind match {
        case "+I" | "+U" => tbl((c.key, c.rnk)) = (c.id, c.value)
        case "-D" => tbl.remove((c.key, c.rnk))
        case "-U" => // always followed by the +U that overwrites
      }
    }
    tbl.toMap
  }

  /** Apply a changelog batch to a keyed store (the foreachBatch upsert
    * merge): +I/+U put, -D remove, -U ignored (always followed by +U). */
  def applyToStore(store: scala.collection.mutable.Map[Long, Change],
                   batch: Seq[Change]): Unit =
    batch.foreach { c =>
      c.kind match {
        case "+I" | "+U" => store(c.key) = c
        case "-D" => store.remove(c.key)
        case "-U" => // retraction of a value that +U will replace
      }
    }

  /** The CDC chain as ONE dataflow: upsert-source normalize (per-key
    * keep-last changelog) → retracting per-bucket aggregate → retractable
    * top-`n` buckets. Three Append-mode flatMapGroupsWithState operators
    * chain inside one Append query (none uses event-time state, so Spark's
    * global-watermark correctness check has nothing to reject); each
    * stage's state is checkpointed per micro-batch like a single-operator
    * query's. `miniBatch` selects the mini-batch stage variants
    * ([[keyedChangelogMiniBatch]], [[retractingAggMiniBatch]]). */
  def cdcChain(rows: Dataset[KeyedRow], n: Int, miniBatch: Boolean): Dataset[RankChange] =
    if (miniBatch) retractableTopN(retractingAggMiniBatch(keyedChangelogMiniBatch(rows)), n)
    else retractableTopN(retractingAgg(keyedChangelog(rows)), n)

  /** The highest committed rank-table snapshot `tableRoot/v<k>` with
    * `k < before` — committed meaning its `_SUCCESS` marker exists, so a
    * write cut short by a crash is never read. */
  def latestSnapshot(s: SparkSession, tableRoot: String, before: Long): Option[String] = {
    val root = new org.apache.hadoop.fs.Path(tableRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val Version = "v(\\d+)".r
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case Version(k) if k.toLong < before &&
            fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
          Some(k.toLong -> st.getPath.toString)
        case _ => None
      }
    }.maxByOption(_._1).map(_._2)
  }

  /** The upsert sink of [[qCdcPipeline]], a `foreachBatch` keyed MERGE:
    * each micro-batch of the rank changelog is reduced to its last change
    * per (key, rnk) slot (window on the emission `seq`) and merged into a
    * versioned parquet snapshot `tableRoot/v<batchId>` — untouched slots
    * carried by anti-join, +I/+U slots overwritten, -D slots dropped. Every
    * step is executor-side and the driver holds no rows: the delta-style
    * upsert-sink shape that scales with the slot count, not the churn.
    *
    * Restart-safe: the snapshot a batch merges into is found on disk
    * ([[latestSnapshot]] before `batchId`), not kept in driver memory, so a
    * query restarted from its checkpoint continues the same table; a
    * replayed batch rewrites its own `v<batchId>` from the same
    * predecessor, so replay is idempotent. */
  def rankTableSink(tableRoot: String): (Dataset[RankChange], Long) => Unit = {
    (batch, batchId) =>
      val s = batch.sparkSession
      // last change per (key, rnk) slot this batch, in emission order
      val lastPerSlot = batch.toDF()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("key", "rnk").orderBy(col("seq").desc)))
        .filter(col("rn") === 1).drop("rn")
      val upserts = lastPerSlot.filter(col("kind").isin("+I", "+U"))
        .select("key", "rnk", "id", "value")
      val touched = lastPerSlot.select("key", "rnk")
      val merged = latestSnapshot(s, tableRoot, batchId) match {
        case Some(prev) => s.read.parquet(prev)
          .join(touched, Seq("key", "rnk"), "left_anti").unionByName(upserts)
        case None => upserts
      }
      merged.write.mode("overwrite").parquet(s"$tableRoot/v$batchId")
  }

  /** CDC END-TO-END: upsert source → ChangelogNormalize → retracting
    * aggregate → retractable Top-N → upsert sink, composed as one dataflow
    * and gated on the final materialized state (the reference chain
    * StreamExecChangelogNormalize.scala:46 → GroupAggFunction.java:141 →
    * RetractableTopNFunction.java — every stage individually green in this
    * repo, here composed).
    *
    * The events table file-streams in as an upsert stream keyed by user
    * (each row = the user's new current value, quantized to micro-units at
    * the edge) through [[cdcChain]] — ONE StreamingQuery, as Flink fuses
    * the chain into one job, checkpointed under the invocation's relay dir
    * — into the [[rankTableSink]] upsert sink. Output: the final top-3
    * value-decile buckets by total of every user's LAST value — which the
    * DuckDB oracle recomputes from first principles (keep-last → bucket
    * sums → top 3). */
  def qCdcPipeline(s: SparkSession, dir: String): DataFrame =
    qCdcPipeline(s, dir, miniBatch = false)

  /** `miniBatch = true` runs the same chain through the mini-batch stage
    * variants ([[keyedChangelogMiniBatch]], [[retractingAggMiniBatch]] —
    * the reference's table.exec.mini-batch.enabled configuration): each
    * stage emits one change pair per touched key/group per micro-batch
    * instead of one per input change, so the rank fold sees O(groups) rows
    * rather than O(events). The final snapshot — and therefore the DuckDB
    * oracle — is identical; the sf10 probe measures the volume difference. */
  def qCdcPipeline(s: SparkSession, dir: String, miniBatch: Boolean): DataFrame = {
    import s.implicits._
    val relay = graft.RelayDir.fresh("cdc_relay", dir + (if (miniBatch) "_mb" else ""))
    val schema = graft.Tables.schema(s, dir, "events")
    val rows = graft.Tables.streamTable(s, dir, "events", schema)
      .select(col("user_id").as("key"), graft.Tables.tsAsMicrosLong(schema).as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"),
        round(col("value") * 1e6, 0).as("value"))
      .as[KeyedRow]
    val tableRoot = s"$relay/rank_table"
    Bounded.run(cdcChain(rows, 3, miniBatch)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$relay/ckpt")
      .foreachBatch(rankTableSink(tableRoot)))
    latestSnapshot(s, tableRoot, Long.MaxValue).map(s.read.parquet)
      .getOrElse(s.createDataset(Seq.empty[RankChange]).toDF())
      .select(col("rnk"), col("id").as("bucket"), (col("value") / 1e6).as("total"))
      .orderBy("rnk")
  }
}
