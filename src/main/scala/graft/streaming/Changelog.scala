package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

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
  *
  * The changelog operators (`keyedChangelog`, `retractingAgg`,
  * `retractableTopN` and the two mini-batch forms) are [[KeyedFold]]s over
  * [[Change]]s or [[KeyedRow]]s: one per-row definition each, run on the
  * sorted scan for a bounded Dataset and on `flatMapGroupsWithState` for a
  * stream, in the order their [[KeyOrder]] declares.
  */
object Changelog {

  case class Change(kind: String, key: Long, id: Long, ts: Long, value: Double)

  private val retractFirst = Term[Change](when(col("kind").isin("-U", "-D"), 0L).otherwise(1L),
    c => if (c.kind == "-U" || c.kind == "-D") 0L else 1L)
  /** Changes by `key`, in (ts, retract before accumulate, id) order. */
  private val byKey = KeyOrder[Change](Term(col("key"), _.key), Term(col("ts"), _.ts),
    retractFirst, Term(col("id"), _.id))
  /** Changes by their value's decile bucket (values in micros), ties
    * broken by (retract before accumulate, key, id). */
  private val byBucket = KeyOrder[Change](
    Term(pmod(floor(col("value") / 1e6), lit(10L)), c => ((math.floor(c.value / 1e6).toLong % 10) + 10) % 10),
    Term(col("ts"), _.ts), retractFirst, Term(col("key"), _.key), Term(col("id"), _.id))

  /** Update-mode keyed changelog: for every arriving row that becomes the
    * new "last row" of its key, emit (-U previous) then (+U new) — or (+I)
    * if the key is new. Late/stale rows emit nothing. */
  def keyedChangelog(rows: Dataset[KeyedRow]): Dataset[Change] = {
    import rows.sparkSession.implicits._
    KeyedFold.run(rows, new LastRowFold {
      def step(key: Long, cur: LastRowEmit, r: KeyedRow) = {
        val next = latest(key, cur, r)
        (next, changes(key, cur, next))
      }
    })
  }

  /** Mini-batch variant (the reference's
    * operators/deduplicate/ProcTimeMiniBatchDeduplicateKeepLastRowFunction
    * .java shape, the table.exec.mini-batch.enabled production config):
    * fold the whole micro-batch per key and emit at most ONE change pair —
    * +I if the key is new, -U(batch-entry last)/+U(batch-exit last) if it
    * changed, nothing otherwise. Fold-equivalent to [[keyedChangelog]] at
    * every batch boundary (family 22 proves it on seeded streams) while
    * shrinking the emitted changelog from O(input rows) to O(touched
    * keys) per batch — the downstream-volume lever at 100 TB. */
  def keyedChangelogMiniBatch(rows: Dataset[KeyedRow]): Dataset[Change] = {
    import rows.sparkSession.implicits._
    KeyedFold.run(rows, new LastRowFold {
      def step(key: Long, cur: LastRowEmit, r: KeyedRow) = (latest(key, cur, r), Nil)
      override def finish(key: Long, entry: LastRowEmit, cur: LastRowEmit) =
        (cur, changes(key, entry, cur))
    })
  }

  /** A key's last row by (ts, id); `noRow` before its first row. */
  private abstract class LastRowFold extends RowFold[LastRowEmit, Change] {
    def init = noRow
  }
  private val noRow = LastRowEmit(0L, Long.MinValue, Long.MinValue, 0.0)
  private def latest(key: Long, cur: LastRowEmit, r: KeyedRow): LastRowEmit =
    if (cur == noRow || r.ts > cur.ts || (r.ts == cur.ts && r.id > cur.id))
      LastRowEmit(key, r.id, r.ts, r.value)
    else cur // stale row: no change
  /** The changes that take a key's last row from `before` to `after`. */
  private def changes(key: Long, before: LastRowEmit, after: LastRowEmit): List[Change] =
    if (after == before) Nil
    else if (before == noRow) List(Change("+I", key, after.id, after.ts, after.value))
    else List(Change("-U", key, before.id, before.ts, before.value),
      Change("+U", key, after.id, after.ts, after.value))

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
    * (id → value) map. This is what the state store keeps; a bundle works
    * on it as a [[RankWork]]. */
  case class RankState(rows: Map[Long, Double], topIds: List[Long],
                       topVals: List[Double], nextSeq: Long)

  /** Rank order: value DESC, id ASC — a strict total order (ids unique),
    * realized as a comparator so an ORDERED index can maintain it. */
  private val rankOrder = new java.util.Comparator[(Double, Long)] with Serializable {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val byVal = java.lang.Double.compare(b._1, a._1) // DESC
      if (byVal != 0) byVal else java.lang.Long.compare(a._2, b._2) // ASC
    }
  }

  /** [[retractableTopN]]'s working state: the key's (id → value) map, the
    * same rows in an ORDERED index (the reference's sorted-map state,
    * RetractableTopNFunction.java:83 `treeMap`), the current top-N and the
    * emission seq. A step updates it in place, so every change is
    * O(log m) and the top-N read is O(n) off the head — no full-map rescan
    * anywhere. The earlier partial-selection repair was O(m) per
    * top-occupant change, and the GLOBAL sort-limit (one key whose map is
    * the whole stream) paid it constantly: the sf10 probe measured 150 s /
    * 198x data-scaling on exactly that; the tree form is ~20x faster there
    * and scales O(changes · log m). Its state encoder stores it as a
    * [[RankState]] and builds the index again when a bundle loads it:
    * O(m log m) once per key per micro-batch, never per row. */
  private[streaming] final class RankWork(st: RankState) {
    val idToVal = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    val index = new java.util.TreeSet[(Double, Long)](rankOrder)
    var top: Seq[(Long, Double)] = st.topIds.zip(st.topVals)
    var seq: Long = st.nextSeq
    st.rows.foreach { case (id, v) => idToVal.put(id, v); index.add((v, id)) }

    def state: RankState = RankState(idToVal.asScala.map { case (id, v) => id.longValue -> v.doubleValue }
      .toMap, top.map(_._1).toList, top.map(_._2).toList, seq)
  }

  /** Built once per JVM — see [[StateEncoder]]. */
  private implicit val rankWorkEncoder: Encoder[RankWork] =
    StateEncoder.stored[RankWork, RankState](_.state, new RankWork(_))

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
    KeyedFold.run(changes, new KeyedFold[Change, RankWork, RankChange](byKey) {
      def init = new RankWork(RankState(Map.empty, Nil, Nil, 0L))
      private def topN(w: RankWork): Seq[(Long, Double)] =
        w.index.iterator().asScala.take(n).map { case (v, id) => (id, v) }.toVector
      private def diff(key: Long, w: RankWork, before: Seq[(Long, Double)],
                       after: Seq[(Long, Double)]): List[RankChange] =
        (0 until n).toList.flatMap { r =>
          def change(kind: String, occupant: (Long, Double)) = {
            w.seq += 1; RankChange(kind, key, r + 1, occupant._1, occupant._2, w.seq)
          }
          (before.lift(r), after.lift(r)) match {
            case (None, Some(a)) => List(change("+I", a))
            case (Some(b), Some(a)) if b != a => List(change("-U", b), change("+U", a))
            case (Some(b), None) => List(change("-D", b))
            case _ => Nil // rank occupant unchanged
          }
        }
      def step(key: Long, w: RankWork, c: Change) = {
        // O(1) head guard: the head (top-N) can only change when the
        // inserted or removed key sorts at-or-before the current floor
        // (the N-th key) — two comparator calls decide it, so the
        // dominant below-floor change never materializes or compares a
        // top buffer (measured: the per-change topN()+equality alone held
        // the global sort-limit at 95 s on the sf10 stream)
        def inHead(k: (Double, Long)): Boolean =
          w.top.length < n || rankOrder.compare(k, (w.top.last._2, w.top.last._1)) <= 0
        val affected = c.kind match {
          case "+I" | "+U" =>
            val old = w.idToVal.put(c.id, c.value)
            if (old != null) w.index.remove((old.doubleValue, c.id))
            w.index.add((c.value, c.id))
            inHead((c.value, c.id)) || (old != null && inHead((old.doubleValue, c.id)))
          case "-U" | "-D" =>
            val old = w.idToVal.remove(c.id)
            if (old != null) w.index.remove((old.doubleValue, c.id))
            old != null && inHead((old.doubleValue, c.id))
          case other => throw new IllegalArgumentException(s"RowKind $other")
        }
        if (!affected) (w, Nil)
        else {
          val after = topN(w)
          if (after == w.top) (w, Nil)
          else { val out = diff(key, w, w.top, after); w.top = after; (w, out) }
        }
      }
    })
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
  def retractingAgg(changes: Dataset[Change]): Dataset[Change] = {
    import changes.sparkSession.implicits._
    KeyedFold.run(changes, new AggFold {
      def step(bucket: Long, st: AggState, c: Change) = {
        val next = accumulate(st, c)
        if (st.count == 0L) emit(bucket, next, "+I" -> next.sumMicros)
        else if (next.count == 0L) emit(bucket, next, "-D" -> st.sumMicros)
        else emit(bucket, next, "-U" -> st.sumMicros, "+U" -> next.sumMicros)
      }
    })
  }

  /** Mini-batch variant (MiniBatchGroupAggFunction.java — fold the whole
    * micro-batch into the accumulator first, then emit at most ONE change
    * pair per group: +I when the group fills, -D when it empties,
    * -U(entry)/+U(exit) when the aggregate VALUE changed, nothing when it
    * didn't). Fold-equivalent to [[retractingAgg]] at every batch boundary
    * (family 22); shrinks the emitted changelog from O(input changes) to
    * O(touched groups) per batch. */
  def retractingAggMiniBatch(changes: Dataset[Change]): Dataset[Change] = {
    import changes.sparkSession.implicits._
    KeyedFold.run(changes, new AggFold {
      def step(bucket: Long, st: AggState, c: Change) = (accumulate(st, c), Nil)
      override def finish(bucket: Long, entry: AggState, st: AggState) =
        if (entry.count == 0L && st.count > 0L) emit(bucket, st, "+I" -> st.sumMicros)
        else if (entry.count > 0L && st.count == 0L) emit(bucket, st, "-D" -> entry.sumMicros)
        else if (entry.count > 0L && st.count > 0L && st.sumMicros != entry.sumMicros)
          emit(bucket, st, "-U" -> entry.sumMicros, "+U" -> st.sumMicros)
        else (st, Nil)
    })
  }

  /** A value bucket's (count, sum) accumulator over changes keyed by
    * bucket. Its output is the bucket's changelog, with the emission seq
    * in `ts` and the bucket in `id`. */
  private abstract class AggFold extends KeyedFold[Change, AggState, Change](byBucket) {
    def init = AggState(0L, 0L, 0L)
  }
  private def accumulate(st: AggState, c: Change): AggState = c.kind match {
    case "+I" | "+U" => st.copy(count = st.count + 1, sumMicros = st.sumMicros + c.value.toLong)
    case "-U" | "-D" => st.copy(count = st.count - 1, sumMicros = st.sumMicros - c.value.toLong)
    case other => throw new IllegalArgumentException(s"RowKind $other")
  }
  private def emit(bucket: Long, st: AggState, kinds: (String, Long)*): (AggState, List[Change]) =
    (st.copy(nextSeq = st.nextSeq + kinds.size), kinds.toList.zipWithIndex.map {
      case ((kind, sumMicros), i) => Change(kind, 0L, bucket, st.nextSeq + i + 1, sumMicros.toDouble)
    })

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
    * top-`n` buckets. On a stream the three keyed folds run as three
    * Append-mode `flatMapGroupsWithState` operators chained inside one
    * Append query (none uses event-time state, so Spark's global-watermark
    * correctness check has nothing to reject); each stage's state is
    * checkpointed per micro-batch like a single-operator query's. `miniBatch` selects the mini-batch stage variants
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
