package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** Bounded-memory per-key ordered scan: the sorted-input driver that runs a
  * [[KeyedFold]] (and the CEP NFA, [[Cep.matchBatch]]) on bounded input, in
  * the order its [[KeyOrder]] declares —
  * Flink 1.12's BATCH runtime mode feeds its keyed operators key-sorted
  * input the same way (SortingDataInput), and RowTimeSortOperator.java
  * (flink-table-runtime-blink operators/sort/) keeps the same discipline:
  * never materialize a key group, only hold the open pane / run set.
  *
  * `repartition(key) + sortWithinPartitions(key, order…)` delegates the
  * secondary sort to Spark's UnsafeExternalRowSorter, which SPILLS TO DISK —
  * so a skewed key (one user with 10⁸ events) costs disk, not executor heap.
  * The subsequent `mapPartitions` walks each partition once; key-group
  * boundaries are detected by comparing adjacent keys (all rows of one key
  * land in one partition because the repartition hashes on exactly `key`).
  * Per-key state is whatever the operator callback keeps — O(1) for running
  * aggregates, O(pane) for evicting windows, O(active runs) for CEP — never
  * O(group).
  *
  * Contrast with `groupByKey.flatMapGroups` + per-key `toArray.sortBy`
  * (the shape this replaces): that buffers the entire key group in an
  * in-memory array to establish its order, which OOMs on a skewed key.
  */
object SortedScan {

  /** Scan each key's rows in `order`. `f` receives the key and a
    * LAZY iterator over that key's rows (valid only until `f`'s result
    * iterator is exhausted — do not retain it); its output is emitted as
    * produced, so neither input nor output of a key group is materialized.
    *
    * `prePartitionedByKey = true` skips the hash exchange: the caller
    * guarantees all rows of one key already share a partition (e.g. the
    * output of a window over the same key) — reusing the upstream
    * partitioning instead of shuffling the data a second time. */
  private[streaming] def perKeyOrdered[I, T: Encoder](rows: Dataset[I], order: KeyOrder[I],
                                                     prePartitionedByKey: Boolean = false)(
      f: (Long, Iterator[I]) => Iterator[T]): Dataset[T] = {
    val keyOf = order.key.of
    val clustered = if (prePartitionedByKey) rows else rows.repartition(order.key.column)
    clustered
      .sortWithinPartitions(order.key.column +: order.columns: _*)
      .mapPartitions { it => new KeyGroupScan(it.buffered, keyOf, f) }
  }

  /** Iterator over a (key-clustered, in-key-sorted) partition that hands
    * each key group to `f` as a bounded sub-iterator and flattens the
    * results. The previous group's unread tail is drained before the next
    * group starts, so `f` may stop reading early (e.g. first-match-wins). */
  private final class KeyGroupScan[I, T](
      rows: BufferedIterator[I], keyOf: I => Long,
      f: (Long, Iterator[I]) => Iterator[T]) extends Iterator[T] {

    private final class Group(val key: Long) extends Iterator[I] {
      def hasNext: Boolean = rows.hasNext && keyOf(rows.head) == key
      def next(): I = { if (!hasNext) throw new NoSuchElementException; rows.next() }
      def drain(): Unit = while (hasNext) rows.next()
    }

    private var group: Group = null
    private var out: Iterator[T] = Iterator.empty

    @annotation.tailrec
    def hasNext: Boolean =
      out.hasNext || {
        if (group != null) { group.drain(); group = null }
        rows.hasNext && {
          group = new Group(keyOf(rows.head))
          out = f(group.key, group)
          hasNext
        }
      }

    def next(): T = { if (!hasNext) throw new NoSuchElementException; out.next() }
  }
}
