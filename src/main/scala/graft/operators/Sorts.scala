package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global sort, secondary sort, and top-k operators.
  *
  * Re-expresses:
  *  - Sort/TeraSort total-order sort (examples Sort.java:57, terasort/TeraSort.java:55
  *    with TotalOrderPartitioner .../lib/partition/TotalOrderPartitioner.java:50):
  *    Spark `orderBy` = sampled RangePartitioning — the sampling job, split
  *    points, and trie are all built in.
  *  - SecondarySort (examples SecondarySort.java:51: FirstPartitioner :133 +
  *    FirstGroupingComparator :145 — sort by (first, second), group by first):
  *    typed form uses `flatMapSortedGroups` (one shuffle, values streamed to
  *    the function in sorted order — no per-group materialization, safe for
  *    groups larger than memory at 100 TB); columnar form uses an ordered
  *    struct-sort aggregation.
  *  - Grep job 2's top-k-by-count (examples Grep.java:87-91, one reducer +
  *    descending comparator): `orderBy(...).limit(k)` plans
  *    TakeOrderedAndProject — a true distributed top-k (per-partition heaps,
  *    merged on the driver), strictly better than the reference's 1-reducer
  *    funnel.
  */
object Sorts {

  /** Total-order sort (RangePartitioning under the hood). */
  def totalSort(df: DataFrame, keys: Seq[Column]): DataFrame = df.orderBy(keys: _*)

  /** Typed secondary sort: group by `key`, stream each group's rows to `f`
    * ordered by `sortCols` within the group. */
  def secondarySort[K: Encoder, T: Encoder, U: Encoder](
      ds: Dataset[T], key: T => K, sortCols: Seq[Column])(
      f: (K, Iterator[T]) => IterableOnce[U]): Dataset[U] =
    ds.groupByKey(key).flatMapSortedGroups(sortCols: _*)(f)

  /** Columnar secondary sort: per group, collect `payload` ordered by
    * `orderCols` (ties broken by payload) into an array. Deterministic iff
    * (orderCols, payload) is unique per row.
    *
    * MEMORY CONTRACT: the whole group materializes in one aggregation
    * buffer (collect_list), so group sizes must be bounded by the data
    * model (q07 groups lineitem by order: <= 7 rows). For unbounded or
    * skew-prone groups use [[flatMapSortedGroups]], which STREAMS each
    * group's sorted rows through the callback without materializing it —
    * the 100 TB-safe form of the reference's reducer value stream. */
  def sortedGroupList(df: DataFrame, groupCols: Seq[Column],
                      orderCols: Seq[Column], payload: Column,
                      alias: String = "values"): DataFrame = {
    val packed = struct(
      orderCols.zipWithIndex.map { case (c, i) => c.as(s"__o$i") } :+ payload.as("__p"): _*)
    df.groupBy(groupCols: _*)
      .agg(transform(array_sort(collect_list(packed)),
        x => x.getField("__p")).as(alias))
  }

  /** Global top-k: plans TakeOrderedAndProject (distributed heap top-k). */
  def topK(df: DataFrame, orderCols: Seq[Column], k: Int): DataFrame =
    df.orderBy(orderCols: _*).limit(k)

  /** Per-group top-k via row_number window; include deterministic tiebreak
    * columns in `orderCols`. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rankAlias: String = "rn"): DataFrame = {
    val w = Window.partitionBy(groupCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankAlias, row_number().over(w))
      .filter(col(rankAlias) <= k)
      .drop(rankAlias)
  }

  /** Global 0-based dense rank by `orderCols` — distributed zipWithIndex:
    * every row gets its exact position in the total order WITHOUT the
    * single-partition window `row_number().over(Window.orderBy(...))` plans
    * (the same scale-killer the packing prefix sum and the q78 probe
    * derivation design around).
    *
    * Shape: range-repartition on the keys (the TeraSort sampler picks the
    * boundaries), count rows per physical partition, cumulate those ≤
    * numParts counts in one bounded window, broadcast the per-partition
    * bases back, and add the intra-partition row_number — each window
    * partition holds one shuffle partition's rows, the same boundedness as
    * any shuffle at the configured parallelism. Output positions depend
    * only on the total key order, not on where the sampled range boundaries
    * land, so the result is deterministic as long as `orderCols` is a total
    * order (make it unique — add a tiebreak column — or equal keys get an
    * arbitrary but stable-within-run order).
    *
    * Eager: the pid-stamped rows are a [[Snapshot]] taken while the frame
    * is built (one job, the input rows once). Returns the input columns
    * plus `posAlias` (0-based long), and the thunk releasing the snapshot:
    * call it after the last action on the frame, which then fails loudly if
    * read again. A caller that drops the thunk leaves the snapshot to go
    * once the frame is garbage (see [[Snapshot]]). */
  def globalOrderIndex(df: DataFrame, orderCols: Seq[Column],
                       posAlias: String = "pos",
                       numParts: Int = 0): (DataFrame, () => Unit) = {
    require(orderCols.nonEmpty)
    val parts =
      if (numParts > 0) df.repartitionByRange(numParts, orderCols: _*)
      else df.repartitionByRange(orderCols: _*)
    // The snapshot is CORRECTNESS, not caching: the pid-stamped frame feeds
    // two branches (per-partition counts, and the rows themselves), and
    // without it each branch re-runs the range shuffle with its own sampled
    // boundaries — inconsistent pids between branches would corrupt every
    // position. One materialization pins one partitioning. (Also shields
    // the stamp from AQE re-splitting.)
    val pinned = Snapshot.take(parts.withColumn("__pid", spark_partition_id()))
    val bases = pinned.groupBy("__pid").agg(count(lit(1)).as("__c"))
      .withColumn("__base",
        coalesce(sum("__c").over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__base"))
    val intra = Window.partitionBy("__pid").orderBy(orderCols: _*)
    val out = pinned
      .join(broadcast(bases), Seq("__pid"))
      .withColumn(posAlias, col("__base") + row_number().over(intra) - 1)
      .drop("__pid", "__base")
    (out, () => Snapshot.release(pinned))
  }
}
