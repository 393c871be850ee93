package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-bearing operators that must not collapse to a single task.
  *
  * A bare `row_number() OVER (ORDER BY ...)` forces every row through one
  * partition — fine at 1k rows, fatal at 100 TB. The scalable equivalent is
  * classic two-phase global numbering (RDD zipWithIndex semantics, expressed
  * in the DataFrame API so Catalyst still prunes/pushes down around it):
  *
  *   1. range-repartition by the sort key (partition p's keys all ≤ p+1's);
  *   2. per-partition row_number, partitioned by `spark_partition_id()` —
  *      parallel across all partitions;
  *   3. per-partition counts (tiny: one row per partition) → running-sum
  *      offsets, broadcast back and added.
  *
  * The only global window runs over ≤ numPartitions rows of counts.
  * Reference semantics: cudf sorted_order / stable argsort
  * (cpp/include/cudf/sorting.hpp:114), factorize (python frame.py:3608).
  *
  * CORRECTNESS HAZARD, handled here once for all helpers: the offsets
  * branch and the data branch both read the range-partitioned relation, and
  * `repartitionByRange` SAMPLES its bounds with a per-evaluation seed. When
  * Catalyst reuses the exchange the two branches agree; when a composed
  * plan defeats reuse, each branch gets different bounds and the offsets no
  * longer match the numbering (measured: duplicate global positions). The
  * ranged relation is therefore pinned with persist() so it is evaluated
  * exactly once — the distributed analogue of checkpointing partition
  * bounds before reuse. Blocks are MEMORY_AND_DISK and evicted LRU.
  */
object OrderedOps {

  // Every pin is tracked so long-lived sessions can release them: each
  // helper call persists one relation, and without a release hook a session
  // running thousands of queries accumulates cache entries until LRU
  // pressure evicts them. The registry is THREAD-LOCAL: pins are created at
  // plan-construction time on the calling thread, so scoping by thread
  // means clearPins() from one concurrent session thread (parallel
  // notebook cells) cannot unpersist another thread's not-yet-executed
  // pins — which would re-expose the re-sampling hazard the pin closes.
  // Callers with a clear query boundary (Verify/Bench loops, notebook
  // cells) call clearPins() on the same thread after the consuming action.
  // The registry holds RELEASE ACTIONS, not frames: an intermediate
  // persisted as an RDD behind createDataFrame (connected components'
  // labels) is not freed by unpersisting its DataFrame wrapper.
  private val pins = ThreadLocal.withInitial[java.util.ArrayDeque[() => Unit]](
    () => new java.util.ArrayDeque[() => Unit]())

  private[graft] def pinned(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    onClearPins(() => { p.unpersist(blocking = false); () })
    p
  }

  /** Registers `release` to run at this thread's next clearPins(). */
  private[graft] def onClearPins(release: () => Unit): Unit =
    pins.get().add(release)

  /** Unpersists every relation pinned ON THIS THREAD since the last call.
    * Safe ONLY after the consuming action has run — unpersisting a pin
    * before its query executes would re-expose the repartitionByRange
    * re-sampling hazard the pin exists to close; running a second action
    * on a frame after clearPins() re-samples likewise. */
  def clearPins(): Unit = {
    val q = pins.get()
    var release = q.poll()
    while (release != null) { release(); release = q.poll() }
  }

  /** Adds a global running total of `valueCol` in the order of `sortCols`
    * (cudf ungrouped cumulative scan, reduction.hpp scan; pandas cumsum).
    * Same two-phase shape as [[withGlobalRowNumber]]: per-partition prefix
    * sums in parallel, then per-partition totals (one row each) get a
    * running offset and broadcast back. Sum type follows the input column
    * (use an exact decimal for money columns).
    */
  def withRunningTotal(df: DataFrame, valueCol: Column, outCol: String,
                       sortCols: Seq[Column]): DataFrame = {
    // no explicit partition count: an explicit n pins the shuffle and AQE
    // cannot right-size it (32 near-empty tasks on a tiny frame locally, a
    // fixed 32 on a 100-TB frame on a cluster). Unpinned, the range shuffle
    // starts at spark.sql.shuffle.partitions and AQE coalesces ADJACENT
    // partitions to the advisory size — adjacency preserves range
    // contiguity, so the per-partition-id two-phase math stays exact.
    val ranged = pinned(df
      .repartitionByRange(sortCols: _*)
      .withColumn("__gpid", spark_partition_id())
      .withColumn("__gval", valueCol))
    val wLocal = Window.partitionBy(col("__gpid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = ranged.withColumn("__gprefix", sum(col("__gval")).over(wLocal))
    val offsets = ranged
      .groupBy(col("__gpid")).agg(sum(col("__gval")).as("__gtot"))
      .withColumn("__goff",
        // one row per range partition — a tiny relation, but partition
        // by a constant anyway: same single-task execution, and the
        // WindowExec "no partition defined" warning stays meaningful
        // for REAL unpartitioned-window regressions (the session
        // excludes EliminateWindowPartitions, which would fold the
        // deliberate constant away — see GraftSession)
        sum(col("__gtot")).over(Window.partitionBy(lit(0))
          .orderBy(col("__gpid")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__gpid"), col("__goff"))
    local
      .join(broadcast(offsets), Seq("__gpid"))
      .withColumn(outCol, col("__gprefix") + coalesce(col("__goff"), lit(0)))
      .drop("__gpid", "__gval", "__gprefix", "__goff")
  }

  /** Adds a GLOBAL forward-fill of `valueCol` in the order of `sortCols`
    * (pandas/cuDF fillna(method='ffill') WITHOUT a grouping key — the hard
    * distributed case, because the filling value can live in an earlier
    * partition). Same two-phase shape: per-partition last-non-null runs in
    * parallel; each partition's tail value (one row per partition) gets a
    * running carry from its predecessors; rows whose local fill is null
    * coalesce to the broadcast carry. The only global window runs over
    * ≤ numPartitions tail rows.
    */
  def withGlobalFfill(df: DataFrame, valueCol: Column, outCol: String,
                      sortCols: Seq[Column]): DataFrame = {
    val ranged = pinned(df
      .repartitionByRange(sortCols: _*)
      .withColumn("__gpid", spark_partition_id())
      .withColumn("__gval", valueCol))
    val wLocal = Window.partitionBy(col("__gpid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = ranged.withColumn("__glf",
      last(col("__gval"), ignoreNulls = true).over(wLocal))
      .withColumn("__glrn",
        row_number().over(Window.partitionBy(col("__gpid")).orderBy(sortCols: _*)))
    // per-partition tail = the local fill at the partition's LAST row in
    // window order. Taken via max_by over the same window's row_number —
    // not max_by over struct(sortCols), which would silently pick the wrong
    // end whenever a caller passes descending SortOrder columns (row_number
    // honors the declared ordering; a struct comparison is always
    // ascending).
    val tails = local
      .groupBy(col("__gpid"))
      .agg(max_by(col("__glf"), col("__glrn")).as("__gtail"))
    val carries = tails
      .withColumn("__gcarry",
        // one row per range partition — constant-partitioned (see cumsum)
        last(col("__gtail"), ignoreNulls = true)
          .over(Window.partitionBy(lit(0))
            .orderBy(col("__gpid")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__gpid"), col("__gcarry"))
    local
      .join(broadcast(carries), Seq("__gpid"))
      .withColumn(outCol, coalesce(col("__glf"), col("__gcarry")))
      .drop("__gpid", "__gval", "__glf", "__glrn", "__gcarry")
  }

  /** GLOBAL trailing rolling sum+count over a w-row frame in the order of
    * `sortCols` — WITHOUT the single-task `Window.orderBy(...)` a naive
    * global rolling would plan. Construction: two-phase global numbering,
    * then rows are grouped into fixed-size position blocks; the last w−1
    * rows of each block are REPLICATED into the next block as read-only
    * context, so every block's windows are complete locally. The window
    * partitions by block — parallel across ⌈N/block⌉ tasks; replica rows are
    * dropped after the frame aggregation (their own results are computed in
    * their home block). Shuffle cost: the numbering plus one exchange of
    * (rows + (w−1)/block replicas).
    */
  def withGlobalRolling(df: DataFrame, valueCol: Column,
                        sumCol: String, cntCol: String,
                        sortCols: Seq[Column], w: Int,
                        block: Int = 4096): DataFrame = {
    require(w >= 1 && block >= w, s"need block ($block) >= w ($w)")
    val numbered = withGlobalRowNumber(df, "__gpos", sortCols)
      .withColumn("__gval", valueCol)
    val withBlocks = numbered
      .withColumn("__own", expr(s"(__gpos - 1) div $block"))
      .withColumn("__blk", explode(
        when((col("__gpos") - 1) % block >= block - (w - 1),
          array(col("__own"), col("__own") + 1))
          .otherwise(array(col("__own")))))
    val wRoll = Window.partitionBy(col("__blk")).orderBy(col("__gpos"))
      .rowsBetween(-(w - 1), 0)
    withBlocks
      .withColumn(sumCol, sum(col("__gval")).over(wRoll))
      .withColumn(cntCol, count(lit(1)).over(wRoll))
      .filter(col("__blk") === col("__own"))
      .drop("__gpos", "__gval", "__own", "__blk")
  }

  /** Adds a 1-based global position column in the order of `sortCols`.
    * Deterministic when the composite sort key is unique (callers append a
    * unique tie-break key, same contract as cudf's stable argsort).
    */
  def withGlobalRowNumber(df: DataFrame, posCol: String, sortCols: Seq[Column]): DataFrame = {
    val ranged = pinned(df
      .repartitionByRange(sortCols: _*)
      .withColumn("__gpid", spark_partition_id()))
    val local = ranged.withColumn("__grn",
      row_number().over(Window.partitionBy(col("__gpid")).orderBy(sortCols: _*)))
    // one row per partition — the ONLY globally-windowed data
    val offsets = local
      .groupBy(col("__gpid")).agg(count(lit(1)).as("__gcnt"))
      .withColumn("__goff",
        coalesce(
          // one row per range partition — constant-partitioned (see cumsum)
          sum(col("__gcnt")).over(Window.partitionBy(lit(0))
            .orderBy(col("__gpid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__gpid"), col("__goff"))
    local
      .join(broadcast(offsets), Seq("__gpid"))
      .withColumn(posCol, (col("__goff") + col("__grn")).cast("long"))
      .drop("__gpid", "__grn", "__goff")
  }
}
