package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global row numbering: assign ids equal to `row_number()
  * over a TOTAL sort` — without the single-task global window that
  * expression actually plans (every row through one task: the q0d
  * scale-killer), and without `monotonically_increasing_id` (stable only
  * for one physical partitioning, gaps of 2^33 between partitions).
  *
  * The classic two-phase pattern:
  *   1. range partition + sort within partitions by the key — Spark's
  *      RangePartitioner guarantees every row of partition i orders
  *      before every row of partition i+1;
  *   2. fold each physical partition to its total in ONE map-only job
  *      and collect the #partitions-row result to the driver;
  *   3. exclusive prefix of those totals ON THE DRIVER, read back per
  *      row as `element_at(offsets literal, pid + 1)` — no join, no
  *      broadcast, and deliberately not a global window, so a plan gate
  *      can assert the whole operator contains ZERO empty-partitioning
  *      windows;
  *   4. id = partition offset + intra-partition rank (a window
  *      PARTITIONED by the physical partition id — parallel by
  *      construction).
  *
  * The assignment equals the total-sort numbering REGARDLESS of where
  * the sampled range boundaries land (offsets are computed from actual
  * counts), so the result is deterministic for a deterministic
  * `orderKeys`. `orderKeys` must be a total order (include a unique
  * tiebreaker) — equal keys across a partition boundary would otherwise
  * make the numbering boundary-dependent.
  */
object StableIds {

  def assign(df: DataFrame, orderKeys: Seq[Column], partitions: Int,
      idCol: String = "stable_id"): DataFrame = {
    require(orderKeys.nonEmpty, "orderKeys must be non-empty")
    val wLocal = Window.partitionBy(col("_sid_pid"))
      .orderBy(orderKeys: _*)
    withOffsets(pinned(df, orderKeys, partitions), lit(1L), 0L,
        Math.addExact(_: Long, _: Long))
      .withColumn(idCol,
        col("_sid_off") + row_number().over(wLocal).cast("long"))
      .drop("_sid_pid", "_sid_off")
  }

  /** Scale-safe EXCLUSIVE prefix sum over a total order: for each row, the
    * sum of `value` over all rows strictly before it — the generalization
    * of [[assign]] (which is the prefix sum of `value = 1`, shifted by
    * one). `SUM(x) OVER (ORDER BY …)` plans the same single-task
    * empty-partitioning window as global `row_number()`, so the same
    * two-phase shape applies: range partition + per-partition TOTALS
    * (null values add nothing), driver-side offsets, and a local running
    * sum windowed BY the physical partition id. Same
    * boundary-independence argument: offsets are actual per-partition
    * sums, so the result equals the single-node running total wherever
    * the sampled range boundaries land. `value` must be integral
    * (cast to long); `orderKeys` must be a total order. */
  def runningTotal(df: DataFrame, orderKeys: Seq[Column], value: Column,
      partitions: Int, outCol: String = "running_before"): DataFrame = {
    require(orderKeys.nonEmpty, "orderKeys must be non-empty")
    val wLocal = Window.partitionBy(col("_sid_pid"))
      .orderBy(orderKeys: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    withOffsets(pinned(df, orderKeys, partitions, Some(value)),
        col("_sid_v"), 0L, Math.addExact(_: Long, _: Long))
      .withColumn(outCol,
        col("_sid_off") + coalesce(sum(col("_sid_v")).over(wLocal), lit(0L)))
      .drop("_sid_pid", "_sid_off", "_sid_v")
  }

  /** Scale-safe INCLUSIVE running max over a total order — the watermark
    * shape: for each row, the max of `value` over all rows up to and
    * including it. Same two-phase plan as [[runningTotal]] with max as
    * the combine: range partition + per-partition maxima, driver-side
    * prefix maxima (`Long.MinValue` before the first non-null value),
    * and a local running max windowed by the physical partition id; the
    * result equals the single-node running max wherever the sampled
    * range boundaries land. `value` must be integral (cast to long). */
  def runningMax(df: DataFrame, orderKeys: Seq[Column], value: Column,
      partitions: Int, outCol: String = "running_max"): DataFrame = {
    require(orderKeys.nonEmpty, "orderKeys must be non-empty")
    val wLocal = Window.partitionBy(col("_sid_pid"))
      .orderBy(orderKeys: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    withOffsets(pinned(df, orderKeys, partitions, Some(value)),
        col("_sid_v"), Long.MinValue, math.max(_: Long, _: Long))
      .withColumn(outCol,
        greatest(max(col("_sid_v")).over(wLocal), col("_sid_off")))
      .drop("_sid_pid", "_sid_off", "_sid_v")
  }

  /** `df` range-partitioned and sorted by `orderKeys`, each row tagged
    * with its physical partition id (`_sid_pid`) and, when given, its
    * `value` as a long (`_sid_v`), materialized once.
    *
    * localCheckpoint is CORRECTNESS here, not lineage hygiene: the
    * ranged table feeds two jobs (the per-partition totals and the final
    * window), and `spark_partition_id()` is only meaningful if both see
    * the same physical partitioning. Without pinning, AQE may re-plan
    * the range exchange differently per job (local/split shuffle reads),
    * skewing pids between the offsets and the rows they offset —
    * observed at 2M rows (ScaleProbe `prefixsum`, wrong totals),
    * invisible at spec scale. Materializing once is the operator's
    * inherent cost: the numbered corpus is what it exists to produce. */
  private[graft] def pinned(df: DataFrame, orderKeys: Seq[Column],
      partitions: Int, value: Option[Column] = None): DataFrame = {
    val ranged = df
      .repartitionByRange(partitions, orderKeys: _*)
      .sortWithinPartitions(orderKeys: _*)
      .withColumn("_sid_pid", spark_partition_id())
    value.fold(ranged)(v => ranged.withColumn("_sid_v", v.cast("long")))
      .localCheckpoint()
  }

  /** `ranged` (a [[pinned]] frame) with `_sid_off`: the exclusive
    * prefix, in partition order, of each partition's fold of `value`
    * under `combine` from `zero` (null values are skipped, so a
    * partition of nulls contributes `zero`). One map-only job folds the
    * pinned partitions; the #partitions-row result is combined on the
    * driver and read back as an array literal indexed by `_sid_pid`. */
  private[graft] def withOffsets(ranged: DataFrame, value: Column, zero: Long,
      combine: (Long, Long) => Long): DataFrame = {
    val rows = ranged.select(col("_sid_pid"), value).queryExecution.toRdd
    val folded = rows.mapPartitions { it =>
      val acc = scala.collection.mutable.LongMap.empty[Long]
      it.foreach { r =>
        val pid = r.getInt(0).toLong
        if (!r.isNullAt(1))
          acc(pid) = combine(acc.getOrElse(pid, zero), r.getLong(1))
      }
      acc.iterator
    }.collect()
    val totals = Array.fill(rows.getNumPartitions)(zero)
    folded.foreach { case (pid, t) =>
      totals(pid.toInt) = combine(totals(pid.toInt), t) }
    val offsets = totals.scanLeft(zero)(combine).init
    ranged.withColumn("_sid_off",
      element_at(typedLit(offsets), col("_sid_pid") + 1))
  }
}
