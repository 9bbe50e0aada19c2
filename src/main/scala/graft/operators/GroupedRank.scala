package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group ranks and ntile WITHOUT a per-group single-task sort.
  *
  * `row_number().over(Window.partitionBy(group).orderBy(...))` co-locates
  * each group in ONE task and sorts it there — with a handful of large
  * groups (e.g. event types) that is a few tasks each sorting billions of
  * rows at 100 TB. This operator computes the identical ranks with the
  * classic two-phase distributed scheme:
  *
  *  1. '''range partition''' the data by `(group, order...)` — Spark's
  *     sampled `RangePartitioning`, uniform regardless of group skew;
  *  2. '''local ranks''' within `(physical partition, group)` — the window
  *     groups are bounded by the partition size, never by group size;
  *  3. '''offsets''': per-(partition, group) counts form a tiny frame
  *     (numPartitions × numGroups rows); a prefix sum over partition id
  *     gives each slice's global offset, broadcast-joined back.
  *
  * `rank = offset + local rank` is exact because range partitioning puts
  * every row of partition i before every row of partition j > i in
  * `(group, order)` order. `orderCols` must be a total order within each
  * group (tie rows may otherwise land in either of two adjacent
  * partitions, making offsets ambiguous) — same requirement a
  * deterministic `ntile` has anyway.
  *
  * The two consumers of the ranked frame (counts and the final join) MUST
  * observe ONE physical instance of the range exchange. That is a
  * CORRECTNESS dependency, not just a cost one: range boundaries are
  * sampled per exchange instance (seeded by the sampled RDD's id), so two
  * independent materializations place boundary rows in different physical
  * partitions and the offsets disagree with the local ranks.
  *
  * Through r18 this relied on `ReusedExchange`, whose matching is
  * exchange-SUBTREE identity — and the optimizer silently breaks that
  * identity by COLUMN-PRUNING the counts branch (it needs only the group
  * columns; the rank branch carries the payload), after which each branch
  * materializes its own independently-sampled exchange. The r18
  * `spearman_qty_price` oracle failure was exactly this desync surfacing
  * under a changed AQE layout. r19 removes the reliance entirely: the
  * ranged plan is materialized ONCE to an `RDD[InternalRow]` handle
  * (`queryExecution.toRdd`) and wrapped back as a DataFrame
  * ([[org.apache.spark.sql.graftshim.Bridge.ofInternalRdd]]); every
  * consumer reads that one handle, the shuffle's map output is computed
  * once and reused across their jobs (no extra copy vs the ReusedExchange
  * plan), and no optimizer rewrite can fork it. The explicit partition
  * count additionally keeps `spark_partition_id()` = range bucket id under
  * any AQE coalescing config (REPARTITION_BY_NUM is coalesce-exempt). The
  * GroupedRankSpec hostile-AQE pins (including the stacked-rank spearman
  * shape that reproduced the r18 failure) are mandatory for any change to
  * this file.
  */
object GroupedRank {

  /** `df` plus `rankCol`: the row's 1-based rank within its `groupCols`
    * group under `orderCols`. An EMPTY `groupCols` gives a scale-safe
    * GLOBAL rank — the offsets frame is then one row per physical
    * partition, and no task ever sorts more than its own partition (the
    * `row_number().over(Window.orderBy(...))` alternative funnels the
    * entire dataset through one task).
    *
    * '''Eager, and an optimizer barrier.''' The call runs the range
    * exchange's sampling (and, under AQE, its shuffle map stages) before it
    * returns, and the result reads that one materialized exchange, so no
    * filter or projection applied to the result pushes down past it: the
    * whole of `df` is always shuffled. Filter and project `df` before
    * calling this, not after. */
  def withGroupRank(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      rankCol: String = "rank"): DataFrame = {
    // correctness dependency, not just cost (see class doc): the counts
    // branch and the join branch MUST read one physical range exchange
    // EXPLICIT partition count: a count-less `repartitionByRange` plans a
    // REPARTITION_BY_COL shuffle, which AQE's partition coalescing may
    // legally rewrite per consumer stage, desyncing `spark_partition_id()`
    // between branches. REPARTITION_BY_NUM is coalesce-exempt, so pid =
    // range bucket id under ANY AQE configuration. The count is
    // conf-derived (spark.sql.shuffle.partitions), not a constant.
    val numParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged0 =
      df.repartitionByRange(numParts, (groupCols.map(col) ++ orderCols): _*)
    // ONE physical instance of the range exchange, by construction (see the
    // class doc): materialize the ranged plan to a single RDD handle and
    // wrap it back. Both consumers below read THIS handle — the optimizer
    // cannot column-prune its way into a second, independently-sampled
    // exchange (the r18 spearman_qty_price desync). The map output is
    // computed once; each consumer job re-reads shuffle files only, same
    // I/O profile as the ReusedExchange plan this replaces.
    val ranged = org.apache.spark.sql.graftshim.Bridge
      .ofInternalRdd(df.sparkSession, ranged0.queryExecution.toRdd, ranged0.schema)
      .withColumn("__graft_pid", spark_partition_id())
    val wLocal = Window
      .partitionBy(("__graft_pid" +: groupCols).map(col): _*)
      .orderBy(orderCols: _*)
    val local = ranged.withColumn("__graft_lrn", row_number().over(wLocal))
    val counts = local
      .groupBy(("__graft_pid" +: groupCols).map(col): _*)
      .agg(count(lit(1)).as("__graft_c"))
    val wOff = Window.partitionBy(groupCols.map(col): _*)
      .orderBy("__graft_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__graft_off", coalesce(sum("__graft_c").over(wOff), lit(0L)))
      .select(("__graft_pid" +: groupCols).map(col) :+ col("__graft_off"): _*)
    // NULL-SAFE group equality: groupBy/Window treat NULL as an ordinary
    // group, so the join back must too — a plain equi-join would silently
    // drop every NULL-group row
    val offR = groupCols.foldLeft(
        offsets.withColumnRenamed("__graft_pid", "__graft_o_pid")) {
        (d, c) => d.withColumnRenamed(c, s"__graft_o_$c")
      }
    val cond = (Seq(col("__graft_pid") === col("__graft_o_pid")) ++
      groupCols.map(c => col(c) <=> col(s"__graft_o_$c"))).reduce(_ && _)
    local
      .join(broadcast(offR), cond)
      .withColumn(rankCol, col("__graft_off") + col("__graft_lrn"))
      .drop(Seq("__graft_pid", "__graft_lrn", "__graft_off", "__graft_o_pid") ++
        groupCols.map(c => s"__graft_o_$c"): _*)
  }

  /** `df` plus `ntileCol`: the row's `ntile(k)` bucket within its group
    * under `orderCols` — bit-identical to
    * `ntile(k).over(Window.partitionBy(group).orderBy(order))`, derived
    * from the distributed rank by the ntile size formula (the first
    * `n mod k` buckets get `n/k + 1` rows, the rest `n/k`). Adds one
    * per-group total-count aggregate (numGroups rows, broadcast). */
  def withGroupNtile(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      k: Int,
      ntileCol: String = "ntile"): DataFrame = {
    require(k > 0, "ntile bucket count must be positive")
    // Column./ is true (double) division — floor() it back to integral.
    // Exact while operands < 2^53, i.e. for any group a Long can count.
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val n = col("__graft_n")
    val q = idiv(n, lit(k))
    val rem = n % k
    val cut = rem * (q + 1) // rows in the first `rem` (larger) buckets
    val r0 = col("__graft_grank") - 1
    val bucket = when(r0 < cut, idiv(r0, q + 1) + 1)
      .otherwise(rem + idiv(r0 - cut, greatest(q, lit(1L))) + 1)
    rankedWithTotal(df, groupCols, orderCols, ntileCol, bucket.cast("int"))
  }

  /** Per-group PERCENTILE NORMALIZATION: each row tagged with its in-group
    * percentile in ppm — `pct_ppm = (rank−1)·10⁶ div max(n−1, 1)` (0 for
    * the group's smallest row, 10⁶ for its largest; a single-row group
    * reports 0). The cross-source score-calibration step of a curation
    * pipeline: raw quality scores aren't comparable across sources with
    * different scales, their in-source percentiles are — normalize per
    * source, THEN apply one global threshold. Integer-exact (rank and
    * count arithmetic only), so exactly SQL-replayable.
    *
    * Same machinery and scale shape as [[withGroupNtile]]: one
    * range-partitioned rank (no per-group single-task sort) + one
    * broadcast totals join. */
  def withGroupPercentile(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      pctCol: String = "pct_ppm"): DataFrame =
    rankedWithTotal(df, groupCols, orderCols, pctCol, expr(
      "((__graft_grank - 1) * 1000000L) div greatest(__graft_n - 1, 1L)"))

  /** `df` plus `outCol = value`, where `value` reads the row's in-group
    * rank (`__graft_grank`, [[withGroupRank]]) and its group's row count
    * (`__graft_n`, one per-group total-count aggregate, broadcast). */
  private def rankedWithTotal(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      outCol: String,
      value: Column): DataFrame = {
    val ranked = withGroupRank(df, groupCols, orderCols, "__graft_grank")
    val totals = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
    // null-safe on the group columns for the same reason as the rank join
    val totR = groupCols.foldLeft(totals) { (d, c) =>
      d.withColumnRenamed(c, s"__graft_t_$c")
    }
    val withTotals =
      if (groupCols.isEmpty) ranked.crossJoin(broadcast(totR))
      else ranked.join(broadcast(totR),
        groupCols.map(c => col(c) <=> col(s"__graft_t_$c")).reduce(_ && _))
    withTotals
      .withColumn(outCol, value)
      .drop("__graft_grank" +: "__graft_n" +:
        groupCols.map(c => s"__graft_t_$c"): _*)
  }
}
