package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GroupedRank.{Local, Offset}

/** Exact per-group RUNNING MAX without a per-group single-task sort —
  * [[GroupedRank]]'s two-phase range-partition scheme applied to a
  * cumulative extremum instead of a rank:
  *
  *  1. range partition by `(group, order...)`;
  *  2. local running max within `(physical partition, group)` — window
  *     groups bounded by partition size, never group size;
  *  3. per-(partition, group) maxima form a tiny frame; a PREFIX MAX over
  *     partition id (strictly-preceding frame) gives each slice the max
  *     of everything before it, broadcast-joined back.
  *
  * `running = greatest(local, prefix)` is exact because range
  * partitioning puts every row of partition i before partition j > i in
  * `(group, order)` order. `orderCols` must totally order rows within a
  * group (ties could land in either adjacent partition — same contract
  * as GroupedRank).
  *
  * It runs on [[GroupedRank.rangedPrefix]], so it reads one materialized
  * range exchange with an explicit partition count and, like
  * [[GroupedRank.withGroupRank]], is eager and an optimizer barrier.
  */
object RunningExtremum {

  /** `df` plus `outCol`: the running max of `valueCol` over rows at or
    * before this one in `(groupCols, orderCols)` order, per group. */
  def withRunningMax(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      outCol: String = "running_max"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"RunningExtremum: output column '$outCol' already exists")
    GroupedRank.rangedPrefix(df, groupCols, orderCols,
      local = w => max(col(valueCol))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)),
      part = max(col(valueCol)),
      offset = (c, w) => max(c).over(w))
      .withColumn(outCol,
        greatest(col(Local), coalesce(col(Offset), col(Local))))
      .drop(Local, Offset)
  }
}
