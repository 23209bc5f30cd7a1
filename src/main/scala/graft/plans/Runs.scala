package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.{col, lag, lit, sum, when}

/** Break-and-number: the reference's `TextPreprocessor.create_clusters`
  * (a time gap over the window ⇒ break) and `calculate_segments` (a
  * cosine distance over the threshold ⇒ break) are one pattern — flag
  * a break per row, then number each row by the running count of
  * breaks in its partition. Every sessionization, run grouping and
  * segmentation in graft is this kernel with its own break rule.
  *
  * Plan shape: a `Window` of the lagged inputs, a projection of the
  * 0/1 flag and a `Window` running sum, inside the partition key's one
  * shuffle. Each lagged input is a helper column taken once before the
  * break is written: a `lag` inlined twice plans two lag columns.
  */
object Runs {

  private val brk = "brk"
  private val prevTs = "prev_ts"

  /** Append `id` = offset + the running count of the rows of `w`'s
    * partition, up to and including this one in `w`'s order, whose
    * `break` holds; a null break counts as no break. `w` must order
    * the partition totally, or tied rows number in arbitrary order.
    */
  def number(df: DataFrame, w: WindowSpec, id: String, break: Column,
             offset: Long = 0L): DataFrame = {
    val n = sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn(brk, when(break, 1).otherwise(0))
      .withColumn(id, if (offset == 0L) n else n - (-offset))
      .drop(brk)
  }

  /** The time rule of `create_clusters`: a row breaks on its
    * partition's first row or when `ts − previous ts > gapMs` (strict),
    * so ids start at 1. `orBreak` adds a caller's own rule (a change of
    * kind) over lagged columns the caller took beforehand.
    */
  def byGap(df: DataFrame, w: WindowSpec, ts: String, gapMs: Long, id: String,
            orBreak: Column = lit(false)): DataFrame =
    number(df.withColumn(prevTs, lag(ts, 1).over(w)), w, id,
      col(prevTs).isNull || col(ts) - col(prevTs) > gapMs || orBreak)
      .drop(prevTs)
}
