package graft

import graft.plans.Runs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Lag
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `plans.Runs`, the break-and-number kernel every sessionization,
  * run grouping and segmentation calls, on hand-built frames: the
  * strict gap rule, first-row breaks, the offset, null breaks, the
  * null-safe change rule, per-partition numbering and tie order.
  */
class RunsSpec extends AnyFunSuite {
  import TestSpark._

  private val w = Window.partitionBy("p").orderBy("ts", "seq")
  private val gapMs = 10L

  private def frame(rows: (String, Long, Long, Option[String], Option[Boolean])*): DataFrame = {
    import spark.implicits._
    rows.toDF("p", "ts", "seq", "kind", "flag")
  }

  private def ids(df: DataFrame, id: String): Map[(String, Long), Long] =
    df.select("p", "seq", id).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("gap rule: the first row breaks, a gap of gapMs continues, gapMs + 1 breaks") {
    val df = frame(
      ("a", 100L, 2L, None, None), ("a", 100L, 1L, None, None),
      ("a", 110L, 3L, None, None), ("a", 121L, 4L, None, None),
      ("b", 5L, 1L, None, None), ("b", 50L, 2L, None, None))
    val got = ids(Runs.byGap(df, w, "ts", gapMs, "id"), "id")
    assert(got == Map(("a", 1L) -> 1L, ("a", 2L) -> 1L, ("a", 3L) -> 1L, ("a", 4L) -> 2L,
      ("b", 1L) -> 1L, ("b", 2L) -> 2L), s"$got")
  }

  test("the helper columns are dropped and the lag is planned once") {
    val df = frame(("a", 1L, 1L, None, None))
    val out = Runs.byGap(df, w, "ts", gapMs, "id")
    assert(out.columns.toSeq == Seq("p", "ts", "seq", "kind", "flag", "id"))
    val opt = out.queryExecution.optimizedPlan
    val lags = opt.collect { case n => n.expressions.flatMap(_.collect { case l: Lag => l }) }.flatten
    assert(lags.size == 1 && opt.collect { case x: LWindow => x }.size == 2, s"$opt")
  }

  test("a null break is no break; a true break counts; ids start at offset") {
    val df = frame(
      ("a", 1L, 1L, None, Some(true)), ("a", 2L, 2L, None, None),
      ("a", 3L, 3L, None, Some(false)), ("a", 4L, 4L, None, Some(true)))
    assert(ids(Runs.number(df, w, "id", col("flag")), "id").toSeq.sortBy(_._1._2).map(_._2) ==
      Seq(1L, 1L, 1L, 2L))
    // q14: the first row breaks, so offset −1 numbers from 0
    assert(ids(Runs.number(df, w, "id", col("flag"), offset = -1L), "id")
      .toSeq.sortBy(_._1._2).map(_._2) == Seq(0L, 0L, 0L, 1L))
  }

  test("null-safe change rule: a null kind next to a non-null one breaks (q03)") {
    val df = frame(
      ("a", 0L, 1L, Some("x"), None), ("a", 1L, 2L, None, None),
      ("a", 2L, 3L, None, None), ("a", 3L, 4L, Some("x"), None))
    val runs = Runs.byGap(df.withColumn("prev_kind", lag("kind", 1).over(w)), w, "ts", 1000L, "id",
      orBreak = !(col("prev_kind") <=> col("kind")))
    assert(ids(runs, "id").toSeq.sortBy(_._1._2).map(_._2) == Seq(1L, 2L, 2L, 3L))
  }

  test("partitions number independently; ties on the first order key follow the second") {
    val df = frame(
      ("c", 0L, 2L, Some("x"), None), ("c", 0L, 1L, Some("y"), None), ("c", 1L, 3L, Some("y"), None),
      ("d", 0L, 1L, Some("y"), None), ("d", 0L, 2L, Some("y"), None))
    val runs = Runs.number(df.withColumn("prev_kind", lag("kind", 1).over(w)), w, "id",
      col("prev_kind").isNull || !(col("prev_kind") <=> col("kind")))
    // (ts, seq) order in c is y(1), x(2), y(3): every row changes kind
    assert(ids(runs, "id") == Map(("c", 1L) -> 1L, ("c", 2L) -> 2L, ("c", 3L) -> 3L,
      ("d", 1L) -> 1L, ("d", 2L) -> 1L))
  }
}
