package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins where `GraftExtensions.InStageSort` plans a global sort as
  * `SortExec(global) ← CoalesceExec(1)` inside the stage that feeds
  * it (a small measured input under AQE), and where the range exchange
  * must stay.
  */
class InStageSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Per-chat stats of `events`: a post-shuffle input of a few hundred
    * bytes whose `top_user` key is null for all but two chats.
    */
  private def chatStats: DataFrame =
    Tables.events(spark, dir).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(when(col("event_type").isin("click", "error"), col("user_id"))).as("top_user"))

  private def sorted: DataFrame =
    chatStats.orderBy(col("top_user").desc_nulls_last, col("n"), col("event_type"))

  /** The plan the query ran: the final adaptive plan once executed. */
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan, "collect the frame first"); a.executedPlan
    case p => p
  }

  private def inStageSorts(p: SparkPlan): Seq[SortExec] = collect(p) {
    case s @ SortExec(_, true, c, _) if (c match {
      case InputAdapter(CoalesceExec(1, _)) | CoalesceExec(1, _) => true
      case _ => false
    }) => s
  }

  private def rangeExchanges(p: SparkPlan): Int =
    p.toString.sliding("rangepartitioning".length).count(_ == "rangepartitioning")

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a small post-shuffle sort runs as Sort ← Coalesce 1, with no range exchange, in driver-sort order") {
    val df = sorted
    val got = df.collect().toSeq
    val p = finalPlan(df)
    assert(inStageSorts(p).size == 1, s"global sort over Coalesce 1:\n$p")
    assert(rangeExchanges(p) == 0, s"no range exchange:\n$p")
    // the same rows ordered on the driver: top_user desc nulls last, then n, then event_type
    val want = chatStats.collect().toSeq.sortBy(r =>
      (Option(r.get(2)).fold(Long.MaxValue)(v => -v.asInstanceOf[Long]), r.getLong(1), r.getString(0)))
    assert(want.exists(_.isNullAt(2)), "the key must carry nulls for the nulls-last check")
    assert(got == want)
  }

  test("a static plan, before any stage has run, keeps the range exchange") {
    val p = sorted.queryExecution.executedPlan
    assert(rangeExchanges(p) == 1, s"static plan:\n$p")
    assert(inStageSorts(p).isEmpty)
  }

  test("a measured input above the advisory partition size keeps the range exchange") {
    withConf(advisoryKey, "16") {
      val df = sorted
      val got = df.collect().toSeq
      val p = finalPlan(df)
      assert(rangeExchanges(p) == 1, s"input above 16 bytes:\n$p")
      assert(inStageSorts(p).isEmpty)
      assert(got == withConf(advisoryKey, "1m")(sorted.collect().toSeq))
    }
  }

  test("a child with explode keeps the range exchange") {
    val df = Tables.events(spark, dir).groupBy("event_type")
      .agg(collect_set(col("user_id")).as("users"))
      .select(col("event_type"), explode(col("users")).as("user_id"))
      .orderBy(col("user_id"), col("event_type"))
    val got = df.collect().toSeq
    val p = finalPlan(df)
    assert(rangeExchanges(p) == 1, s"explode under the sort:\n$p")
    assert(inStageSorts(p).isEmpty)
    assert(got == got.sortBy(r => (r.getLong(1), r.getString(0))))
  }

  test("a session with AQE off keeps the range exchange") {
    withConf("spark.sql.adaptive.enabled", "false") {
      val df = sorted
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(!p.isInstanceOf[AdaptiveSparkPlanExec])
      assert(rangeExchanges(p) == 1, s"AQE off:\n$p")
      assert(inStageSorts(p).isEmpty)
    }
  }

  test("a complete-mode streaming sort keeps the range exchange") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = stream.toDF().groupBy((col("value") % 3).as("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("k"))
      .writeStream.format("memory").queryName("in_stage_sort_complete").outputMode("complete").start()
    try {
      stream.addData(1L, 2L, 3L, 4L, 5L, 7L)
      q.processAllAvailable()
      val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(rangeExchanges(p) == 1, s"streaming sort:\n$p")
      assert(inStageSorts(p).isEmpty)
      assert(spark.table("in_stage_sort_complete").collect().toSeq ==
        Seq(Row(1L, 3L), Row(2L, 2L), Row(0L, 1L)))
    } finally q.stop()
  }
}
