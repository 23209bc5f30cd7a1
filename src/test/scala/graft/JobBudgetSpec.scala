package graft

import org.apache.spark.JobCounter
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark jobs one warm call of each non-MCP `interactive`
  * catalog entry runs (McpServingSpec pins the MCP tools). At KB-sized
  * inputs the fixed cost of a job and its AQE re-plan is the cost of a
  * call, so a regression in job count fails here instead of hiding in
  * timing noise.
  */
class JobBudgetSpec extends AnyFunSuite {
  import TestSpark._

  private val budget = Seq(
    "q02_session_stats" -> 2, "q43_chat_stats" -> 3, "q51_chats_overview" -> 2,
    "q22_region_volume" -> 7, "q48_ivf_persisted" -> 6, "q14_groups" -> 1)

  budget.foreach { case (name, jobs) =>
    test(s"$name: at most $jobs Spark jobs per warm call") {
      def call() = SparkEntry.queries(name)(spark, dir).collect()
      call() // builds what the entry persists: q48's index, q14's leaf
      val (_, n) = JobCounter.jobsDuring(spark.sparkContext)(call())
      assert(n <= jobs, s"$name ran $n jobs; budget $jobs")
    }
  }
}
