package graft

import org.apache.spark.JobCounter
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark jobs per call of the benchmark's catalog entries
  * (McpServingSpec pins the MCP tools). At KB-sized inputs the fixed
  * cost of a job and its AQE re-plan is the cost of a call, so a
  * regression in job count fails here instead of hiding in timing
  * noise. `interactive` entries are counted on a warm call; `curation`
  * entries and the PQ build the way that workload runs them, on a
  * fresh copy of the corpus that no registry has seen.
  */
class JobBudgetSpec extends AnyFunSuite {
  import TestSpark._

  private val warm = Seq(
    "q02_session_stats" -> 2, "q43_chat_stats" -> 3, "q51_chats_overview" -> 2,
    "q22_region_volume" -> 7, "q48_ivf_persisted" -> 6, "q14_groups" -> 1,
    "q19_ann_ivf" -> 7, "q19b_ann_ivf_seeded" -> 6, "q67d_ivfpq_indexed" -> 9,
    "q67f_ivfpq_incr" -> 9, "q93_graph_walk" -> 40, "q93b_walk_recall" -> 44)

  warm.foreach { case (name, jobs) =>
    test(s"$name: at most $jobs Spark jobs per warm call") {
      def call() = SparkEntry.queries(name)(spark, dir).collect()
      call() // builds what the entry persists: q48's index, q14's leaf
      val (_, n) = JobCounter.jobsDuring(spark.sparkContext)(call())
      assert(n <= jobs, s"$name ran $n jobs; budget $jobs")
    }
  }

  /** A byte copy of the test corpus at a new path. */
  private def freshCorpus(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_budget_")
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, d.resolve(f.getName))
    }
    d.toAbsolutePath.toString
  }

  private def jobs(f: => Unit): Int = JobCounter.jobsDuring(spark.sparkContext)(f)._2

  // a fresh path's tables open with their footer schemas: no
  // schema-inference job
  private val fresh = Seq(
    "q27_dedup_minhash" -> 10, "q53_dup_clusters" -> 6, "q54_decontam" -> 4,
    "q31_quality_score" -> 3)

  fresh.foreach { case (name, budget) =>
    test(s"$name: at most $budget Spark jobs on a fresh corpus") {
      val d = freshCorpus()
      val n = jobs(SparkEntry.queries(name)(spark, d).collect())
      assert(n <= budget, s"$name ran $n jobs; budget $budget")
    }
  }

  test("PQ.buildIndex: at most 6 Spark jobs on a fresh path") {
    // the seed aggregation and one Lloyd round (a map stage and a
    // collect each), then the books and codes writes
    val d = freshCorpus()
    val n = jobs(operators.PQ.buildIndex(spark, d, operators.PQ.indexPath(spark, d)))
    assert(n <= 6, s"PQ.buildIndex ran $n jobs; budget 6")
  }

  // the sink's rows are on the driver: the entry's projection and sort
  // fold into a local relation
  Seq("q83d_stream_gate", "q85b_threads_rocks").foreach { name =>
    test(s"$name: collecting the returned frame runs no Spark job") {
      (1 to 2).foreach { _ =>
        val df = SparkEntry.queries(name)(spark, dir)
        val n = jobs(df.collect())
        assert(n == 0, s"$name read-back ran $n jobs")
      }
    }
  }
}
