package graft.tools

import graft.SparkEntry

/** Dev tool: one summary line per query of the plan features the
  * shape-regression pins care about (cartesian products, nested-loop
  * joins, broadcast/reused exchanges, shuffle counts, unpartitioned
  * windows, unpushed scans). Feeds PlanShapeSpec's per-entry
  * expectations; ExplainAudit remains the full-plan view.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    def count(s: String, needle: String): Int = s.sliding(needle.length).count(_ == needle)
    args.drop(1).foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      val globalWins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }.size
      println(s"PLAN $q cartesian=${count(p, "CartesianProduct")} " +
        s"bnlj=${count(p, "BroadcastNestedLoopJoin")} " +
        s"smj=${count(p, "SortMergeJoin")} " +
        s"bcast=${count(p, "BroadcastExchange")} " +
        s"reused=${count(p, "ReusedExchange")} " +
        s"hashEx=${count(p, "Exchange hashpartitioning")} " +
        s"rangeEx=${count(p, "Exchange rangepartitioning")} " +
        s"globalWin=$globalWins " +
        s"emptyPush=${count(p, "PushedFilters: []")} " +
        s"scans=${count(p, "Scan parquet")}")
    }
    spark.stop()
  }
}
