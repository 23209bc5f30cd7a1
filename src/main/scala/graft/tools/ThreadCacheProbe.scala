package graft.tools

/** Dev tool: is the q56/q56b converged-frame cache actually reused
  * across calls? Times three consecutive eventThreads + two
  * eventThreadStats actions in one JVM; run 2+ should cost only the
  * consumer-side work (select/orderBy/rollup), not the 6-round
  * resolution.
  *
  *   runMain graft.tools.ThreadCacheProbe [sfdir]
  */
object ThreadCacheProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"THREADCACHE $tag: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    time("warmup-scan")(noop(graft.Tables.events(spark, sfDir).select("event_id")))
    time("q56 run1 (build)")(noop(graft.operators.ReplyChains.eventThreads(spark, sfDir)))
    time("q56 run2 (cached?)")(noop(graft.operators.ReplyChains.eventThreads(spark, sfDir)))
    time("q56 run3 (cached?)")(noop(graft.operators.ReplyChains.eventThreads(spark, sfDir)))
    time("q56b run1")(noop(graft.operators.ReplyChains.eventThreadStats(spark, sfDir)))
    time("q56b run2")(noop(graft.operators.ReplyChains.eventThreadStats(spark, sfDir)))
    val plan = graft.operators.ReplyChains.eventThreads(spark, sfDir)
      .queryExecution.executedPlan.toString
    println("THREADCACHE plan-inmemory=" + plan.contains("InMemoryTableScan")
      + " parquet-scans=" + "FileScan parquet".r.findAllIn(plan).size)
    println(plan.linesIterator.take(25).mkString("\n"))
    spark.stop()
  }
}
