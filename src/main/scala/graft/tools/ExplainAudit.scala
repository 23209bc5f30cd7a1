package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan + steady-state timing
  * for the named queries (not part of the driver contract).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    args.drop(1).foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        println(s"--- $q run$i: ${(System.nanoTime() - t0) / 1e9}s")
      }
    }
    spark.stop()
  }
}
