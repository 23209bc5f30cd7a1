package graft.tools

import graft.SparkEntry

/** Dev tool: three-SF slope sweep over any `SparkEntry.queries` subset
  * (VERDICT r14 item 4 — the repeatable home for what StreamProf did
  * as a scratch probe). Args are query names; no args = every entry.
  * Per SF: one settle pass (codegen, index builds), then min-of-2
  * timed runs, printed as `[slope] name sfX best`.
  */
object SlopeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq.map { n =>
        require(SparkEntry.queries.contains(n), s"unknown query: $n")
        n
      }
      else SparkEntry.queries.keys.toSeq.sorted
    def force(name: String, sfDir: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val dir = s"/root/testdata/sf$sf"
      names.foreach(n => try force(n, dir) catch {
        case t: Throwable => println(s"[slope] $n sf$sf SETTLE-ERROR ${t.getMessage}")
      })
      for (n <- names) {
        var best = Double.MaxValue
        for (_ <- 1 to 2) {
          System.gc()
          val t0 = System.nanoTime()
          try { force(n, dir); best = math.min(best, (System.nanoTime() - t0) / 1e9) }
          catch { case t: Throwable => println(s"[slope] $n sf$sf ERROR ${t.getMessage}") }
        }
        println(f"[slope] $n%-26s sf$sf%-6s $best%.2f")
      }
    }
    spark.stop()
  }
}
