package graft.tools

import graft.SparkEntry

/** Dev tool (r21): write each named query's `.explain("formatted")`
  * output to `<outDir>/<query>.txt` — the committed plan evidence the
  * optimization rounds' before/after claims are checked against
  * (plans/r21/). Session conf mirrors Bench so the captured plans are
  * the benched plans.
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    args.drop(2).foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      // capture exactly what .explain("formatted") prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$q.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/$q.txt")
    }
    spark.stop()
  }
}
