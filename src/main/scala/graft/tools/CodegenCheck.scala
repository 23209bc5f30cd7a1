package graft.tools
import graft.SparkEntry
import org.apache.spark.sql.execution.debug._

/** Dev tool: verify whole-stage codegen coverage (AQE hides the
  * runtime wrappers, so this runs with AQE off; production runs keep
  * AQE on and get the same per-stage codegen via
  * postStageCreationRules).
  */
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[4]", 4)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val subtrees = df.queryExecution.debug.codegenToSeq()
      val hasCosine = subtrees.exists(t => t._2.contains("getFloat"))
      println(s"$q: ${subtrees.size} codegen subtrees" +
        (if (hasCosine) " (cosine_sim inlined in generated code)" else ""))
    }
    spark.stop()
  }
}
