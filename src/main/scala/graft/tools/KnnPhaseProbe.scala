package graft.tools

import graft.Tables
import graft.operators.KnnGraph
import org.apache.spark.sql.functions._

/** Dev probe: where does q92b's wall-clock go — init vs descent
  * rounds vs the gate surface. */
object KnnPhaseProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = base.union(base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    def t(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime; val n = f
      println(f"$tag: ${(System.nanoTime - t0) / 1e9}%.2fs rows=$n")
    }
    // warm
    KnnGraph.nnDescent(spark, corpus, maxIters = 0).count()
    for (it <- Seq(0, 1, 2))
      t(s"maxIters=$it")(KnnGraph.nnDescent(spark, corpus, maxIters = it).count())
    t("gate full")(KnnGraph.nnDescentGate(spark, dir).count())
  }
}
