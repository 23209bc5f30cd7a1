package graft.tools

import graft.Tables
import graft.operators.{CellProbe, PQ}
import org.apache.spark.sql.functions._

/** Dev tool: PQ quality/cost curve — recall@10 of the ADC scan vs the
  * exact L2 top-10 (same metric: quantization loss only), and the
  * compression ratio, across m (subspaces) and Lloyd iters.
  *
  *   runMain graft.tools.PqProbe [sfdir]
  */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").cache()
    val n = e.count()
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = CellProbe.topK(e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("d", expr("l2_sq(embedding, qvec)")), "query_id", "d", "vec_id", 10, ascending = true)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"PQ-PROBE n=$n dims=$dims float_bytes=${n * dims * 4}")
    for (m <- Seq(4, 8, 16); iters <- Seq(0, 1, 2)) {
      val t0 = System.nanoTime()
      val pq = PQ.pqTopK(spark, sfDir, k = 10, m = m, iters = iters).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = pq.intersect(exact).size.toDouble / exact.size
      println(f"PQ m=$m%2d iters=$iters code_bytes=${n * m} " +
        f"compression=${dims * 4.0 / m}%.0fx recall@10=$recall%.3f t=$dt%.2fs")
    }
    spark.stop()
  }
}
