package graft.tools

import graft.Tables
import graft.operators.{CellProbe, KnnGraph}

/** NN-descent quality probe: recall@k vs the exact graph at sf0.001
  * across (sampleR, ringJ, lists) settings. The r18 sweep that set
  * the operator defaults measured (k = 10, maxIters = 20):
  *   sampleR=10 ringJ=10 lists=16 → 0.812
  *   sampleR=20 ringJ=10 lists=16 → 0.839
  *   sampleR=20 ringJ=20 lists=16 → 0.842
  *   sampleR=30 ringJ=20 lists=8  → 0.825
  * — reverse-sample 2k is the binding lever; ring width and cell
  * count are marginal. Near-random embeddings are the worst case for
  * neighbor-of-neighbor exploration (no cluster structure to ride),
  * so these are FLOOR numbers, not typical ones.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // `walk` mode (r22, VERDICT r21 item 8 / r20 item 7): recall@10
    // of the persisted-graph BEAM WALK vs brute-force top-10 on REAL
    // queries (the first nQ corpus vectors re-asked at +1e9 offset —
    // entry cells contain the query's own twin only via its cell, so
    // unlike the q93 gate the answer set is NOT planted), across a
    // (beam, maxHops) sensitivity grid, at each dir given. Usage:
    //   runMain graft.tools.RecallProbe walk <dir> [dir2 ...]
    if (args.headOption.contains("walk")) {
      import org.apache.spark.sql.functions._
      val nQ = 50
      val off = 1000000000L
      val k = 10
      args.drop(1).foreach { d =>
        val path = KnnGraph.graphPath(spark, d)
        KnnGraph.graph().ensure(spark, d, path)
        val e = Tables.embeddings(spark, d).select("vec_id", "embedding")
        val queries = e.filter(col("vec_id") < nQ)
          .select((col("vec_id") + off).as("q_id"), col("embedding").as("q_emb"))
        // brute-force reference: top-10 by (6dp sim desc, node asc) —
        // the walk's own ranking rule — EXCLUDING the query itself
        val brute = CellProbe.topK(e.select(col("vec_id").as("node"), col("embedding"))
            .join(broadcast(queries), col("node") =!= col("q_id") - off)
            .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6)),
            "q_id", "sim", "node", k)
          .select("q_id", "node").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        for (beam <- Seq(4, 8, 16); hops <- Seq(2, 3, 5)) {
          // ask for k+1, drop the query's verbatim twin (rank 1 when
          // found), keep the next k by walk rank — so recall scores k
          // REAL neighbors, not the planted self-pair
          val got = KnnGraph.graphWalkOn(spark, path, e, queries, k = k + 1,
              beam = beam, maxHops = hops)
            .filter(col("node") =!= col("q_id") - off)
            .select("q_id", "node", "rk").collect()
            .groupBy(_.getLong(0)).view.mapValues(
              _.sortBy(_.getInt(2)).take(k).map(_.getLong(1)).toSet).toMap
          val rec = brute.toSeq.map { case (q, want) =>
            got.getOrElse(q, Set.empty).count(want).toDouble / want.size }
          println(f"walk @ $d beam=$beam%2d hops=$hops: " +
            f"recall@10=${rec.sum / rec.length}%.4f over ${rec.length} queries")
        }
      }
      spark.stop()
      return
    }
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val ex = KnnGraph.knnGraphExact(spark, dir, 10)
      .select("vec_id", "nb_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    for ((sr, rj, li) <- Seq((10, 10, 16), (20, 10, 16), (20, 20, 16), (30, 20, 8))) {
      val d = KnnGraph.nnDescent(spark, e, k = 10, lists = li,
        maxIters = 20, sampleR = sr, ringJ = rj)
        .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"sampleR=$sr ringJ=$rj lists=$li recall=${ex.count(d.contains).toDouble / ex.length}%.4f")
    }
  }
}
