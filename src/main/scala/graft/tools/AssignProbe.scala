package graft.tools

import graft.Tables
import graft.operators.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: measures IVF cell-ASSIGNMENT cost — the r04-flagged
  * flat N×nLists crossJoin vs the r05 two-level coarse→fine path —
  * at growing (N, nLists) with nLists ∝ N (the IVF sizing law,
  * nLists = N/125). Flat work grows ~N·nLists = N²/125 (quadratic in
  * the corpus); two-level grows ~N·(1+coarseProbe)·√nLists — the
  * asymptote VERDICT r04 asked to see measured.
  *
  * Also reports two-level recall-of-flat-top1 (fraction of vectors
  * whose flat argmax cell appears in their two-level nProbe set) so
  * the speed/recall trade is visible in one place.
  *
  *   runMain graft.tools.AssignProbe [maxCopies]
  */
object AssignProbe {
  def main(args: Array[String]): Unit = {
    val maxCopies = args.headOption.map(_.toInt).getOrElse(16)
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1").select("vec_id", "embedding")

    def corpus(copies: Int): DataFrame =
      base.crossJoin(spark.range(copies).select(col("id").cast("int").as("copy")))
        .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => x + col("copy").cast("float") * lit(0.01f)).cast("array<float>").as("embedding"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    Seq(1, 4, maxCopies).foreach { copies =>
      val e = corpus(copies).cache()
      val n = e.count()
      val nLists = math.max(16, (n / 125L).toInt)
      val seeded = e.withColumn("cell", (col("vec_id") % nLists).cast("int"))
      val cents = Vectors.centroidsOf(seeded).cache()
      cents.count()
      val nCoarse = math.ceil(math.sqrt(nLists.toDouble)).toInt // force two-level at every size
      def flat = Vectors.assignCells(e, cents, nProbe = 2, nCoarse = 1)
      def two = Vectors.assignCells(e, cents, nProbe = 2, nCoarse = nCoarse)
      // warm once each, then measure
      flat.write.format("noop").mode("overwrite").save()
      two.write.format("noop").mode("overwrite").save()
      val tFlat = time(flat.write.format("noop").mode("overwrite").save())
      val tTwo = time(two.write.format("noop").mode("overwrite").save())
      val top1 = Vectors.assignCells(e, cents, nProbe = 1, nCoarse = 1)
        .select(col("vec_id").as("t_vec"), col("cell").as("flat_cell")).cache()
      top1.count()
      val hit = two.join(top1, col("vec_id") === col("t_vec")
        && col("cell") === col("flat_cell")).count()
      println(f"ASSIGN n=$n%,d nLists=$nLists nCoarse=$nCoarse " +
        f"flat=$tFlat%.2fs twolevel=$tTwo%.2fs recall_top1=${hit.toDouble / n}%.3f")
      // recall/cost sweep over coarseProbe at this size: per-vector
      // work = nCoarse + cp·nLists/nCoarse, still ~√nLists per unit cp
      Seq(3, 4, 6).foreach { cp =>
        def twoCp = Vectors.assignCells(e, cents, nProbe = 2, nCoarse = nCoarse, coarseProbe = cp)
        twoCp.write.format("noop").mode("overwrite").save()
        val t = time(twoCp.write.format("noop").mode("overwrite").save())
        val h = twoCp.join(top1, col("vec_id") === col("t_vec")
          && col("cell") === col("flat_cell")).count()
        println(f"  coarseProbe=$cp: t=$t%.2fs recall_top1=${h.toDouble / n}%.3f")
      }
      top1.unpersist()
      e.unpersist(); cents.unpersist()
    }
    spark.stop()
  }
}
