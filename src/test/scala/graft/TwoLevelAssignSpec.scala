package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two-level (coarse→fine) IVF cell assignment — the r05
  * replacement for the flat N×nLists centroid crossJoin that VERDICT
  * r04 flagged as the one genuine 100-TB scale defect.
  *
  * Guarantees pinned here:
  *  - the auto-selection law (flat while nLists is bounded, ⌈√nLists⌉
  *    coarse groups once nLists grows with the corpus);
  *  - fine-ranking EXACTNESS: every (vec, cell, s) the two-level path
  *    emits carries the same 6dp cosine the flat path computes for
  *    that pair (the approximation is only WHICH cells are ranked,
  *    never the score or the within-group order);
  *  - identical vectors co-assign identically (⇒ planted exact-dup
  *    recall through q29b stays 1 under two-level assignment);
  *  - dedupEmbeddingIvf under FORCED two-level still recovers every
  *    planted duplicate pair at sim 1.0.
  */
class TwoLevelAssignSpec extends AnyFunSuite {
  import TestSpark._

  test("autoCoarse: flat for bounded nLists, ceil(sqrt) beyond") {
    assert(operators.Vectors.autoCoarse(16) == 1)
    assert(operators.Vectors.autoCoarse(64) == 1)
    assert(operators.Vectors.autoCoarse(65) == 9)   // ceil(sqrt(65)) = 9
    assert(operators.Vectors.autoCoarse(4096) == 64)
    assert(operators.Vectors.autoCoarse(1000000) == 1000)
  }

  private def seededCells(nLists: Int) = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val seeded = e.withColumn("cell", (col("vec_id") % nLists).cast("int"))
    (e, operators.Vectors.centroidsOf(seeded))
  }

  test("two-level emits nProbe cells per vector with flat-exact scores") {
    val (e, cents) = seededCells(16)
    val n = e.count()
    val two = operators.Vectors.assignCells(e, cents, nProbe = 2, nCoarse = 4).cache()
    // every vector present, nProbe rows each (4 coarse groups of ~4
    // fine cells: 2 probed groups always hold >= 2 fine cells)
    val perVec = two.groupBy("vec_id").count().collect()
    assert(perVec.length == n, s"expected $n vectors, got ${perVec.length}")
    assert(perVec.forall(_.getLong(1) == 2), "every vector must get exactly nProbe cells")
    // fine scores are EXACT: the full flat ranking (nProbe = nLists)
    // scores every (vec, cell) pair; each two-level row must match
    val flatAll = operators.Vectors.assignCells(e, cents, nProbe = 16, nCoarse = 1)
      .withColumnRenamed("s", "s_flat")
    val joined = two.join(flatAll, Seq("vec_id", "cell"))
    assert(joined.count() == two.count(), "every two-level cell must exist in the flat ranking")
    assert(joined.filter(col("s") =!= col("s_flat")).count() == 0,
      "two-level cosine scores must be bit-identical to flat")
    two.unpersist()
  }

  test("identical vectors co-assign identically under two-level") {
    val (e, cents) = seededCells(16)
    // mirror every 5th vector under a shifted id — identical floats
    val planted = e.select(explode(when(col("vec_id") % 5 === 0,
        array(col("vec_id"), col("vec_id") + 100000))
      .otherwise(array(col("vec_id")))).as("vec_id"), col("embedding"))
    val a = operators.Vectors.assignCells(planted, cents, nProbe = 2, nCoarse = 4)
      .groupBy("vec_id").agg(sort_array(collect_list(col("cell"))).as("cells"))
    val orig = a.filter(col("vec_id") % 5 === 0 && col("vec_id") < 100000)
      .select(col("vec_id"), col("cells"))
    val dup = a.filter(col("vec_id") >= 100000)
      .select((col("vec_id") - 100000).as("vec_id"), col("cells").as("dup_cells"))
    val cmp = orig.join(dup, "vec_id")
    assert(cmp.count() > 0, "planted mirrors must exist")
    assert(cmp.filter(col("cells") =!= col("dup_cells")).count() == 0,
      "identical vectors must probe identical cell sets")
  }

  test("q29b under forced two-level recovers every planted duplicate") {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val planted = e.select(explode(when(col("vec_id") % 5 === 0,
        array(col("vec_id"), col("vec_id") + 100000))
      .otherwise(array(col("vec_id")))).as("vec_id"), col("embedding"))
    val nPlanted = e.filter(col("vec_id") % 5 === 0).count()
    val pairs = operators.Dedup.dedupEmbeddingIvfOn(spark, planted,
        threshold = 0.9, nLists = 16, nProbe = 2, nCoarse = 4)
      .filter(col("vec_b") === col("vec_a") + 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == nPlanted,
      s"expected all $nPlanted planted pairs under two-level, got ${pairs.length}")
    assert(pairs.forall(_._3 == 1.0), "planted exact dups must verify at sim 1.0")
  }

  test("kmeans assignment through the shared kernel is unchanged (flat default)") {
    // q41's JVM-replay spec (KmeansSpec) pins the values; here pin the
    // contract the rewrite must keep: one cell per vector, every
    // vector covered, csim populated after a refinement round
    val a = operators.Vectors.kmeansIvf(spark, dir, iters = 1)
    val n = Tables.embeddings(spark, dir).count()
    assert(a.count() == n)
    assert(a.select("vec_id").distinct().count() == n)
    assert(a.filter(col("csim").isNull).count() == 0)
  }
}
