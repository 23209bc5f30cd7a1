package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the rules `IndexStore` owns for every persisted index family:
  * identity plus fact lines, the build order (a rebuild that dies
  * part-way reads stale), overrides as part of the identity, and
  * fail-closed freshness when any family's component is lost.
  */
class IndexStoreSpec extends AnyFunSuite {
  import TestSpark._
  import operators.{Curation, Dedup, EmbeddingQuality, KnnGraph, PQ, VectorIndex, Vectors}

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toAbsolutePath.toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A two-component index whose body can die after its first write. */
  private def twoPart(params: String, dieAfterFirst: Boolean = false,
                      facts: Seq[String] = Nil): IndexStore.Index =
    IndexStore.Index("spec", "embeddings", params, Seq("a", "b")) { (s, _, path) =>
      s.range(3).write.mode("overwrite").parquet(s"$path/a")
      if (dieAfterFirst) throw new IllegalStateException("build died after its first component")
      s.range(3).write.mode("overwrite").parquet(s"$path/b")
      facts
    }

  test("a rebuild that dies after its first component leaves the previous identity stale") {
    val path = tempDir("graft_idx_crash")
    twoPart("m=8").build(spark, dir, path)
    assert(twoPart("m=8").fresh(spark, dir, path))
    intercept[IllegalStateException](twoPart("m=4", dieAfterFirst = true).build(spark, dir, path))
    assert(IndexStore.complete(spark, s"$path/a") && IndexStore.complete(spark, s"$path/b"),
      "every component still carries its marker")
    assert(!twoPart("m=8").fresh(spark, dir, path),
      "a half-rebuilt index must not read fresh under the identity it replaced")
    twoPart("m=8").ensure(spark, dir, path)
    assert(twoPart("m=8").fresh(spark, dir, path), "the next ensure rebuilds it")
  }

  test("freshness: the watermark is the identity, optionally followed by fact lines, never a bare prefix") {
    val path = tempDir("graft_idx_facts")
    val index = twoPart("p", facts = Seq("lists|7"))
    index.build(spark, dir, path)
    assert(index.fresh(spark, dir, path))
    assert(IndexStore.fact(spark, path, "lists").contains("7"))
    assert(IndexStore.fact(spark, path, "rblk").isEmpty)
    IndexStore.writeWatermark(spark, path, index.identity(spark, dir) + "q", Nil)
    assert(!index.fresh(spark, dir, path), "params 'pq' must not match params 'p'")
    IndexStore.writeWatermark(spark, path, index.identity(spark, dir), Seq("compacted|true"))
    assert(index.fresh(spark, dir, path))
    assert(IndexStore.fact(spark, path, "compacted").contains("true"))
  }

  test("a component reads with its recorded schema: no inference job, the plain read's schema") {
    val path = tempDir("graft_idx_schema")
    VectorIndex.ivf.build(spark, dir, path) // one flat and one cell-partitioned component
    VectorIndex.ivf.components.foreach { c =>
      assert(IndexStore.fact(spark, path, s"schema.$c").isDefined, s"$c records its schema")
      val (df, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext)(
        IndexStore.read(spark, path, c))
      assert(jobs == 0, s"reading $c ran $jobs jobs")
      assert(df.schema == spark.read.parquet(s"$path/$c").schema)
    }
    // an index whose build recorded no schema reads plainly
    val plain = tempDir("graft_idx_noschema")
    twoPart("p").build(spark, dir, plain)
    assert(IndexStore.read(spark, plain, "a").count() == 3)
  }

  test("re-registering an override makes q48's index and the k-NN graph stale; both serve the new rows") {
    val all = Tables.embeddings(spark, dir)
    val x = all.filter(col("vec_id") < 200)
    // disjoint from x except the 5 probe queries: an index over x can
    // only return x's neighbours
    val y = all.filter(col("vec_id") < 5 || col("vec_id") >= 200 && col("vec_id") < 400)
    val ivfDir = "/fake/index_override_ivf"
    val ivfPath = VectorIndex.defaultPath(spark, ivfDir)
    val fs = IndexStore.fsFor(spark, ivfPath)
    fs.delete(new org.apache.hadoop.fs.Path(ivfPath), true)
    Tables.registerOverride(spark, ivfDir, "embeddings", x)
    val underX = rows(VectorIndex.buildAndProbe(spark, ivfDir))
    Tables.registerOverride(spark, ivfDir, "embeddings", y)
    assert(!VectorIndex.ivf.fresh(spark, ivfDir, ivfPath), "a new override must read stale")
    val underY = rows(VectorIndex.buildAndProbe(spark, ivfDir))
    assert(underY == rows(Vectors.annIvfSeeded(spark, ivfDir)), "q48 must serve y's rows")
    assert(underY != underX)

    val graphDir = "/fake/index_override_graph"
    val graphPath = KnnGraph.graphPath(spark, graphDir)
    fs.delete(new org.apache.hadoop.fs.Path(graphPath), true)
    Tables.registerOverride(spark, graphDir, "embeddings", x)
    KnnGraph.graphWalkGate(spark, graphDir).collect()
    Tables.registerOverride(spark, graphDir, "embeddings", y)
    assert(!KnnGraph.graph().fresh(spark, graphDir, graphPath), "a new override must read stale")
    KnnGraph.graphWalkGate(spark, graphDir).collect()
    val nodes = spark.read.parquet(s"$graphPath/cells").select("vec_id")
    assert(rows(nodes) == rows(y.select("vec_id")), "the walked graph must cover y's nodes")
  }

  test("two sessions overriding one dir: the second reads the first's q48 index stale and serves its own rows") {
    val all = Tables.embeddings(spark, dir)
    val x = all.filter(col("vec_id") < 200)
    val y = all.filter(col("vec_id") < 5 || col("vec_id") >= 200 && col("vec_id") < 400)
    val d = "/fake/index_two_sessions"
    val path = VectorIndex.defaultPath(spark, d)
    IndexStore.fsFor(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
    Tables.registerOverride(spark, d, "embeddings", x)
    val underX = rows(VectorIndex.buildAndProbe(spark, d))
    val b = spark.newSession()
    Tables.registerOverride(b, d, "embeddings", y)
    assert(VectorIndex.defaultPath(b, d) == path, "both sessions address one index")
    assert(!VectorIndex.ivf.fresh(b, d, path), "session B must read session A's index stale")
    val underY = rows(VectorIndex.buildAndProbe(b, d))
    assert(underY == rows(Vectors.annIvfSeeded(b, d)),
      "q48 in session B must serve the inline q19b answer over B's override")
    assert(underY != underX)
  }

  test("every family fails closed: a lost component marker under an intact watermark rebuilds to the same rows") {
    val d = tempDir("graft_idx_families")
    Seq("documents", "embeddings").foreach(t =>
      Files.copy(Path.of(s"$dir/$t.parquet"), Path.of(s"$d/$t.parquet")))
    val families: Seq[(String, IndexStore.Index, String, () => DataFrame)] = Seq(
      ("ivf", VectorIndex.ivf, VectorIndex.defaultPath(spark, d),
        () => VectorIndex.buildAndProbe(spark, d)),
      ("ivf_dedup", VectorIndex.dedup(), VectorIndex.defaultPath(spark, d) + "-dedup",
        () => Dedup.dedupEmbeddingIvfIndexed(spark, d)),
      ("ivf_mining", VectorIndex.mining(), VectorIndex.miningPath(spark, d),
        () => EmbeddingQuality.hardNegativesIvf(spark, d)),
      ("pq", PQ.index(), PQ.indexPath(spark, d), () => PQ.pqTopKIndexed(spark, d)),
      ("ivfpq", PQ.ivfPqIndex(), PQ.ivfPqIndexPath(spark, d), () => PQ.ivfPqTopKIndexed(spark, d)),
      ("pq_incr_base", PQ.incrIndex(), PQ.incrIndexPath(spark, d, 16),
        () => PQ.pqEncodeIncremental(spark, d)),
      ("ivfpq_incr_base", PQ.ivfPqIncrIndex(), PQ.ivfPqIncrPath(spark, d, 16),
        () => PQ.ivfPqIncrTopK(spark, d)),
      ("gram", Dedup.GramIndex.index(8, 16), Dedup.GramIndex.path(spark, d),
        () => Dedup.substringDupIncremental(spark, d)),
      ("funnel", Curation.FunnelIndex.index(16, 97, 64), Curation.FunnelIndex.path(spark, d),
        () => Curation.funnelDeltaIndexed(spark, d)))
    val fs = IndexStore.fsFor(spark, d)
    families.foreach { case (name, index, path, read) =>
      assert(index.family == name)
      val want = rows(read())
      assert(want.nonEmpty, s"$name: the entry returns rows")
      assert(index.fresh(spark, d, path), s"$name: fresh after its first read")
      index.components.foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$c/_SUCCESS"), false)
        assert(IndexStore.readWatermark(spark, path).isDefined)
        assert(!index.fresh(spark, d, path), s"$name: a lost $c marker must read stale")
        assert(rows(read()) == want, s"$name: the read after losing $c rebuilds to the same rows")
        assert(index.fresh(spark, d, path), s"$name: $c rebuilt")
      }
    }
  }
}
