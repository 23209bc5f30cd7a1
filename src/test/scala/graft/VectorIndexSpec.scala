package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted-IVF lifecycle (operators.VectorIndex): build → read
  * round-trip, probe ≡ the per-query q19b plan, stats answered from
  * the index, and the plan-level guarantee the layout exists for —
  * a probe's scan PRUNES to the probed cells' partitions.
  */
class VectorIndexSpec extends AnyFunSuite {
  import TestSpark._
  import operators.VectorIndex

  private val path = "/root/repo/target/test-ivf-index"

  test("build/probe round-trip: persisted-index probe == per-query q19b") {
    VectorIndex.build(spark, dir, path)
    assert(VectorIndex.exists(spark, path))
    val persisted = VectorIndex.probe(spark, dir, path).collect().toSeq
    val inline = operators.Vectors.annIvfSeeded(spark, dir).collect().toSeq
    assert(persisted == inline, "the index path must be value-identical to q19b")
  }

  test("probe scan partition-prunes to the probed cells only") {
    VectorIndex.build(spark, dir, path)
    // nProbe=3 × nQueries=5 probes over ≤10 cells: the pruned scan
    // must enumerate concrete cell values, not scan all partitions
    assertStaticPrune(VectorIndex.probe(spark, dir, path).queryExecution.executedPlan.toString, "cell")
  }

  test("freshness is a watermark equality, not an mtime race") {
    VectorIndex.build(spark, dir, path)
    assert(VectorIndex.ivf.fresh(spark, dir, path), "a just-built index is fresh")
    // corrupt the recorded watermark — a mismatched source snapshot
    // must read as stale even though every mtime ordering still holds
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wm = new org.apache.hadoop.fs.Path(s"$path/watermark")
    val out = fs.create(wm, true)
    try out.write("someone-else's-source".getBytes("UTF-8")) finally out.close()
    assert(!VectorIndex.ivf.fresh(spark, dir, path),
      "a watermark that does not match the current source snapshot is stale")
    assert(VectorIndex.exists(spark, path), "...even though the index files exist")
  }

  test("index root derives from config, not a hard-coded path") {
    val prev = spark.conf.getOption("spark.graft.index.root")
    try {
      spark.conf.set("spark.graft.index.root", "/tmp/custom-index-root")
      assert(VectorIndex.defaultPath(spark, dir).startsWith("/tmp/custom-index-root/"))
      spark.conf.unset("spark.graft.index.root")
      val fallback = VectorIndex.defaultPath(spark, dir)
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      assert(fallback.startsWith(wh), s"fallback $fallback must live under warehouse $wh")
    } finally {
      // unset unconditionally first: if an assert fired before the
      // mid-test unset, prev=None would otherwise leave the custom
      // root set on the shared session and poison later suites
      spark.conf.unset("spark.graft.index.root")
      prev.foreach(spark.conf.set("spark.graft.index.root", _))
    }
  }

  test("index stats come from the index and match the base table") {
    VectorIndex.build(spark, dir, path)
    val stats = VectorIndex.indexStats(spark, path).collect()
    val base = Tables.embeddings(spark, dir)
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stats.map(r => r.getInt(0) -> r.getLong(1)).toMap == base)
    val dim = Tables.embeddings(spark, dir)
      .selectExpr("size(embedding)").head.getInt(0)
    assert(stats.forall(_.getInt(2) == dim))
  }
}
