package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the leaf cut (Shared.leaf), the r21 shared-leaf family
  * (Shared.leafFrame), its semanticGroups memo (the MCP cluster key),
  * and the walk's extra-hop no-op law. Value-level correctness of the
  * gate entries themselves stays with the DuckDB oracle.
  */
class SharedLeafFrameSpec extends AnyFunSuite {
  import TestSpark._

  private def corpus(n: Int) =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .filter(col("vec_id") < n)

  test("sharedLeafFrame computes once per (key, deps) and serves the same leaf") {
    var computes = 0
    def get() = Shared.leafFrame(spark, "spec_slf_a", Seq(corpus(50))) {
      computes += 1
      corpus(50).select(col("vec_id"), size(col("embedding")).as("d"))
    }
    val f1 = get()
    val f2 = get()
    assert(computes == 1, s"second call must reuse, computed $computes times")
    assert(f1 eq f2, "reuse must return the SAME leaf frame")
    assert(f2.count() == 50)
  }

  test("sharedLeafFrame: a different dependency plan recomputes, and both entries coexist") {
    var computes = 0
    def get(n: Int) = Shared.leafFrame(spark, "spec_slf_b", Seq(corpus(n))) {
      computes += 1
      corpus(n).select("vec_id")
    }
    val a = get(30); val b = get(40)
    assert(computes == 2, "distinct corpora must each compute")
    assert(a.count() == 30 && b.count() == 40)
    // and neither evicted the other (semanticHash-keyed coexistence)
    get(30); get(40)
    assert(computes == 2, s"both entries must still serve, computed $computes")
  }

  test("sharedLeafFrame: a token change invalidates the copy") {
    var computes = 0
    def get(tok: String) =
      Shared.leafFrame(spark, "spec_slf_c", Seq(corpus(20)), tok) {
        computes += 1
        corpus(20).select("vec_id")
      }
    get("wm1"); get("wm1")
    assert(computes == 1)
    get("wm2") // models an index rebuild bumping the watermark
    assert(computes == 2, "token change must recompute")
    get("wm2")
    assert(computes == 2, "same token reuses again")
  }

  test("leaf: a LogicalRDD with the source schema over exactly the inline rows") {
    val src = corpus(40).select(col("vec_id"), col("embedding"), (col("vec_id") % 3).as("m"))
    val (leaf, rdd) = Shared.leaf(src)
    try {
      assert(leaf.queryExecution.analyzed.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD], "the frame must be a leaf")
      assert(leaf.schema == src.schema)
      assert(rows(leaf.orderBy("vec_id")) == rows(src.orderBy("vec_id")))
    } finally Shared.unpersistRdd(rdd)
  }

  test("leaf: with its cached blocks dropped it serves the EXACT rows through lineage") {
    val src = corpus(40).select(col("vec_id"), size(col("embedding")).as("d"))
    val want = rows(src.orderBy("vec_id"))
    val (leaf, rdd) = Shared.leaf(src)
    assert(rdd.count() == 40)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id), "the leaf's rows must be persisted")
    rdd.unpersist(blocking = true)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(rows(leaf.orderBy("vec_id")) == want, "a dropped leaf must recompute, not lose rows")
  }

  test("leaf: a self-join over it (the DupGraph pointer-jump shape) resolves like the inline frame") {
    // (id, rep): rep = id - 3, down to the chain head id % 3
    val state = corpus(30).select(col("vec_id").as("id"),
      greatest(col("vec_id") - 3, col("vec_id") % 3).as("rep"))
    def jump(s: org.apache.spark.sql.DataFrame) = {
      val p = s.select(col("id").as("p_id"), col("rep").as("p_r"))
      s.join(p, s("rep") === p("p_id"), "left")
        .select(s("id"), least(s("rep"), coalesce(col("p_r"), s("rep"))).as("rep"))
        .orderBy("id")
    }
    val (leaf, rdd) = Shared.leaf(state)
    try assert(rows(jump(leaf)) == rows(jump(state)))
    finally Shared.unpersistRdd(rdd)
  }

  test("leaf: cutting a shuffle-free frame runs no job") {
    val (_, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
      val (_, rdd) = Shared.leaf(corpus(40).select(col("vec_id"), size(col("embedding")).as("d")))
      Shared.unpersistRdd(rdd)
    }
    assert(jobs == 0, s"$jobs jobs")
  }

  test("leaf: under AQE the cut runs the frame's shuffle stage before any action") {
    val src = Tables.embeddings(spark, dir).groupBy((col("vec_id") % 7).as("m")).count()
    val ((leaf, rdd), jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext)(Shared.leaf(src))
    try {
      assert(jobs == 1, s"the cut must run the one shuffle stage, ran $jobs jobs")
      assert(rows(leaf.orderBy("m")) == rows(src.orderBy("m")))
    } finally Shared.unpersistRdd(rdd)
  }

  /** Vectors.semanticGroups' chain run inline, outside the registry —
    * the unmemoized spelling the served leaf must equal row for row.
    */
  private def inlineGroups(d: String, threshold: Double) = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(spark, d).select("doc_id", "source", "n_chars")
      .join(Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .withColumn("bucket", expr("n_chars DIV 100"))
      .withColumn("prev_emb", lag("embedding", 1).over(w))
      .withColumn("prev_bucket", lag("bucket", 1).over(w))
      .withColumn("dist",
        when(col("prev_emb").isNull, 0.0)
          .otherwise(round(lit(1.0) - round(expr("cosine_sim(embedding, prev_emb)"), 6), 6)))
      .withColumn("brk",
        when(col("prev_emb").isNull, 1)
          .when(col("dist") > threshold || col("bucket") =!= col("prev_bucket"), 1)
          .otherwise(0))
      .withColumn("group_id",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .select("doc_id", "source", "bucket", "group_id")
      .orderBy("source", "doc_id")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq

  private def buildSeconds(key: String): Double =
    BuildLedger.snapshot().toMap.getOrElse(s"sharedLeaf:$key", 0.0)

  test("semanticGroups: one leaf per corpus, equal to the unmemoized chain") {
    val g1 = operators.Vectors.semanticGroups(spark, dir)
    val built = buildSeconds("semantic_groups:t=1.0")
    assert(built > 0.0, "the groups must be computed through the shared-leaf registry")
    val g2 = operators.Vectors.semanticGroups(spark, dir)
    assert(g1 eq g2, "a second call on the same corpus must serve the SAME leaf")
    assert(buildSeconds("semantic_groups:t=1.0") == built, "the second call must not recompute")
    assert(g1.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD], "served as a leaf, not the window chain")
    assert(rows(g1) == rows(inlineGroups(dir, 1.0)),
      "the leaf must hold exactly the rows of the inline chain, in its order")
  }

  test("semanticGroups: a different threshold computes its own leaf") {
    val base = operators.Vectors.semanticGroups(spark, dir)
    val t = 0.9
    val other = operators.Vectors.semanticGroups(spark, dir, threshold = t)
    assert(buildSeconds(s"semantic_groups:t=$t") > 0.0, "a new threshold must compute")
    assert(!(other eq base))
    assert(operators.Vectors.semanticGroups(spark, dir, threshold = t) eq other)
    assert(operators.Vectors.semanticGroups(spark, dir) eq base,
      "the default-threshold leaf must still serve alongside it")
    val want = rows(inlineGroups(dir, t))
    assert(rows(other) == want)
    assert(want != rows(base), "the fixture must make the threshold matter")
  }

  test("semanticGroups: documents rewritten under the same path recompute, never serve stale") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_slf_groups_")
    Seq("documents", "embeddings").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Path.of(s"$dir/$t.parquet"),
        tmp.resolve(s"$t.parquet"))
    }
    val d = tmp.toAbsolutePath.toString
    val before = operators.Vectors.semanticGroups(spark, d)
    val beforeRows = rows(before)
    assert(beforeRows == rows(inlineGroups(d, 1.0)))
    val tok0 = Tables.sourceToken(spark, d, "documents")
    // regenerate documents.parquet in place: every odd doc moves up
    // one length bucket, which breaks groups at every parity flip
    val staged = tmp.resolve("staged").toString
    spark.read.parquet(s"$d/documents.parquet")
      .withColumn("n_chars", col("n_chars") + (col("doc_id") % 2) * 100)
      .write.parquet(staged)
    java.nio.file.Files.delete(tmp.resolve("documents.parquet"))
    java.nio.file.Files.move(java.nio.file.Path.of(staged), tmp.resolve("documents.parquet"))
    assert(Tables.sourceToken(spark, d, "documents") != tok0, "the rewrite must change the token")
    val after = operators.Vectors.semanticGroups(spark, d)
    assert(!(after eq before), "a changed token must recompute")
    val afterRows = rows(after)
    assert(afterRows == rows(inlineGroups(d, 1.0)), "the new leaf reflects the new bytes")
    assert(afterRows != beforeRows, "the rewrite must change the groups")
  }

  test("walk: extra hops beyond convergence are a no-op (the dropped early-stop law)") {
    // below wholeEdgeThreshold the walk runs ALL maxHops lazily with
    // no growth check (r21); this pins the equivalence the drop
    // stands on — once no query discovers a new node, further hops
    // add zero rows, so the final top-k is identical at any larger
    // maxHops bound
    val fake = "/fake/slf_walk_eq"
    val base = corpus(60)
    Tables.registerOverride(spark, fake, "embeddings", base)
    val path = java.nio.file.Files.createTempDirectory("graft_slf_walk_")
      .toAbsolutePath.toString
    operators.KnnGraph.graph(k = 10, lists = 4, maxIters = 1).build(spark, fake, path)
    val queries = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def walk(h: Int) = operators.KnnGraph
      .graphWalkOn(spark, path, base, queries, k = 10, beam = 8, maxHops = h)
      .select("q_id", "node", "sim")
    // 60 nodes, beam 8, degree 10: the frontier saturates well before
    // hop 6 — a larger bound must change nothing
    val h6 = walk(6).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val h9 = walk(9).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(h6 == h9, "hops past convergence must not change the top-k")
  }
}
