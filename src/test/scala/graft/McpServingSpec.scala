package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The six MCP tool bodies as they read before the per-corpus serving
  * leaf: per-call joins of `documents` and `semanticGroups`, the group
  * lead and group sizes derived per call, request values as literals.
  * Their code is kept verbatim (comments aside) as the test-only
  * reference the served tools must equal row for row.
  */
object McpReference {
  import graft.operators.{TextEncoder, Vectors}

  private def embeddingDim(spark: SparkSession, dir: String): Int =
    graft.Shared.get[java.lang.Integer](spark, "mcp.dim", (spark, dir),
      Tables.sourceToken(spark, dir, "embeddings")) {
      Tables.embeddings(spark, dir).select(size(col("embedding"))).head.getInt(0)
    }.intValue

  def vectorSearch(spark: SparkSession, dir: String, query: String,
                   topK: Int = 10, source: Option[String] = None,
                   similarityThreshold: Double = 0.0,
                   includeClusterContext: Boolean = true): DataFrame =
    searchScored(spark, dir, queryScoredImpl(spark, dir, query),
      topK, source, similarityThreshold, includeClusterContext)

  def vectorSearchById(spark: SparkSession, dir: String, vecId: Long,
                       topK: Int = 10, source: Option[String] = None,
                       similarityThreshold: Double = 0.0,
                       includeClusterContext: Boolean = true): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === vecId).select(col("embedding").as("qvec"))
    val scored = e.crossJoin(broadcast(q))
      .withColumn("sim", round(expr("cosine_sim(embedding, qvec)"), 6))
      .drop("qvec", "embedding")
    searchScored(spark, dir, scored, topK, source, similarityThreshold, includeClusterContext)
  }

  private def searchScored(spark: SparkSession, dir: String, scored: DataFrame,
                           topK: Int, source: Option[String],
                           similarityThreshold: Double,
                           includeClusterContext: Boolean): DataFrame = {
    require(topK > 0 && topK <= 1000, "top_k must be in the range 1..1000")
    require(similarityThreshold >= 0.0 && similarityThreshold <= 1.0,
      "similarity_threshold must be between 0.0 and 1.0")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        substring(col("text"), 1, 40).as("preview"))
    val groups = Vectors.semanticGroups(spark, dir)
      .select(col("doc_id"), col("source").as("g_source"), col("group_id"))
    val scoredDocs = scored
      .join(docs, col("vec_id") === col("doc_id"))
    val filtered = source.fold(scoredDocs)(s => scoredDocs.filter(col("source") === s))
      .filter(col("sim") >= similarityThreshold)
    val w = Window.orderBy(col("sim").desc, col("vec_id"))
    val hits = broadcast(filtered
        .orderBy(col("sim").desc, col("vec_id")).limit(topK)
        .withColumn("rk", row_number().over(w)))
      .join(groups.drop("g_source"), Seq("doc_id"))
      .select("vec_id", "sim", "rk", "source", "lang", "preview", "group_id")
    if (!includeClusterContext) hits.orderBy("rk")
    else {
      val lead = Vectors.semanticGroups(spark, dir)
        .groupBy(col("source").as("c_source"), col("group_id").as("c_group"))
        .agg(min("doc_id").as("lead_id"))
        .join(Tables.documents(spark, dir).select(col("doc_id").as("lead_id"),
          substring(col("text"), 1, 40).as("cluster_preview")), "lead_id")
        .select("c_source", "c_group", "cluster_preview")
      hits.join(broadcast(lead),
          col("source") === col("c_source") && col("group_id") === col("c_group"), "left")
        .select(col("vec_id"), col("sim"), col("rk"), col("source"), col("lang"),
          col("preview"), col("group_id"), col("cluster_preview"))
        .orderBy("rk")
    }
  }

  private def queryScoredImpl(spark: SparkSession, dir: String, query: String): DataFrame = {
    require(query.trim.nonEmpty, "query must be a non-empty string")
    val qvec = TextEncoder.encodeBatch(Seq(query), embeddingDim(spark, dir)).head
    val qlit = array(qvec.map(lit(_)): _*).cast("array<float>")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("qvec", qlit)
      .withColumn("sim", round(expr("cosine_sim(embedding, qvec)"), 6))
      .drop("qvec")
  }

  def clusterSearch(spark: SparkSession, dir: String, query: String,
                    topK: Int = 50, maxClusters: Int = 10,
                    similarityThreshold: Double = 0.0): DataFrame =
    clusterAgg(vectorSearch(spark, dir, query, topK, None, similarityThreshold,
      includeClusterContext = false), maxClusters)

  def clusterSearchById(spark: SparkSession, dir: String, vecId: Long,
                        topK: Int = 50, maxClusters: Int = 10,
                        similarityThreshold: Double = 0.0): DataFrame =
    clusterAgg(vectorSearchById(spark, dir, vecId, topK, None, similarityThreshold,
      includeClusterContext = false), maxClusters)

  private def clusterAgg(hitsRaw: DataFrame, maxClusters: Int): DataFrame = {
    require(maxClusters > 0 && maxClusters <= 1000, "max_clusters must be in the range 1..1000")
    val hits = hitsRaw
      .filter(col("group_id").isNotNull)
    hits
      .groupBy(col("group_id"), col("source"))
      .agg(
        max(col("sim")).as("best_similarity"),
        count(lit(1)).as("hits"),
        max(struct(col("sim"), -col("vec_id"), col("preview"))).getField("preview").as("snippet"))
      .orderBy(col("best_similarity").desc, col("hits").desc, col("group_id"), col("source"))
      .limit(maxClusters)
  }

  def getCluster(spark: SparkSession, dir: String, source: String,
                 groupId: Long): DataFrame = {
    require(source.nonEmpty, "source must be a non-empty string")
    require(groupId >= 0, "group_id must be >= 0")
    Vectors.semanticGroups(spark, dir)
      .filter(col("source") === source && col("group_id") === groupId)
      .select("doc_id", "source", "group_id")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")),
        "doc_id")
      .orderBy("doc_id")
  }

  def randomLargeCluster(spark: SparkSession, dir: String,
                         minSize: Int = 10, seed: Long = 42L): DataFrame = {
    require(minSize > 0, "min_size must be > 0")
    val big = Vectors.semanticGroups(spark, dir)
      .groupBy("source", "group_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSize)
    val pick = big
      .withColumn("hkey",
        pmod(pmod(col("group_id"), lit(2147483648L)) * lit(2654435761L) + lit(seed),
          lit(4294967296L)))
      .orderBy(col("hkey"), col("source"), col("group_id"))
      .limit(1)
      .select(col("source").as("p_source"), col("group_id").as("p_group"))
    Vectors.semanticGroups(spark, dir)
      .join(broadcast(pick),
        col("source") === col("p_source") && col("group_id") === col("p_group"))
      .select("doc_id", "source", "group_id")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")),
        "doc_id")
      .orderBy("doc_id")
  }
}

/** Pins the MCP serving path: every tool is one scan of the per-corpus
  * serving leaf with its request values in a one-row relation. A fresh
  * parameter set compiles no code, each call stays within its job
  * budget, the rows equal the pre-leaf tool bodies ([[McpReference]])
  * row for row, and the leaf follows its corpus.
  */
class McpServingSpec extends AnyFunSuite {
  import TestSpark._
  import mcp.McpTools

  /** One MCP call: the tool's frame under served (`McpTools`) or
    * reference (`McpReference`) bodies.
    */
  private final case class Call(served: () => DataFrame, reference: () => DataFrame)

  private val tools = Seq("vectorSearch", "vectorSearchById", "clusterSearch",
    "clusterSearchById", "getCluster", "randomLargeCluster")

  private lazy val vecIds: IndexedSeq[Long] =
    Tables.embeddings(spark, dir).select("vec_id").orderBy("vec_id").collect().map(_.getLong(0)).toIndexedSeq
  private lazy val sources: IndexedSeq[String] =
    Tables.documents(spark, dir).select("source").distinct().orderBy("source")
      .collect().map(_.getString(0)).toIndexedSeq
  private lazy val groups: IndexedSeq[(String, Long)] =
    operators.Vectors.semanticGroups(spark, dir).select("source", "group_id").distinct()
      .orderBy("source", "group_id").collect().map(r => (r.getString(0), r.getLong(1))).toIndexedSeq

  private val words = Seq("harbor", "fleet", "storm", "market", "price", "river", "night",
    "signal", "train", "winter", "bridge", "engine", "letter", "garden")

  /** A seeded call of `tool`: every request value is drawn from `rnd`.
    * `ctx` (the search legs' includeClusterContext) picks one of two
    * result shapes, not a request value.
    */
  private def draw(tool: String, rnd: scala.util.Random, ctx: Boolean): Call = {
    def query = Seq.fill(3 + rnd.nextInt(4))(words(rnd.nextInt(words.size))).mkString(" ")
    def vec = vecIds(rnd.nextInt(vecIds.size))
    def topK = 1 + rnd.nextInt(60)
    def thr = Seq(0.0, 0.05, 0.1, 0.2, 0.25, 0.3, 0.5)(rnd.nextInt(7))
    def src = if (rnd.nextBoolean()) None else Some(sources(rnd.nextInt(sources.size)))
    def clusters = 1 + rnd.nextInt(20)
    tool match {
      case "vectorSearch" =>
        val (q, k, s, t, c) = (query, topK, src, thr / 5, ctx)
        Call(() => McpTools.vectorSearch(spark, dir, q, k, s, t, c),
          () => McpReference.vectorSearch(spark, dir, q, k, s, t, c))
      case "vectorSearchById" =>
        val (v, k, s, t, c) = (vec, topK, src, thr, ctx)
        Call(() => McpTools.vectorSearchById(spark, dir, v, k, s, t, c),
          () => McpReference.vectorSearchById(spark, dir, v, k, s, t, c))
      case "clusterSearch" =>
        val (q, k, m, t) = (query, topK, clusters, thr / 5)
        Call(() => McpTools.clusterSearch(spark, dir, q, k, m, t),
          () => McpReference.clusterSearch(spark, dir, q, k, m, t))
      case "clusterSearchById" =>
        val (v, k, m, t) = (vec, topK, clusters, thr)
        Call(() => McpTools.clusterSearchById(spark, dir, v, k, m, t),
          () => McpReference.clusterSearchById(spark, dir, v, k, m, t))
      case "getCluster" =>
        val (s, g) = groups(rnd.nextInt(groups.size))
        Call(() => McpTools.getCluster(spark, dir, s, g),
          () => McpReference.getCluster(spark, dir, s, g))
      case "randomLargeCluster" =>
        val (m, seed) = (1 + rnd.nextInt(6), rnd.nextLong() >>> 1)
        Call(() => McpTools.randomLargeCluster(spark, dir, m, seed),
          () => McpReference.randomLargeCluster(spark, dir, m, seed))
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def columns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("a third fresh parameter set compiles no code, for each of the six tools") {
    val rnd = new scala.util.Random(1001)
    tools.foreach { tool =>
      val Seq(a, b, c) = Seq.fill(3)(draw(tool, rnd, ctx = true))
      a.served().collect(); b.served().collect()
      val before = compiles
      c.served().collect()
      assert(compiles == before, s"$tool compiled ${compiles - before} classes for a fresh parameter set")
    }
  }

  test("job budget per call: 2 for the vector-id searches and the random pick, 1 for the rest") {
    // the 2-job tools broadcast a query row or a pick; the parameters
    // themselves add no job
    val budget = Map("vectorSearch" -> 1, "vectorSearchById" -> 2, "clusterSearch" -> 1,
      "clusterSearchById" -> 2, "getCluster" -> 1, "randomLargeCluster" -> 2)
    val rnd = new scala.util.Random(1002)
    tools.foreach { tool =>
      draw(tool, rnd, ctx = true).served().collect() // the corpus leaf and the embedding dim are built here
      (1 to 3).foreach { _ =>
        val call = draw(tool, rnd, ctx = rnd.nextBoolean())
        val (_, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext)(call.served().collect())
        assert(jobs <= budget(tool), s"$tool ran $jobs jobs; budget ${budget(tool)}")
      }
    }
  }

  test("seeded replay: 20 parameter sets per tool equal the pre-leaf tool bodies row for row") {
    val rnd = new scala.util.Random(1003)
    tools.foreach { tool =>
      (1 to 20).foreach { i =>
        val call = draw(tool, rnd, ctx = rnd.nextInt(4) > 0)
        val (got, want) = (call.served(), call.reference())
        assert(columns(got) == columns(want), s"$tool set $i: columns")
        assert(rows(got) == rows(want), s"$tool set $i: rows")
      }
    }
  }

  test("empty results keep the full schema: threshold 1.0, an unknown source, minSize = Int.MaxValue") {
    val q = "what did the harbor fleet do during rough weather"
    val empty = Seq(
      (McpTools.vectorSearch(spark, dir, q, similarityThreshold = 1.0),
        McpReference.vectorSearch(spark, dir, q, similarityThreshold = 1.0)),
      (McpTools.clusterSearch(spark, dir, q, similarityThreshold = 1.0),
        McpReference.clusterSearch(spark, dir, q, similarityThreshold = 1.0)),
      (McpTools.vectorSearchById(spark, dir, 3L, source = Some("no_such_source")),
        McpReference.vectorSearchById(spark, dir, 3L, source = Some("no_such_source"))),
      (McpTools.vectorSearchById(spark, dir, 3L, source = Some("no_such_source"), includeClusterContext = false),
        McpReference.vectorSearchById(spark, dir, 3L, source = Some("no_such_source"), includeClusterContext = false)),
      (McpTools.clusterSearchById(spark, dir, -1L),
        McpReference.clusterSearchById(spark, dir, -1L)),
      (McpTools.getCluster(spark, dir, "no_such_source", 0L),
        McpReference.getCluster(spark, dir, "no_such_source", 0L)),
      (McpTools.randomLargeCluster(spark, dir, minSize = Int.MaxValue),
        McpReference.randomLargeCluster(spark, dir, minSize = Int.MaxValue)))
    empty.foreach { case (got, want) =>
      assert(columns(got) == columns(want))
      assert(got.collect().isEmpty && want.collect().isEmpty)
    }
    // threshold 1.0 by vector id keeps exactly the query's own vector and its exact copies
    val self = McpTools.vectorSearchById(spark, dir, 3L, similarityThreshold = 1.0)
    assert(rows(self) == rows(McpReference.vectorSearchById(spark, dir, 3L, similarityThreshold = 1.0)))
    assert(rows(self).map(_.getLong(0)).contains(3L))
  }

  /** A private copy of the two tables the serving leaf reads. */
  private def corpusCopy(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mcp_leaf_")
    Seq("documents", "embeddings").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Path.of(s"$dir/$t.parquet"), d.resolve(s"$t.parquet"))
    }
    d.toAbsolutePath.toString
  }

  private def leafRddId(d: String): Int =
    McpTools.servingLeaf(spark, d).queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  test("serving leaf: documents rewritten under the same path rebuild the leaf and unpersist the old one") {
    val d = corpusCopy()
    val src = Tables.documents(spark, d).select("source").head.getString(0)
    def search = McpTools.vectorSearchById(spark, d, 3L, topK = 20)
    val before = rows(search)
    val oldId = leafRddId(d)
    assert(spark.sparkContext.getPersistentRDDs.contains(oldId), "the leaf's rows are persisted")
    // regenerate documents.parquet in place: every text gains a marker
    // prefix, so every preview the tools serve changes
    val staged = s"$d/staged"
    spark.read.parquet(s"$d/documents.parquet")
      .withColumn("text", concat(lit("~ "), col("text")))
      .write.parquet(staged)
    val docs = java.nio.file.Path.of(s"$d/documents.parquet")
    java.nio.file.Files.delete(docs)
    java.nio.file.Files.move(java.nio.file.Path.of(staged), docs)
    val after = rows(search)
    assert(after != before, "the rewrite must reach the served rows")
    assert(after == rows(McpReference.vectorSearchById(spark, d, 3L, topK = 20)))
    assert(after.forall(_.getString(5).startsWith("~ ")), "every preview comes from the new bytes")
    val g = McpTools.getCluster(spark, d, src, 0L)
    assert(rows(g) == rows(McpReference.getCluster(spark, d, src, 0L)))
    assert(leafRddId(d) != oldId, "a changed token rebuilds the leaf")
    assert(!spark.sparkContext.getPersistentRDDs.contains(oldId), "the superseded leaf must be unpersisted")
  }

  test("serving leaf: 8 threads calling the tools on a new corpus build one leaf") {
    val d = corpusCopy()
    val builds0 = BuildLedger.builds("sharedLeaf:mcp.serving")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val results = try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val fs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Seq[Row]] {
          def call(): Seq[Row] = {
            go.await()
            rows(i % 4 match {
              case 0 => McpTools.vectorSearchById(spark, d, 3L)
              case 1 => McpTools.clusterSearchById(spark, d, 3L)
              case 2 => McpTools.randomLargeCluster(spark, d, minSize = 2)
              case _ => McpTools.vectorSearch(spark, d, "harbor fleet storm")
            })
          }
        })
      }
      go.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
    assert(BuildLedger.builds("sharedLeaf:mcp.serving") - builds0 == 1,
      "concurrent callers of one corpus must share one leaf build")
    assert(results(0) == rows(McpReference.vectorSearchById(spark, d, 3L)))
    assert(results(2) == rows(McpReference.randomLargeCluster(spark, d, minSize = 2)))
    assert(results.grouped(4).toSeq.distinct.size == 1, "every thread of a tool gets the same rows")
  }
}
