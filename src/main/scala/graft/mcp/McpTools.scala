package graft.mcp

import graft.Tables
import graft.operators.{Params, TextEncoder, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MCP-shaped serving adapter — the reference's four MCP tools
  * (/root/reference/terrorblade/mcp/server.py:119-379: vector_search /
  * cluster_search / get_cluster / random_large_cluster) re-expressed
  * as a PURE FUNCTION surface over the library's own operators. No
  * transport: the sandbox runs no service processes, and an MCP host
  * would wrap these four calls 1:1 — every tool body below is exactly
  * the query its reference twin runs, so the serving layer adds no
  * query logic of its own (the same division the reference makes:
  * server.py delegates to VectorStore/TelegramDatabase).
  *
  * Model mapping (testdata schema ↔ reference schema):
  *   embeddings.vec_id ↔ message embedding id; documents.doc_id ↔
  *   message id (q18's join contract); documents.source ↔ chat_id;
  *   Vectors.semanticGroups' (source, group_id) ↔ the reference's
  *   (chat_id, group_id) cluster key (cluster_search aggregates by
  *   exactly that pair, server.py:241-246).
  *
  * The query string is embedded with TextEncoder (q49's deterministic
  * batched encoder contract — the seam a real model plugs into;
  * server.py's _encode_query is the same seam around
  * SentenceTransformer).
  *
  * Scale shape: every tool is one scan of the corpus's serving leaf
  * ([[servingLeaf]]: each embedding with its document, cluster key,
  * cluster size and cluster lead, materialized once per corpus), with
  * the request's values joined in from a one-row parameter relation
  * (`Params.withParams`), so a new request reuses the generated code of
  * the last. The searches score the leaf against one query row and
  * keep the top-k as orderBy+limit (TakeOrderedAndProject:
  * per-partition top-k merged into one partition); the rank, the
  * cluster aggregation and the final order then run on that k-bounded
  * partition with no exchange. The member lists filter the leaf by a
  * cluster key in one task and sort the cluster's rows there
  * ([[members]]). Nothing here shuffles the corpus, and nothing
  * per call re-derives joins, cluster sizes or leads: a call runs at
  * most 2 Spark jobs (the broadcast of a query row or a pick, when the
  * tool has one, and the result), pinned by McpServingSpec.
  */
object McpTools {

  /** Embedding dimensionality, memoized per (session, dir) in
    * [[graft.Shared]] under the embeddings source token: deriving it is
    * a head-of-scan Spark job, and a serving adapter must not pay that
    * on EVERY vectorSearch/clusterSearch call (ADVICE r11). The dim IS
    * a property of the corpus bytes, so a registerOverride or a source
    * regeneration recomputes it.
    */
  private def embeddingDim(spark: SparkSession, dir: String): Int =
    graft.Shared.get[java.lang.Integer](spark, "mcp.dim", (spark, dir),
      Tables.sourceToken(spark, dir, "embeddings")) {
      Tables.embeddings(spark, dir).select(size(col("embedding"))).head.getInt(0)
    }.intValue

  /** The corpus as the tools serve it, one leaf per corpus in
    * [[graft.Shared.leafFrame]] under the documents and embeddings
    * source tokens: `embeddings(vec_id, embedding)` left-joined to
    * `documents ⋈ Vectors.semanticGroups`, that is `doc_id, source,
    * lang, text, preview, group_id`, plus `group_n`, the size of the
    * (source, group_id) cluster, and `cluster_preview`, the preview of
    * its min-`doc_id` member (the compact analog of the reference's
    * include_cluster_messages text). The join is left so a query vector
    * without a document can still be named by id; such rows carry null
    * document columns and are never a hit. Documents and groups have
    * the same support (both are documents ⋈ embeddings), so every hit
    * has a cluster.
    */
  private[graft] def servingLeaf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "lang", "text")
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val token = Tables.sourceToken(spark, dir, "documents") + "\n" +
      Tables.sourceToken(spark, dir, "embeddings")
    graft.Shared.leafFrame(spark, "mcp.serving", Seq(docs, e), token) {
      val cluster = Window.partitionBy("source", "group_id")
      val members = docs.withColumn("preview", substring(col("text"), 1, 40))
        .join(Vectors.semanticGroups(spark, dir).select("doc_id", "group_id"), "doc_id")
        .withColumn("group_n", count(lit(1)).over(cluster))
        .withColumn("cluster_preview", min_by(col("preview"), col("doc_id")).over(cluster))
      e.join(members, col("vec_id") === col("doc_id"), "left")
    }
  }

  /** vector_search (server.py:119-189): semantic top-k with text +
    * optional source (chat) filter, similarity threshold, and the
    * hit's cluster id. `includeClusterContext` adds the cluster's
    * leading preview — the compact cluster snippet of the reference.
    */
  def vectorSearch(spark: SparkSession, dir: String, query: String,
                   topK: Int = 10, source: Option[String] = None,
                   similarityThreshold: Double = 0.0,
                   includeClusterContext: Boolean = true): DataFrame = {
    require(query.trim.nonEmpty, "query must be a non-empty string")
    val qvec = TextEncoder.encodeBatch(Seq(query), embeddingDim(spark, dir)).head
    searchScored(Params.withParams(servingLeaf(spark, dir),
      "qvec ARRAY<FLOAT>, p_thr DOUBLE, p_src STRING", qvec.toSeq, similarityThreshold, source.orNull),
      topK, similarityThreshold, includeClusterContext)
  }

  /** vector_search for a query that arrives ALREADY EMBEDDED — the
    * tool surface below the encoder seam (the reference's
    * VectorStore.search takes the query vector; _encode_query /
    * TextEncoder sit above it). The query is a corpus vector named by
    * id, which is what makes this leg ORACLE-EXPRESSIBLE end-to-end
    * (q81: DuckDB can name the same vector and replay the whole
    * pipeline; the text leg's encoder is a deterministic stub with
    * nothing to oracle — q49's rows-only contract).
    */
  def vectorSearchById(spark: SparkSession, dir: String, vecId: Long,
                       topK: Int = 10, source: Option[String] = None,
                       similarityThreshold: Double = 0.0,
                       includeClusterContext: Boolean = true): DataFrame = {
    val leaf = servingLeaf(spark, dir)
    // the query row: the named vector's embedding with the request's
    // other parameters (no such vector, no row, no hits)
    val q = Params.withParams(leaf, "p_vec BIGINT, p_thr DOUBLE, p_src STRING",
        vecId, similarityThreshold, source.orNull)
      .filter(col("vec_id") === col("p_vec"))
      .select(col("embedding").as("qvec"), col("p_thr"), col("p_src"))
    searchScored(leaf.crossJoin(broadcast(q)), topK, similarityThreshold, includeClusterContext)
  }

  /** The top-k of the serving leaf joined to its query row (`qvec`, the
    * threshold `p_thr`, the optional source `p_src`).
    */
  private def searchScored(scored: DataFrame, topK: Int, similarityThreshold: Double,
                           includeClusterContext: Boolean): DataFrame = {
    require(topK > 0 && topK <= 1000, "top_k must be in the range 1..1000")
    require(similarityThreshold >= 0.0 && similarityThreshold <= 1.0,
      "similarity_threshold must be between 0.0 and 1.0")
    // the source filter and the threshold apply BEFORE the limit
    // (per-chat top-k, as in the reference SQL's WHERE)
    val hits = scored
      .filter(col("doc_id").isNotNull && (col("p_src").isNull || col("source") === col("p_src")))
      .withColumn("sim", round(expr("cosine_sim(embedding, qvec)"), 6))
      .filter(col("sim") >= col("p_thr"))
      .select("vec_id", "sim", "source", "lang", "preview", "group_id", "cluster_preview")
      // top-k as orderBy+limit = TakeOrderedAndProject — NEVER a global
      // row_number window, which would single-task the corpus; the
      // rank window runs on the k-bounded partition
      .orderBy(col("sim").desc, col("vec_id")).limit(topK)
      .withColumn("rk", row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
    val out = Seq("vec_id", "sim", "rk", "source", "lang", "preview", "group_id") ++
      (if (includeClusterContext) Seq("cluster_preview") else Nil)
    hits.select(out.map(col): _*).orderBy("rk")
  }

  /** cluster_search (server.py:191-276): aggregate the top-k hits by
    * (cluster, chat): best similarity, hit count, the best hit's
    * preview as the snippet; rank by (best_similarity, hits) desc —
    * the reference's exact ordering, with (group_id, source) as the
    * deterministic tie-break the reference leaves to dict order.
    */
  def clusterSearch(spark: SparkSession, dir: String, query: String,
                    topK: Int = 50, maxClusters: Int = 10,
                    similarityThreshold: Double = 0.0): DataFrame =
    clusterAgg(vectorSearch(spark, dir, query, topK, None, similarityThreshold,
      includeClusterContext = false), maxClusters)

  /** cluster_search below the encoder seam (vectorSearchById's
    * contract) — q81b's oracle-expressible serving leg.
    */
  def clusterSearchById(spark: SparkSession, dir: String, vecId: Long,
                        topK: Int = 50, maxClusters: Int = 10,
                        similarityThreshold: Double = 0.0): DataFrame =
    clusterAgg(vectorSearchById(spark, dir, vecId, topK, None, similarityThreshold,
      includeClusterContext = false), maxClusters)

  private def clusterAgg(hitsRaw: DataFrame, maxClusters: Int): DataFrame = {
    require(maxClusters > 0 && maxClusters <= 1000, "max_clusters must be in the range 1..1000")
    val hits = hitsRaw
      .filter(col("group_id").isNotNull) // the reference skips cluster_id < 0
    hits
      .groupBy(col("group_id"), col("source"))
      .agg(
        max(col("sim")).as("best_similarity"),
        count(lit(1)).as("hits"),
        // snippet of the MOST similar member; vec_id tie-break
        max(struct(col("sim"), -col("vec_id"), col("preview"))).getField("preview").as("snippet"))
      .orderBy(col("best_similarity").desc, col("hits").desc, col("group_id"), col("source"))
      .limit(maxClusters)
  }

  /** get_cluster (server.py:280-328): every member of one (source,
    * group) cluster with its text, in id order — the reference's
    * ORDER BY m.date with this schema's monotone id standing in.
    */
  def getCluster(spark: SparkSession, dir: String, source: String,
                 groupId: Long): DataFrame = {
    // the reference's `chat_id <= 0` ValueError, with source (the
    // chat analog in this schema) as the guarded key
    require(source.nonEmpty, "source must be a non-empty string")
    require(groupId >= 0, "group_id must be >= 0")
    members(Params.withParams(servingLeaf(spark, dir), "k_source STRING, k_group BIGINT",
      source, groupId))
  }

  /** The leaf rows of the cluster keyed `(k_source, k_group)` on each
    * row of `keyed`, as (doc_id, source, group_id, lang, text) in
    * doc_id order. The filtered scan runs as ONE task, so the sort of
    * the cluster's rows is local and the call runs no exchange. The
    * serving leaf is not an AQE query stage, so
    * `GraftExtensions.InStageSort` cannot measure it, and a plain
    * global sort over it would add a sampling job and a shuffle stage.
    * One task over the in-memory leaf is cheaper than that at the
    * corpus sizes this store holds; a corpus too large for one task's
    * scan would partition the leaf by cluster key instead.
    */
  private def members(keyed: DataFrame): DataFrame =
    keyed.filter(col("source") === col("k_source") && col("group_id") === col("k_group"))
      .select("doc_id", "source", "group_id", "lang", "text")
      .coalesce(1)
      .orderBy("doc_id")

  /** The server's two @mcp.prompt templates (server.py:89-117) —
    * pure string functions an MCP host registers verbatim; replayed
    * here so the full server surface (4 tools + 2 prompts) has a
    * graft counterpart.
    */
  def vectorSearchTemplate(query: String): String =
    "You are assisting with semantic search over Telegram chats.\n" +
      "Use the `vector_search` tool with the provided query to find the most relevant messages.\n" +
      "Provide concise results with chat name, author, date, similarity, and a compact snippet.\n\n" +
      s"Query: $query\n" +
      "Return the top findings and any notable clusters."

  def clusterSummaryTemplate(chatName: String, snippet: String): String =
    "You are summarizing a conversation cluster from a Telegram chat.\n" +
      s"Chat: $chatName\n" +
      "Snippet (ordered by time, `>>>` marks the most relevant message):\n" +
      s"$snippet\n\n" +
      "Write a brief summary covering: topic, participants, and outcome."

  /** get_cluster_summary_data (cluster_analysis_cli.py:339-377): one
    * cluster's messages formatted for LLM summarization — "[date]
    * author: text" lines in time order, empty texts skipped, joined
    * by newlines. This schema's mapping: doc_id is the monotone date
    * stand-in (get_cluster's ordering contract) and source the chat
    * key; there is no author column, so the line is "[doc_id] source:
    * text". The LLM CALL half (summarize_cluster_with_openai) needs
    * an external API and stays out of scope — this is the data side
    * that feeds it, reduced to ONE row on the driver (a cluster is
    * serving-bounded, and ordering is pinned inside the aggregation
    * by array_sort on the id-keyed struct, not by shuffle luck).
    */
  def clusterSummaryData(spark: SparkSession, dir: String, source: String,
                         groupId: Long): String =
    getCluster(spark, dir, source, groupId)
      .filter(length(trim(col("text"))) > 0)
      .select(struct(col("doc_id").as("id"),
        concat(lit("["), col("doc_id"), lit("] "), col("source"), lit(": "),
          trim(col("text"))).as("line")).as("s"))
      .agg(coalesce(array_join(expr("transform(array_sort(collect_list(s)), x -> x.line)"),
        "\n"), lit("")).as("txt"))
      .head.getString(0)

  /** random_large_cluster (server.py:331-370): a "random" cluster of
    * size ≥ minSize. Randomness is SEEDED here (the q59/q82
    * multiplicative-hash arithmetic over the cluster key) — an engine
    * that promises deterministic replays has no business calling
    * rand() at serve time; vary `seed` for a different pick. The
    * arithmetic (BIGINT multiply + mod, ties broken by the full key)
    * is deliberately SQL-expressible so the pick replays verbatim in
    * the DuckDB oracle (q81d) — the earlier Murmur3 spelling was
    * engine-private and kept this one tool outside the hard gate.
    */
  def randomLargeCluster(spark: SparkSession, dir: String,
                         minSize: Int = 10, seed: Long = 42L): DataFrame = {
    require(minSize > 0, "min_size must be > 0")
    val leaf = servingLeaf(spark, dir)
    // every member row carries its cluster's key and size, so the
    // pick is a top-1 over member rows (a cluster's rows tie on the
    // whole sort key) with no per-call regrouping
    val pick = Params.withParams(leaf, "p_min INT, p_seed BIGINT", minSize, seed)
      .filter(col("group_n") >= col("p_min"))
      // group_id pre-masked to 2^31 so the BIGINT product can't
      // overflow on EITHER engine (DuckDB errors rather than wraps;
      // identity for all ids < 2^31) — see Curation.pseudonymize.khash
      .withColumn("hkey",
        pmod(pmod(col("group_id"), lit(2147483648L)) * lit(2654435761L) + col("p_seed"),
          lit(4294967296L)))
      .orderBy(col("hkey"), col("source"), col("group_id"))
      .limit(1)
      .select(col("source").as("k_source"), col("group_id").as("k_group"))
    members(leaf.crossJoin(broadcast(pick)))
  }
}
