package graft.operators

import graft.Tables
import graft.plans.Runs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector search family — re-expresses the reference's embedding
  * store + cosine search surface
  * (terrorblade/data/database/vector_store.py:224-302
  * `similarity_search`/`distance_search`/`get_all_distances`,
  * :315-414 `get_similar_messages_with_text`) and the semantic
  * segmentation pipeline
  * (terrorblade/data/preprocessing/TextPreprocessor.py:248-302
  * `calculate_sliding_distances`, :461-499 `calculate_segments`,
  * :429-459 `calculate_groups`).
  *
  * Scale design: query sets are tiny and broadcast; the corpus is
  * scanned ONCE per operator with the cosine computed by a codegen'd
  * Catalyst expression (no UDF boxing). Top-k is a per-query window
  * over a corpus scored scan — at 1000 executors this is a
  * map-side-scored scan + one k-bounded shuffle. The IVF variant is
  * the 100TB path: it prunes the scan to nProbe/nLists of the data
  * via a label-partitioned candidate join.
  *
  * Similarities are rounded to 6dp at the surface: rank order is
  * taken on the rounded value with a unique key tie-break, so
  * results are reproducible across engines and partitionings.
  */
object Vectors {

  private def scored(spark: SparkSession, dir: String, nQueries: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(expr("cosine_sim(embedding, qvec)"), 6))
  }

  /** q16: brute-force cosine top-k per query (similarity_search). */
  def vectorTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5): DataFrame = {
    CellProbe.topK(scored(spark, dir, nQueries), "query_id", "sim", "vec_id", k)
      .select("query_id", "vec_id", "sim", "rk")
      .orderBy("query_id", "rk")
  }

  /** q17: threshold search with similarity + distance surface
    * (distance_search / get_all_distances).
    */
  def vectorThreshold(spark: SparkSession, dir: String, minSim: Double = 0.25, nQueries: Int = 5): DataFrame =
    scored(spark, dir, nQueries)
      .filter(col("sim") >= minSim)
      .select(col("query_id"), col("vec_id"), col("sim"), (lit(1.0) - col("sim")).as("dist"))
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))

  /** q18: top-k joined back to document text + metadata
    * (get_similar_messages_with_text's join surface). The k-bounded
    * hit set broadcasts to the documents join.
    */
  def vectorJoinText(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5): DataFrame = {
    val hits = vectorTopK(spark, dir, k, nQueries)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 40).as("preview"))
    broadcast(hits).join(docs, col("vec_id") === col("doc_id"))
      .select("query_id", "vec_id", "sim", "rk", "lang", "preview")
      .orderBy("query_id", "rk")
  }

  /** q19: IVF approximate search — the scale path standing in for the
    * reference's HNSW index (vector_store.py:191-214). Coarse cells =
    * exact per-label centroids; each query probes the nProbe nearest
    * cells and searches exactly within them. At 100TB the corpus
    * would be written bucketed by cell id, so the candidate join
    * becomes a partition-pruned scan of nProbe/nLists of the data.
    */
  def annIvf(spark: SparkSession, dir: String, k: Int = 10, nProbe: Int = 3, nQueries: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val centroids = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      // DECIMAL sum, not avg(double): float accumulation order depends
      // on partitioning, so a plain avg makes the centroids — and any
      // borderline probe ranking — differ run to run. The sum is cast
      // to double BEFORE the divide: decimal÷bigint semantics
      // (result scale, HALF_UP point) are engine-specific, while
      // "correctly-rounded decimal→double, then one IEEE division" is
      // bit-identical on any engine — the sum's unscaled value stays
      // under 2^53 at gate scales, so the cast is exact-rounded on
      // both sides. This is what lets q19's oracle replay the mean
      // centroids verbatim in DuckDB.
      .groupBy("label", "pos")
      .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(20, 10))).cast("double")
        / count(lit(1))).as("c"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).cast("array<float>").as("cvec"))
    // the probe ranks on the UNROUNDED cosine, as q19's oracle does
    cellSearch(e, centroids.select(col("label"), col("cvec").as("svec")),
      expr("cosine_sim(qvec, svec)"), k, nProbe, nQueries)
  }

  /** The q19/q19b search over `e`'s label cells, represented by
    * (label, svec): [[CellProbe]] ranks the cells by `cellScore` over
    * (qvec, svec), then the probed cells' members join on label and
    * rank by 6dp cosine — the unpruned twin of `VectorIndex.probe`.
    */
  private def cellSearch(e: DataFrame, cells: DataFrame, cellScore: Column, k: Int,
                         nProbe: Int, nQueries: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probes = CellProbe.rank(q.crossJoin(broadcast(cells)), "query_id", "label", cellScore, nProbe)
      .select("query_id", "qvec", "label")
    candidateTopK(e.join(broadcast(probes), Seq("label")), k)
  }

  /** Candidates (query_id, qvec, vec_id, label, embedding) → the
    * per-query top-k by 6dp cosine, self-pairs dropped, in output
    * order: q19, q19b and q48's shared tail.
    */
  private[operators] def candidateTopK(cand: DataFrame, k: Int): DataFrame =
    CellProbe.topK(cand.filter(col("vec_id") =!= col("query_id"))
        .withColumn("sim", round(expr("cosine_sim(embedding, qvec)"), 6)),
        "query_id", "sim", "vec_id", k)
      .select("query_id", "vec_id", "label", "sim", "rk")
      .orderBy("query_id", "rk")

  /** q19b: seed-vector IVF — same probe/prune shape as annIvf but
    * cells are represented by their min-vec_id member instead of a
    * float mean, making every step engine-exact (ORACLE-CHECKED,
    * unlike mean-centroid IVF where cross-engine float averaging
    * diverges). At scale, seeded cells are how you bootstrap IVF
    * before a k-means refinement pass anyway.
    */
  def annIvfSeeded(spark: SparkSession, dir: String, k: Int = 10, nProbe: Int = 3,
                   nQueries: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    cellSearch(e, labelSeeds(e), seededScore, k, nProbe, nQueries)
  }

  /** The seeded cells (label, svec): each label's min-vec_id member. */
  private[operators] def labelSeeds(e: DataFrame): DataFrame =
    e.withColumn("rn", row_number().over(Window.partitionBy("label").orderBy("vec_id")))
      .filter(col("rn") === 1)
      .select(col("label"), col("embedding").as("svec"))

  /** The seeded-cell probe score: 6dp cosine of query and seed. */
  private[operators] def seededScore: Column = round(expr("cosine_sim(qvec, svec)"), 6)

  /** q78: ANN RECALL@k — the index-quality metric every deployed ANN
    * system monitors (and the acceptance test for any nProbe/nLists
    * tuning change): for each benchmark query, how many of the exact
    * brute-force top-k did the IVF probe recover. Composes two
    * already-oracle-exact operators — q16's brute top-k (the ground
    * truth) and q19b's seeded-cell IVF (the engine-exact index
    * spelling) — so unlike the float-internal probe tools
    * (RecallProbe, NegMineProbe) this recall number is itself
    * ORACLE-EXACT: hit counts are integers from two deterministic
    * top-k sets, recall is one int/int IEEE division. Scale: both
    * sides are k-bounded per query; the semi join and rollup move
    * nQueries·k rows.
    */
  def annRecall(spark: SparkSession, dir: String, k: Int = 10,
                nProbe: Int = 3, nQueries: Int = 5): DataFrame = {
    val brute = vectorTopK(spark, dir, k, nQueries).select("query_id", "vec_id")
    val ivf = annIvfSeeded(spark, dir, k, nProbe, nQueries).select("query_id", "vec_id")
    val hits = brute.join(ivf, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    // denominator = the per-query BRUTE set size, not the requested
    // k: when fewer than k candidates exist (tiny corpus, heavy
    // filters) a perfect index must read recall 1.0, not n_brute/k
    brute.groupBy("query_id").agg(count(lit(1)).as("n_brute"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k).as("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_brute")).as("recall"))
      .orderBy("query_id")
  }

  /** q41: k-means (Lloyd) refinement of the IVF coarse cells — the
    * follow-up pass q19b's Scaladoc promises: seeded cells bootstrap
    * the index, a few Lloyd rounds tighten them. Centroid means use
    * DECIMAL(20,10) sums over the float components: exact and
    * order-insensitive, so the refinement is DETERMINISTIC under any
    * partitioning (a plain double avg would wobble in the last ulps
    * per run). Reassignment is argmax cosine over the (few, broadcast)
    * centroids. The DECIMAL means replay exactly in DuckDB ⇒ the
    * q41 oracle is hash-EXACT; KmeansSpec additionally replays one
    * round in plain JVM arithmetic and asserts identical assignments.
    */
  private[graft] def kmeansAssign(spark: SparkSession, dir: String, iters: Int,
                                  nCoarse: Int = 1): DataFrame =
    kmeansAssignOn(spark,
      Tables.embeddings(spark, dir).select("vec_id", "label", "embedding"),
      iters, nCoarse)

  /** The q41 Lloyd loop over an arbitrary (vec_id, label, embedding)
    * frame — the seam q41b's planted corpus rides (the ivfPqTopKOn /
    * dedupEmbeddingIvfOn factoring applied to k-means).
    */
  private[graft] def kmeansAssignOn(spark: SparkSession, e: DataFrame, iters: Int,
                                    nCoarse: Int = 1): DataFrame = {
    var assign = e.select(col("vec_id"), col("embedding"), col("label").as("cell"),
      lit(null).cast("double").as("csim"))
    for (_ <- 1 to iters) {
      val cents = centroidsOf(assign)
      // reassignment routes through the shared assignCells kernel:
      // flat (nCoarse=1) for the bounded label-cell count here —
      // callers with nLists ∝ corpus pass autoCoarse(nLists) and get
      // the two-level N·√nLists plan instead of N·nLists. The id-only
      // assignment joins back to the (vec_id-keyed) embeddings, so
      // embeddings never ride through the ranking shuffle.
      val a = assignCells(e.select("vec_id", "embedding"), cents, nProbe = 1, nCoarse = nCoarse)
      assign = e.select("vec_id", "embedding")
        .join(a.select(col("vec_id"), col("cell"), col("s").as("csim")), "vec_id")
        .select("vec_id", "embedding", "cell", "csim")
    }
    assign
  }

  /** Lloyd-refined FINE centroids over (vec_id, embedding) rows:
    * vec_id-residue seeds bootstrap `lists` cells, then `iters`
    * rounds of top-1 reassignment + decimal-mean recompute tighten
    * them. Residue seeding alone leaves every centroid ≈ the global
    * mean (random groups — the same no-signal trap the coarse level
    * documents below), which is fine for blocking that verifies
    * candidates exactly (q29b) but ruins PROBE recall for consumers
    * that rank cells and never look outside them (q62b mining:
    * measured 0.47→0.18 top-k recall as nLists grew, pre-refinement).
    * Deterministic: decimal means + rounded-cosine ranking with cell
    * tie-breaks, same as every other IVF kernel here.
    */
  private[graft] def refinedCentroids(e: DataFrame, lists: Int, iters: Int = 1): DataFrame = {
    // seeds are ACTUAL member vectors (min vec_id per residue class —
    // the q19b seed rule), not residue-group means: a mean of a
    // random group ≈ the global mean for every cell, which makes all
    // cells equally similar to everything — Lloyd then collapses the
    // corpus into a few giant cells (measured: probe joins blew up
    // 1.7s → 14-26s on the replicated-corpus probe) while real-vector
    // seeds keep cells anchored to distinct points of the space.
    val seedW = Window.partitionBy(pmod(col("vec_id"), lit(lists))).orderBy("vec_id")
    var cents = e.withColumn("rn", row_number().over(seedW)).filter(col("rn") === 1)
      .select(pmod(col("vec_id"), lit(lists)).cast("int").as("c_cell"),
        col("embedding").as("cvec"))
    for (_ <- 1 to iters) {
      val a = assignCells(e.select("vec_id", "embedding"), cents,
        nProbe = 1, nCoarse = autoCoarse(lists))
      cents = centroidsOf(
        e.join(a.select("vec_id", "cell"), "vec_id").select("cell", "embedding"))
    }
    cents
  }

  /** Exact decimal-mean centroids of an assignment (cell, cvec).
    * Sum-then-cast-then-divide, not decimal division — see annIvf's
    * centroid note: the IEEE double division is engine-portable where
    * decimal÷bigint scale/rounding rules are not (what lets q41's
    * Lloyd loop replay verbatim in the DuckDB oracle).
    */
  private[graft] def centroidsOf(assign: DataFrame): DataFrame =
    assign.select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(20, 10))).cast("double")
        / count(lit(1))).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).cast("array<float>").as("cvec"))
      .select(col("cell").as("c_cell"), col("cvec"))

  def kmeansIvf(spark: SparkSession, dir: String, iters: Int = 2): DataFrame =
    kmeansAssign(spark, dir, iters)
      .select("vec_id", "cell", "csim")
      .orderBy("vec_id")

  /** q41b: the ORACLE-EXACT graduation of the k-means family — the
    * planting pattern (q27b/q28b/q29d/q67g) applied to ASSIGNMENT
    * PURITY: the corpus plus a verbatim copy of every `every`-th
    * vector (same label, vec_id + idOffset) runs q41's own Lloyd
    * loop, and each planted pair must land in the SAME cell after
    * every iteration. Why certain: the initial cell is the shared
    * label, and each reassignment is a pure per-vector function of
    * (embedding, centroid frame) — rounded-cosine ranking with cell
    * tie-breaks — so identical embeddings can never diverge, whatever
    * the centroids (which the copies themselves shift) compute to. A
    * nondeterministic tie-break, an unstable ranking, or dropped/
    * duplicated rows in the loop's joins would each break it. Cell
    * ids/means stay out of the output (engine-internal floats); the
    * oracle is the trivial planted-pair SELECT.
    */
  def kmeansPlanted(spark: SparkSession, dir: String, every: Int = 20,
                    idOffset: Long = 1000000L, iters: Int = 2): DataFrame = {
    val planted = Tables.embeddings(spark, dir)
      .select(explode(when(col("vec_id") % every === 0,
          array(col("vec_id"), col("vec_id") + idOffset))
        .otherwise(array(col("vec_id")))).as("vec_id"),
        col("label"), col("embedding"))
    val assign = kmeansAssignOn(spark, planted, iters)
      .select("vec_id", "cell")
    assign.filter(col("vec_id") % every === 0 && col("vec_id") < idOffset).as("a")
      .join(assign.filter(col("vec_id") >= idOffset).as("b"),
        col("b.vec_id") === col("a.vec_id") + idOffset)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (col("a.cell") === col("b.cell")).as("co_assigned"))
      .orderBy("vec_a")
  }

  /** Coarse-group count for a given fine-cell count: 1 (flat — the
    * optimal plan while the whole centroid set comfortably broadcasts
    * and N·nLists compute is cheaper than an extra join stage) up to
    * 64 cells, else ⌈√nLists⌉ — the two-level sweet spot where
    * per-vector work N·(nCoarse + coarseProbe·nLists/nCoarse) is
    * minimized at nCoarse ≈ √nLists.
    */
  private[graft] def autoCoarse(nLists: Int): Int =
    if (nLists <= 64) 1 else math.ceil(math.sqrt(nLists.toDouble)).toInt

  /** Cell assignment of `vectors` (vec_id, embedding) against fine
    * centroids `cents` (c_cell, cvec) → nProbe (vec_id, cell, s) rows
    * per vector, ranked by 6dp-rounded cosine with a cell-id
    * tie-break (deterministic under any partitioning).
    *
    * nCoarse == 1 is the FLAT path: one crossJoin against the
    * broadcast centroid set — N·nLists cosines. Correct and optimal
    * for bounded nLists, but IVF sizing grows nLists with the corpus
    * (nLists ≈ N/targetCellSize), so flat assignment is O(N²) compute
    * and an O(N) broadcast at 100 TB.
    *
    * nCoarse > 1 is the TWO-LEVEL path (the IMI/hierarchical-IVF
    * shape): the fine centroids are themselves clustered into nCoarse
    * spatially-coherent groups (seeded by hash(cell) % nCoarse, then
    * `coarseIters` Lloyd rounds over the nLists centroid rows — a
    * trivially small job), and assignment becomes
    *   1. rank nCoarse coarse means per vector (broadcast — nCoarse ≈
    *      √nLists stays broadcastable even at 10⁷ fine cells),
    *   2. keep the top coarseProbe groups,
    *   3. EQUALITY-join those (vec_id, grp) rows to the fine
    *      centroids keyed by grp — the full fine set is never
    *      broadcast; Catalyst broadcasts it while small and shuffles
    *      on grp at scale —
    *   4. rank fine cells within the probed groups.
    * Per-vector cosines: nCoarse + coarseProbe·(nLists/nCoarse) ≈
    * (1+coarseProbe)·√nLists at the default nCoarse: N·√nLists growth
    * (measured in tools.AssignProbe).
    * Approximation: a vector whose true top cell hides in a
    * non-probed coarse group misses it — identical vectors still
    * co-assign ALWAYS (identical cosines ⇒ identical ranking), so
    * planted exact-dup recall stays 1 (spec-pinned).
    */
  /** Coarse structure over the FINE CENTROIDS (nLists rows): seed
    * groups by hash, tighten with Lloyd rounds so groups are
    * spatially coherent (hash-random groups would all average to the
    * global mean and coarse probing would carry no signal). ONE
    * definition shared by assignCells' two-level path and
    * streaming.PqStream's declarative gate — the ranking-parity
    * requirement: a gate probing with a DIFFERENT group structure
    * than the index assigned with loses the co-ranking guarantee
    * (an exact twin's cell could hide in a group the probe skips).
    * Deterministic in (cents, nCoarse, coarseIters), so a re-derive
    * at serve time equals the build-time structure.
    * Returns (gcents: (g_grp, gvec), fine: (grp, c_cell, cvec)).
    */
  private[graft] def coarseStructure(cents: DataFrame, nCoarse: Int,
                                     coarseIters: Int = 1): (DataFrame, DataFrame) = {
    var g = cents.select(col("c_cell"), col("cvec"),
      pmod(hash(col("c_cell")), lit(nCoarse)).as("grp"))
    for (_ <- 1 to coarseIters) {
      val gc = centroidsOf(g.select(col("grp").as("cell"), col("cvec").as("embedding")))
        .select(col("c_cell").as("g_grp"), col("cvec").as("gvec"))
      g = CellProbe.rank(g.select("c_cell", "cvec").crossJoin(broadcast(gc)), "c_cell", "g_grp",
          round(expr("cosine_sim(cvec, gvec)"), 6), 1)
        .select(col("c_cell"), col("cvec"), col("g_grp").as("grp"))
    }
    val gcents = centroidsOf(g.select(col("grp").as("cell"), col("cvec").as("embedding")))
      .select(col("c_cell").as("g_grp"), col("cvec").as("gvec"))
    (gcents, g.select(col("grp"), col("c_cell"), col("cvec")))
  }

  private[graft] def assignCells(vectors: DataFrame, cents: DataFrame, nProbe: Int,
                                 nCoarse: Int, coarseProbe: Int = 4,
                                 coarseIters: Int = 1): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    require(nCoarse >= 1, s"nCoarse must be >= 1: $nCoarse")
    if (nCoarse == 1) {
      CellProbe.rank(vectors.crossJoin(broadcast(cents)), "vec_id", "c_cell",
          round(expr("cosine_sim(embedding, cvec)"), 6), nProbe)
        .select(col("vec_id"), col("c_cell").as("cell"), col("csim").as("s"))
    } else {
      val (gcents, fine) = coarseStructure(cents, nCoarse, coarseIters)
      assignCellsStructured(vectors, gcents, fine, nProbe, coarseProbe)
    }
  }

  /** The two-level ranking AFTER the coarse structure exists —
    * shared by assignCells (which derives the structure) and probes
    * over a PERSISTED structure (q62b reads the mining index's stored
    * (gcents, fine) instead of re-deriving them per call, which also
    * guarantees build/probe group parity by construction).
    */
  private[graft] def assignCellsStructured(vectors: DataFrame,
                                           gcents: DataFrame, fine: DataFrame,
                                           nProbe: Int, coarseProbe: Int = 4): DataFrame = {
    // vectors → top-coarseProbe coarse groups (N·nCoarse cosines)
    val vg = CellProbe.rank(vectors.crossJoin(broadcast(gcents)), "vec_id", "g_grp",
        round(expr("cosine_sim(embedding, gvec)"), 6), coarseProbe)
      .select(col("vec_id"), col("embedding"), col("g_grp").as("grp"))
    // fine ranking within probed groups only — equality join on grp
    CellProbe.rank(vg.join(fine, Seq("grp")), "vec_id", "c_cell",
        round(expr("cosine_sim(embedding, cvec)"), 6), nProbe)
      .select(col("vec_id"), col("c_cell").as("cell"), col("csim").as("s"))
  }

  /** q42: embedding corpus statistics — per-label vector counts and
    * L2-norm summary (the store-health view a vector_store keeps;
    * vector_store.py's table stats surface). Norms accumulate in
    * index order as doubles (bit-exact across engines); the mean is
    * an exact DECIMAL(12,6) sum of the 6dp-rounded norms over the
    * count, so the aggregate is order-insensitive and hash-EXACT.
    */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame = {
    val sq = transform(col("embedding"), v => v.cast("double") * v.cast("double"))
    val norm = round(sqrt(aggregate(sq, lit(0.0), (acc, x) => acc + x)), 6)
    Tables.embeddings(spark, dir)
      .select(col("label"), norm.as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("norm").cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double")
          / count(lit(1))).as("avg_norm"),
        min("norm").as("min_norm"),
        max("norm").as("max_norm"))
      .orderBy("label")
  }

  /** q18b: context snippets — each top-k hit carries its ±window
    * neighboring messages (same source, doc_id order), the
    * reference's cluster-context preview
    * (vector_store.py:416-479 `_get_cluster_context_snippet`:
    * context_size rows around the hit, joined into one string).
    * The neighbor join is hit-bounded (k·(2w+1) rows), so the
    * expensive side stays a broadcast.
    */
  def contextSnippets(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
                      window: Int = 2): DataFrame = {
    val hits = vectorTopK(spark, dir, k, nQueries).select("query_id", "vec_id", "sim", "rk")
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val hitDocs = broadcast(hits).join(docs, col("vec_id") === col("doc_id"))
      .select("query_id", "vec_id", "sim", "rk", "source")
    val neighbors = Tables.documents(spark, dir)
      .select(col("source").as("n_source"), col("doc_id").as("n_doc_id"),
        substring(col("text"), 1, 30).as("n_preview"))
    hitDocs
      .join(neighbors, col("n_source") === col("source")
        && col("n_doc_id").between(col("vec_id") - window, col("vec_id") + window))
      .groupBy("query_id", "vec_id", "sim", "rk")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("n_doc_id"), col("n_preview")))),
          s => concat(s.getField("n_doc_id"), lit(": "), s.getField("n_preview"))),
        " | ").as("context"))
      .orderBy("query_id", "rk")
  }

  /** q13: semantic segmentation — sliding cosine distance to the
    * previous message, break when distance > threshold, segment id =
    * running count of breaks ([[graft.plans.Runs.number]];
    * calculate_segments with window_size=1, as used by the reference
    * pipeline at TextPreprocessor.py:489).
    */
  def semanticSegments(spark: SparkSession, dir: String, threshold: Double = 1.0): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "n_chars")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    val withDist = docs.join(e, col("doc_id") === col("vec_id"))
      .withColumn("prev_emb", lag("embedding", 1).over(w))
      .withColumn("dist",
        when(col("prev_emb").isNull, 0.0)
          .otherwise(round(lit(1.0) - round(expr("cosine_sim(embedding, prev_emb)"), 6), 6)))
    Runs.number(withDist, w, "segment_id", col("dist") > threshold)
      .select("doc_id", "source", "dist", "segment_id")
      .orderBy("source", "doc_id")
  }

  /** Generalized sliding-window mean distance — the full
    * `calculate_sliding_distances` contract (TextPreprocessor.py:
    * 248-302, default window_size=5; q13 covers only the lag-1 case
    * the reference pipeline uses at :489): for row i, dist =
    * 1 − mean(cos_sim(emb_i, emb_j)) over j ∈ [i−window_size, i].
    * The window INCLUDES self (sim=1), so the lag-1 distance is
    * (1−sim)/2 — half of q13's 1−sim — and reference thresholds
    * carry over unchanged. The first row of a partition is 0.
    *
    * Plan shape: ONE (source)-partitioned window evaluates all
    * `windowSize` lag columns in a single pass; the mean is a
    * fixed-order double sum (left-assoc, mirrored exactly in the
    * oracle SQL) so the result is bit-exact cross-engine.
    */
  def slidingDistances(spark: SparkSession, dir: String, windowSize: Int = 5): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1: $windowSize")
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    var df = docs.join(e, col("doc_id") === col("vec_id"))
    for (j <- 1 to windowSize)
      df = df.withColumn(s"lag_$j", lag("embedding", j).over(w))
    // self-inclusive mean: sim(self,self) = 1 always participates
    val total = (1 to windowSize)
      .map(j => coalesce(expr(s"cosine_sim(embedding, lag_$j)"), lit(0.0)))
      .foldLeft(lit(1.0))((acc, s) => acc + s)
    val nWin = (1 to windowSize)
      .map(j => when(col(s"lag_$j").isNotNull, 1).otherwise(0))
      .foldLeft(lit(1))((acc, c) => acc + c)
    df.withColumn("n_win", nWin)
      .withColumn("dist", round(lit(1.0) - total / col("n_win").cast("double"), 6))
      .select("doc_id", "source", "n_win", "dist")
  }

  /** q47: sliding-window segmentation with the threshold=None ⇒ MEAN
    * fallback — `calculate_segments(df, semantic_threshold=None)`
    * (TextPreprocessor.py:461-499) is documented to use the mean
    * distance when no threshold is given (the shipped code pins 0.7
    * with the mean in a comment; this implements the documented
    * semantics). The mean is a global two-pass stat: an exact
    * DECIMAL(18,6) sum of the 6dp-rounded distances over the count —
    * order-insensitive, so deterministic under any partitioning —
    * broadcast back as a 1-row literal join. A distance above the mean
    * breaks the segment ([[graft.plans.Runs.number]]).
    */
  def slidingSegments(spark: SparkSession, dir: String, windowSize: Int = 5,
                      threshold: Option[Double] = None): DataFrame = {
    val d = slidingDistances(spark, dir, windowSize)
    val withThr = threshold match {
      case Some(t) => d.withColumn("mean_dist", lit(t))
      case None =>
        // the mean aggregate and the segment pass both consume the
        // distance lineage; uncached, the dominant multi-lag window
        // pass would run TWICE (once per consumer). persist, not
        // localCheckpoint: MEMORY_AND_DISK keeps the lineage, so an
        // executor loss (or dynamic-allocation reclaim) on a real
        // cluster RECOMPUTES the lost blocks instead of failing the
        // job the way checkpoint's truncated lineage does — and it's
        // lazy, so construction stays action-free. Registry-managed:
        // one live copy, reused by every call with the same plan.
        val dc = graft.Shared.persist(spark,
          "vectors.slidingDistances", d)
        val m = dc.agg((sum(col("dist").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1))).as("mean_dist"))
        dc.crossJoin(broadcast(m))
    }
    Runs.number(withThr, Window.partitionBy("source").orderBy("doc_id"), "segment_id",
        col("dist") > col("mean_dist"))
      .select("doc_id", "source", "n_win", "dist", "mean_dist", "segment_id")
      .orderBy("source", "doc_id")
  }

  /** q14: group merge — a new group starts when EITHER the semantic
    * segment breaks OR the coarse length-bucket changes
    * (calculate_groups' OR-of-boundaries at TextPreprocessor.py:452),
    * numbered by [[graft.plans.Runs.number]]. The bucket compare is
    * plain `=!=`: the bucket of a null `n_chars` breaks no group.
    *
    * This (source, group_id) pair is the MCP cluster key, read by
    * q14, q81c and every McpTools cluster/search call (some twice per
    * call), so it is served from ONE leaf-materialized copy per corpus
    * ([[graft.Shared.leafFrame]]) instead of re-running the join,
    * two window passes and the sort on every call. The registry key
    * is the threshold plus the two projected source plans
    * (documents, embeddings); the token is both tables'
    * `Tables.sourceToken`, so files regenerated under the same path or
    * a `registerOverride` recompute and never serve stale groups.
    * Memory: O(documents) rows of 4 narrow columns, one copy per live
    * (corpus, threshold).
    */
  def semanticGroups(spark: SparkSession, dir: String, threshold: Double = 1.0): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "n_chars")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val token = Tables.sourceToken(spark, dir, "documents") + "\n" +
      Tables.sourceToken(spark, dir, "embeddings")
    graft.Shared.leafFrame(spark, s"semantic_groups:t=$threshold", Seq(docs, e), token) {
      val w = Window.partitionBy("source").orderBy("doc_id")
      val lagged = docs.join(e, col("doc_id") === col("vec_id"))
        .withColumn("bucket", expr("n_chars DIV 100"))
        .withColumn("prev_emb", lag("embedding", 1).over(w))
        .withColumn("prev_bucket", lag("bucket", 1).over(w))
        .withColumn("dist",
          when(col("prev_emb").isNull, 0.0)
            .otherwise(round(lit(1.0) - round(expr("cosine_sim(embedding, prev_emb)"), 6), 6)))
      // the first row breaks, so ids start at 0 with offset −1
      Runs.number(lagged, w, "group_id",
          col("prev_emb").isNull || col("dist") > threshold || col("bucket") =!= col("prev_bucket"),
          offset = -1L)
        .select("doc_id", "source", "bucket", "group_id")
        .orderBy("source", "doc_id")
    }
  }
}
