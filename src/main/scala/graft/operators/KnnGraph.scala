package graft.operators

import graft.{IndexStore, Tables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-NN GRAPH construction + graph-based semantic clustering — the
  * GRAPH side of the reference's vector search surface
  * (terrorblade/data/database/vector_store.py:105-168 builds an HNSW
  * graph index; analyze_dialogues.py's cluster analysis consumes
  * nearest-neighbor structure). HNSW itself is a navigable-small-world
  * SEARCH structure whose build is inherently sequential
  * (insert-then-search); the distributed-native equivalent of "build
  * the neighborhood graph" is NN-DESCENT (Dong, Moses, Li — "Efficient
  * k-nearest neighbor graph construction for generic similarity
  * measures", WWW'11): start from a cheap approximate neighbor list,
  * then repeatedly evaluate neighbors-of-neighbors, keeping the best k
  * per node. Every step is a bounded self-join — exactly the shape
  * Spark distributes well — and the k-NN graph it produces is the
  * standard LLM-pipeline primitive for semantic clustering and
  * near-dup mining over embeddings.
  *
  * Three certified surfaces:
  *   - q92  `knnGraphExact`: the EXACT graph (brute-force all-pairs +
  *     per-node top-k). The correctness twin — its all-pairs shape is
  *     the oracle; at 100 TB you never materialize it (that is
  *     nnDescent's job), exactly like dedupAllPairs vs dedupMinHash.
  *   - q92b `nnDescentGate`: NN-descent under a PLANTED gate (q91 /
  *     q67g's argument, graph form): the corpus is embeddings plus a
  *     verbatim copy of every vec_id < nPlanted at +idOffset. Init
  *     includes each node's IVF-cell co-members, and cell assignment
  *     is a pure function of the vector (fixed seed centroids,
  *     6dp-rounded cosine ranking with cell tie-break) — so a copy and
  *     its original share a cell, are scored against each other at
  *     init, meet at sim = 1.0 (the maximum), and survive every
  *     (sim DESC, dst ASC) top-k prune: k ≥ 1 keeps them adjacent
  *     forever. The copy's rank-1 edge is therefore its original BY
  *     CONSTRUCTION — provided 1.0 is unique per node, i.e. the base
  *     corpus holds no duplicate vectors, which GateInvariants
  *     verifies per corpus (the `vector` check) rather than assumes.
  *     Only the argmin PAIR reaches the compared surface, so the
  *     oracle is the trivial planted SELECT. Descent quality on the
  *     REAL corpus is spec-pinned (KnnGraphSpec: recall floor vs the
  *     exact graph + per-node monotone improvement), not oracled —
  *     on near-random embeddings NN-descent converges to a local
  *     optimum (measured recall@1 0.68-0.89 here), so an unconditional
  *     recall oracle would gate on datagen luck, not on the operator.
  *   - q92c `semanticClusters`: mutual-kNN edges (a in top-k of b AND
  *     b in top-k of a, sim ≥ minSim) → connected components →
  *     cluster assignment. Mutual-kNN + CC is the classic
  *     density-robust clustering over a neighbor graph (hubs fail the
  *     mutuality test, so chains through hub nodes don't percolate).
  *     Certified over the exact graph (SQL-replayable end to end,
  *     q53's recursive-CTE oracle pattern); the scale composition —
  *     the SAME clustering consuming nnDescent's graph — is its own
  *     certified entry since r19 (q92e `semanticClustersDescentGate`,
  *     planted-copy oracle), so neither leg is vouched for by the
  *     other.
  *
  * Scale design (100 TB): NN-descent never forms an all-pairs shape.
  * Per node, candidates are bounded by construction — |B(v)| ≤ k +
  * sampleR (forward list + hash-sampled reverse list, the paper's ρ
  * sampling) — and since r19 the scoring is IN-GROUP (the q29b
  * pairsFromCells discipline): one iteration shuffles O(N·(k+sampleR))
  * membership rows, each carrying its embedding ONCE, and the
  * O((k+sampleR)²) pair loop runs inside the group on a JVM cosine
  * kernel that replays the CosineSimilarity expression bit-for-bit
  * (the join-spelling twin is retained for the spec's identity pin —
  * it moved the array once per candidate PAIR, the exact shuffle-
  * amplification shape the r18 100× probe measured at 352s on q29b).
  * Iteration state is the slim (src, dst, sim) edge frame — k rows
  * per node — re-persisted per round with the plan cut to an RDD leaf
  * (DupGraph's lineage-flattening discipline; recompute-on-loss stays
  * intact).
  * Init cell sizes follow from `lists` (≈ N / lists per cell): size
  * `lists` to the corpus (N / targetCell) the way the IVF family
  * does; a skewed cell only inflates init candidate counts, never
  * correctness, and the descent rounds that follow are
  * per-node-bounded regardless.
  */
object KnnGraph {

  /** Hand-off families in [[graft.Shared]], one value per session:
    * the last descent's converged edge RDD (`knn.edges`) or leaf-round
    * scratch root (`knn.scratch`), and the last walk's hop caches
    * (`knn.walk`). The next call on the session releases them.
    */
  private val EdgesFamily = "knn.edges"
  private val ScratchFamily = "knn.scratch"
  private val WalkFamily = "knn.walk"

  /** Exact per-node top-k over an (vec_id, embedding) frame:
    * (vec_id, nb_id, sim, rk), rank by (6dp cosine DESC, nb_id ASC) —
    * deterministic under any partitioning, q16's ranking rule.
    */
  private[graft] def knnOn(e: DataFrame, k: Int): DataFrame = {
    val right = e.select(col("vec_id").as("nb_id"), col("embedding").as("nvec"))
    CellProbe.topK(e.join(broadcast(right), col("vec_id") =!= col("nb_id"))
        .withColumn("sim", round(expr("cosine_sim(embedding, nvec)"), 6)),
        "vec_id", "sim", "nb_id", k)
      .select(col("vec_id"), col("nb_id"), col("sim"), col("rk"))
  }

  /** q92: the exact k-NN graph (vec_id, nb_id, sim, rk). Brute-force
    * all-pairs — the correctness twin and the oracle's shape; the
    * scale path is [[nnDescent]].
    */
  def knnGraphExact(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    knnOn(Tables.embeddings(spark, dir).select("vec_id", "embedding"), k)
      .orderBy("vec_id", "rk")
  }

  /** q92d: SEMANTIC TWIN DETECTION end-to-end over RAW TEXT — the
    * composition a pipeline actually runs: documents → q49b's
    * content-dependent hash encoder → rank-1 nearest neighbor. The
    * gate plants a verbatim copy of every `every`-th document (the
    * q27b derivation); identical text ⇒ identical token multiset ⇒
    * identical hashed vector ⇒ the copy meets its source at 6dp
    * cosine 1.0, the unique maximum, so its rank-1 neighbor is its
    * source's md5-GROUP MINIMUM (ties at sim 1.0 break by id; text
    * twins of the source, if any, carry the same vector). The oracle
    * is therefore the trivial planted SELECT over md5 groups — no
    * float replay needed. Uniqueness of the 1.0 maximum (no
    * permuted-token or near-tie impostor below the group minimum) is
    * the GateInvariants `hashed` check, verified per corpus like
    * q92b's vector check, not assumed.
    *
    * Scale shape: the query side is the PLANTED set (bounded by
    * construction — in production, the day's new arrivals); it
    * broadcasts, the corpus scans ONCE partition-parallel, and the
    * per-query argmax is one windowless groupBy max over a
    * lexicographic (sim, −id) struct. At 100 TB the same probe runs
    * against the persisted IVF/IVF-PQ index (q48/q67d) — this entry
    * certifies the encode→rank composition exactly; q91 certifies
    * the indexed-probe leg.
    */
  def knnTextTwins(spark: SparkSession, dir: String, every: Int = 20,
                   idOffset: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val planted = Tables.documents(spark, dir)
      .select(explode(when(col("doc_id") % every === 0,
          array(col("doc_id"), col("doc_id") + idOffset))
        .otherwise(array(col("doc_id")))).as("doc_id"),
        col("text"))
    // the hash-encode of the planted corpus is a pure function of
    // (documents, every, idOffset) and was re-run per invocation
    // (~1.3s at sf0.1, r21's candidate 3) — one live leaf copy per
    // corpus under the q92b/q67 sharing discipline (VERDICT r21
    // item 6); a different dir / source swap / params recomputes
    val enc = graft.Shared.leafFrame(spark,
        s"q92d_enc:every=$every,off=$idOffset", Seq(planted))(
      TextEncoder.encodeHashed(spark,
          planted.select("doc_id", "text").as[TextEncoder.TextRow])
        .toDF("doc_id", "embedding"))
    val queries = enc.filter(col("doc_id") >= idOffset)
      .select(col("doc_id").as("q_id"), col("embedding").as("q_emb"))
    enc.join(broadcast(queries), col("doc_id") =!= col("q_id"))
      .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6))
      .groupBy("q_id")
      .agg(max(struct(col("sim"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("q_id"), (-col("b.nid")).as("nb_id"), col("b.sim").as("sim"))
      .orderBy("q_id")
  }

  /** Score candidate (src, dst) pairs and keep top-k per src — the
    * JOIN-spelling correctness twin of the in-group scorer below,
    * retained ONLY for KnnGraphSpec's bit-identity pin (and the
    * one-cell ≡ brute-force law). It re-joins the embedding array
    * onto BOTH sides of every candidate pair, so every pair row
    * carries a 64-float array through the second join's exchange —
    * the shuffle-amplification shape the r18 q29b fix priced at
    * ~25 GB / 352s at 100× (Dedup.pairsFromCells' scaladoc); never
    * on the production path.
    */
  private[graft] def scorePruneJoin(e: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    CellProbe.topK(cand
        .join(e.select(col("vec_id").as("src"), col("embedding").as("va")), "src")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("vb")), "dst")
        .withColumn("sim", round(expr("cosine_sim(va, vb)"), 6)),
        "src", "sim", "dst", k)
      .select("src", "dst", "sim")
  }

  /** Score every unordered pair WITHIN each membership group in-group
    * (r19 — the q29b pairsFromCells discipline applied to descent):
    * each member's embedding shuffles once per MEMBERSHIP row
    * (O(N·(k+sampleR)) arrays per round), candidate pairs never
    * materialize as an array-carrying row set, and the JVM kernel
    * replays CosineSimilarity's fold order + HALF_UP 6dp rounding
    * exactly, so the edge frame is bit-identical to the join spelling
    * (KnnGraphSpec's twin test). A pair sharing several groups scores
    * to the same row in each — sim is a pure function of the pair —
    * so the slim dropDuplicates is deterministic. Output: unique
    * (a, b, sim) with a < b.
    */
  private def scoreWithinGroups(spark: SparkSession, memb: DataFrame): DataFrame = {
    import spark.implicits._
    memb.as[GroupVec].groupByKey(_.g).flatMapGroups { (_, it) =>
      val vs = it.toArray.sortBy(_.u)
      for {
        i <- vs.indices.iterator
        j <- (i + 1 until vs.length).iterator
        if vs(i).u != vs(j).u
      } yield (vs(i).u, vs(j).u,
        Dedup.roundHalfUp6(Dedup.cosineSimJvm(vs(i).emb, vs(j).emb)))
    }.toDF("a", "b", "sim").dropDuplicates("a", "b")
  }

  /** The flagged in-group scorer (r20 — the WWW'11 paper's new-flag
    * incremental step): membership rows carry whether the edge that
    * put them in B(v) is NEW (entered the lists in the latest prune),
    * and only pairs with ≥ 1 new endpoint are scored. Old×old pairs
    * are skipped: both entries co-existed in this same list when the
    * later one was new, so the pair was generated then (or lost to
    * a reverse-sample draw — the paper's accepted approximation).
    * Same JVM kernel, same bit-for-bit CosineSimilarity replay.
    */
  private def scoreWithinGroupsFlagged(spark: SparkSession, memb: DataFrame): DataFrame = {
    import spark.implicits._
    memb.as[GroupVecN].groupByKey(_.g).flatMapGroups { (_, it) =>
      val vs = it.toArray.sortBy(_.u)
      for {
        i <- vs.indices.iterator
        j <- (i + 1 until vs.length).iterator
        if vs(i).u != vs(j).u && (vs(i).nw || vs(j).nw)
      } yield (vs(i).u, vs(j).u,
        Dedup.roundHalfUp6(Dedup.cosineSimJvm(vs(i).emb, vs(j).emb)))
    }.toDF("a", "b", "sim").dropDuplicates("a", "b")
  }

  /** Score DIRECTED (src, dst) candidates in-group: the dst embedding
    * rides its candidate row (one array per pair), the src embedding
    * rides ONE self row per distinct src, and the cosine happens
    * inside the src group — no second array-carrying join. Used for
    * the init ring candidates, whose dsts are hash-derived pairs
    * rather than co-members of any natural group.
    */
  private def scoreDirected(spark: SparkSession, e: DataFrame, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val emb = e.select(col("vec_id"), col("embedding"))
    val withE = pairs
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("emb")), "dst")
      .select(col("src"), col("dst"), col("emb"))
      .union(pairs.select("src").distinct()
        .join(emb.select(col("vec_id").as("src"), col("embedding").as("emb")), "src")
        .select(col("src"), col("src").as("dst"), col("emb")))
    withE.as[SrcVec].groupByKey(_.src).flatMapGroups { (s, it) =>
      val rows = it.toArray
      val self = rows.find(_.dst == s).get.emb
      rows.iterator.filter(_.dst != s).map(r =>
        (s, r.dst, Dedup.roundHalfUp6(Dedup.cosineSimJvm(self, r.emb))))
    }.toDF("src", "dst", "sim").dropDuplicates("src", "dst")
  }

  /** Top-k prune of an ALREADY-SCORED edge frame — ONE exchange
    * (r19): group by src and keep the k best (sim DESC, dst ASC)
    * inside the group with a bounded TreeSet, instead of the
    * dropDuplicates + window spelling (TWO full exchanges of the
    * pair frame per descent round — the r19 100× probe filled the
    * probe host's disk on exactly that retention). Within one build,
    * duplicate (src, dst) rows carry identical sims (sim is a pure
    * function of the pair) and collapse as identical TreeSet keys;
    * the per-dst best map (r20, ADVICE r19) additionally dedupes
    * rows whose sims DISAGREE — e.g. a persisted edge scored by an
    * older kernel meeting its freshly-scored twin in an increment —
    * keeping the better sim, so no dst can occupy two slots. Still
    * deterministic and O(k) memory per group (the map only ever
    * holds the ≤ k+1 current members), skew-proof where a window
    * sort of a hub node's partition would spill.
    */
  private[graft] def prune(edges: DataFrame, k: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src"), col("dst"), col("sim")).as[PruneEdge]
      .groupByKey(_.src)
      .flatMapGroups { (s, it) =>
        val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)
        val ts = scala.collection.mutable.TreeSet.empty[(Double, Long)](ord)
        val best = scala.collection.mutable.HashMap.empty[Long, Double]
        it.foreach { e =>
          best.get(e.dst) match {
            case Some(b) if ord.compare((b, e.dst), (e.sim, e.dst)) <= 0 => // kept entry wins
            case prev =>
              prev.foreach(b => ts -= ((b, e.dst)))
              ts += ((e.sim, e.dst))
              best(e.dst) = e.sim
              if (ts.size > k) {
                val worst = ts.last
                ts -= worst
                best -= worst._2
              }
          }
          ()
        }
        ts.iterator.map { case (sim, dst) => (s, dst, sim) }
      }
      .toDF("src", "dst", "sim")
  }

  private[operators] case class PruneEdge(src: Long, dst: Long, sim: Double)

  /** NN-descent over an arbitrary (vec_id, embedding) frame → the
    * directed approximate k-NN edge frame (src, dst, sim).
    *
    * Init: each node's IVF-cell co-members (seed centroids = min
    * vec_id per residue class — the q19b/q62b rule; assignment is a
    * pure function of the vector, which the q92b gate stands on) plus
    * `ringJ` hash-derived pseudo-random neighbors (xxhash64 index
    * arithmetic over the id-sorted order — the deterministic stand-in
    * for the paper's random init, and the escape hatch from
    * cell-local optima).
    *
    * Iteration: B(v) = forward list ∪ reverse list hash-sampled to
    * `sampleR` (the paper's ρ-sampling, made deterministic by ranking
    * on xxhash64(u, iter)); a pair within B(v) is a candidate iff at
    * least one endpoint's edge is NEW — entered the lists in the
    * latest prune (r20: the paper's own new-flag incremental step;
    * old×old pairs were generated when the later entry was new, so
    * re-scoring them re-offers candidates the monotone top-k prune
    * already rejected — after round 1 this drops most of the pair
    * volume AND skips whole groups with no new member, which is what
    * shrinks the array-carrying exchange). New scores merge into the
    * lists via (sim DESC, dst ASC) top-k. Lists only improve:
    * merge-then-prune means a node's kept neighbor is displaced only
    * by a strictly better one (the monotonicity KnnGraphSpec pins).
    *
    * LIFECYCLE (ADVICE r20): the returned frame is backed by the
    * `knn.edges`/`knn.scratch` hand-offs, which the NEXT descent
    * on the same session invalidates — in leaf mode by DELETING the
    * backing parquet (a later read then fails, it does not recompute
    * like the RDD path). Callers that hold the result across a
    * subsequent descent must materialize it first (persist + count, or
    * write it out) — the gate entries do exactly that through
    * Shared.leafFrame.
    * Convergence = an empty new-edge set after the prune — with
    * merged ⊇ edges, a list can only change by admitting a new edge,
    * so zero new edges ⇔ the (src, dst) set (and, sim being a pure
    * function of the pair, the frame) is the fixpoint. Deterministic,
    * so runs are replayable even when they stop at maxIters first.
    */
  private[graft] def nnDescent(spark: SparkSession, emb: DataFrame, k: Int = 10,
                               lists: Int = 0, maxIters: Int = 8,
                               sampleR: Int = 0, ringJ: Int = 10,
                               joinScoring: Boolean = false,
                               modularRing: Boolean = false,
                               slices: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxIters >= 0, s"maxIters must be >= 0: $maxIters")
    // reverse ρ-sample defaults to 2k: the binding recall lever on
    // the near-random gate corpus (tools/RecallProbe: 0.81 → 0.84 at
    // sf0.001) for a ~2× per-iteration candidate budget
    val sr = if (sampleR > 0) sampleR else 2 * k
    val lvl = StorageLevel.MEMORY_AND_DISK
    val e = emb.select(col("vec_id"), col("embedding")).persist(lvl)
    val n = e.count()
    // lists defaults ADAPTIVE (r19): the q29b/dedup-index sizing law,
    // nLists ≈ N/125, so init cells — and the in-cell pair loop —
    // stay ~125 vectors no matter how the corpus grows (a fixed 16
    // would make init pairing quadratic at 100×). Identical to the
    // old fixed 16 at every certified SF (N ≤ 2000 there).
    val nl = if (lists > 0) lists else math.max(16, (n / 125L).toInt)
    // ROUND SLICING (r20): one descent round's membership + pair
    // exchanges at 2M nodes are ~100 GB of concurrent shuffle files —
    // more scratch than one host owns (the r19/r20 100× probe kills),
    // and even on a cluster an unbounded single-job footprint is the
    // wrong shape. prune is ASSOCIATIVE (top-k-per-src of a union =
    // top-k of the parts' top-ks: a row beaten by k distinct-dst
    // better rows within its part is beaten in the union too, and the
    // per-dst dedupe keeps cross-slice duplicates collapsing), so the
    // round processes B(v) groups in `slices` hash-slices of v, each
    // scored and pruned to ≤ k rows/node then MATERIALIZED — one
    // slice's shuffle files retire before the next slice runs, so
    // per-round scratch is bounded by ~1/slices of the pair volume.
    // Value-identical at any slice count (KnnGraphSpec pins sliced ≡
    // unsliced); auto-sizing keeps every certified SF at 1 slice
    // (identical plan) and engages only on 100×-scale corpora.
    val ns = if (slices > 0) slices else math.max(1, (n / 600000L).toInt)
    // LEAF-MATERIALIZED rounds (r20, coupled to slicing): Shared.leaf
    // keeps the RDD lineage intact BY DESIGN (recompute-on-loss), but
    // intact lineage also keeps every prior round's ShuffleDependency
    // reachable — their shuffle files can never be GC'd, so a multi-
    // round build's scratch footprint is the SUM of all rounds'
    // exchanges (~100 GB at 2M nodes; both r20 100× probe attempts
    // filled the host's disk exactly this way, and on a cluster the
    // same unbounded retention lands on the shuffle service). Above
    // the slicing threshold each round's slim state (edges, new-edge
    // set, slice partials) is therefore written to scratch parquet
    // and read back — a TRUE leaf: recomputable from storage, and the
    // upstream exchanges become unreachable the moment the write
    // lands, so the cleaner retires them within its period. Scratch
    // lives under the warehouse; a round's files are deleted as soon
    // as the next round's state is on disk, and the final round's
    // (the returned frame's backing) hands off through the same
    // registry the in-memory path uses.
    val leafRounds = ns > 1
    val scratchRoot =
      if (!leafRounds) null
      else spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/knn_scratch/" + java.util.UUID.randomUUID().toString
    var leafSeq = 0
    def leaf(df: DataFrame): DataFrame = {
      leafSeq += 1
      val p = s"$scratchRoot/$leafSeq"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def dropLeaf(i: Int): Unit =
      if (leafRounds) {
        val p = new org.apache.hadoop.fs.Path(s"$scratchRoot/$i")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) { fs.delete(p, true); () }
      }
    try {
      // ---- init candidates: cell co-members ∪ hashed ring
      val cents = Vectors.refinedCentroids(e, nl, iters = 0)
      val cells = Vectors.assignCells(e, cents, nProbe = 1,
          nCoarse = Vectors.autoCoarse(nl))
        .select("vec_id", "cell")
      def cellCandJoin = cells.as("ca").join(cells.as("cb"), "cell")
        .where(col("ca.vec_id") =!= col("cb.vec_id"))
        .select(col("ca.vec_id").as("src"), col("cb.vec_id").as("dst"))
      // deterministic global index by id order (vec_id is unique)
      val idx = graft.plans.Ordinals.withOrdinal(e.select("vec_id"), Seq(col("vec_id")), "idx")
      // sliced init re-reads the ring per slice — keep the global index
      // (slim: two longs per node) cached instead of re-sorting per slice
      if (ns > 1) { idx.persist(lvl); () }
      // modularRing (r20, q93b's build): neighbor index = (idx + j) mod n
      // — an ORACLE-REPLAYABLE stand-in for the hashed pseudo-random
      // ring (DuckDB has no xxhash64), used by the walk-recall entry's
      // zero-iteration graph so the whole build replays in SQL. Same
      // inter-cell connectivity role; never the descent default.
      val ringCand =
        if (ringJ <= 0 || n < 2) spark.emptyDataFrame
          .select(lit(0L).as("src"), lit(0L).as("dst")).limit(0)
        else idx
          .withColumn("j", explode(array((1 to ringJ).map(lit(_)): _*)))
          .withColumn("nb_idx",
            if (modularRing) pmod(col("idx") + col("j"), lit(n))
            else pmod(col("idx") + 1 + pmod(xxhash64(col("vec_id"), col("j")), lit(n - 1)), lit(n)))
          .where(col("nb_idx") =!= col("idx"))
          .join(idx.select(col("idx").as("nb_idx"), col("vec_id").as("dst")), "nb_idx")
          .select(col("vec_id").as("src"), col("dst"))
      val initEdges =
        if (joinScoring) scorePruneJoin(e, cellCandJoin.union(ringCand).distinct(), k)
        else if (ns == 1) {
          // in-cell pairs score in-group (arrays move once per (vec_id,
          // cell) membership, never per pair); hash-ring pairs are
          // genuinely directed so they take the one-array-per-pair
          // directed scorer. Both directions of a cell pair reach the
          // prune, matching the join twin's candidate set exactly.
          val cellMemb = cells.join(e, "vec_id")
            .select(col("cell").cast("long").as("g"), col("vec_id").as("u"),
              col("embedding").as("emb"))
          val cellScored = scoreWithinGroups(spark, cellMemb)
          val cellBoth = cellScored
            .select(col("a").as("src"), col("b").as("dst"), col("sim"))
            .union(cellScored.select(col("b").as("src"), col("a").as("dst"), col("sim")))
          prune(cellBoth.union(scoreDirected(spark, e, ringCand)), k)
        } else {
          // INIT is sliced + leafed too (r20): its one prune's input is
          // ~N·cellSize pair rows — the same unbounded-footprint shape
          // as a descent round (the third 100× attempt died HERE, with
          // the rounds already bounded). Cells slice by pmod(cell, ns),
          // ring pairs by pmod(src, ns); prune's associativity makes
          // the partial-then-final composition value-identical (the
          // slices=3 spec pin covers init through the same law).
          val parts = (0 until ns).map { s =>
            val cellMembS = cells.filter(pmod(col("cell"), lit(ns)) === s)
              .join(e, "vec_id")
              .select(col("cell").cast("long").as("g"), col("vec_id").as("u"),
                col("embedding").as("emb"))
            val cs = scoreWithinGroups(spark, cellMembS)
            val both = cs.select(col("a").as("src"), col("b").as("dst"), col("sim"))
              .union(cs.select(col("b").as("src"), col("a").as("dst"), col("sim")))
            val ringS = ringCand.filter(pmod(col("src"), lit(ns)) === s)
            leaf(prune(both.union(scoreDirected(spark, e, ringS)), k))
          }
          prune(parts.reduce(_ union _), k)
        }
      // iteration state: edges + the new-edge set (r20 — every init
      // edge is new; after each prune, new = (src, dst) pairs absent
      // from the previous round's lists)
      var edges: DataFrame = null
      var edgesRdd: RDD[InternalRow] = null
      var freshF: DataFrame = null
      var freshRdd: RDD[InternalRow] = null
      var edgesLeafId = 0
      var freshLeafId = 0
      if (leafRounds) {
        edges = leaf(initEdges); edgesLeafId = leafSeq
        (1 until edgesLeafId).foreach(dropLeaf) // init's slice partials are dead
        idx.unpersist(false)
        // ADVICE r20: with edgesRdd null the end-of-loop hand-off skips
        // the edges family — a previous NON-leaf descent's cached RDD
        // would otherwise stay persisted across this (large) leaf-mode build
        graft.Shared.drop(spark, EdgesFamily, spark)
        freshF = edges.select("src", "dst") // init: a projection of the same leaf
      } else {
        val (e0, er0) = graft.Shared.leaf(initEdges)
        edges = e0; edgesRdd = er0
        val (f0, fr0) = graft.Shared.leaf(edges.select("src", "dst"))
        freshF = f0; freshRdd = fr0
      }
      var iter = 0
      var converged = false
      while (iter < maxIters && !converged) {
        val flagged = edges
          .join(freshF.withColumn("nwm", lit(true)), Seq("src", "dst"), "left")
          .select(col("src"), col("dst"), coalesce(col("nwm"), lit(false)).as("nw"))
        val fwd = flagged.select(col("src").as("v"), col("dst").as("u"), col("nw"))
        val rev = flagged.select(col("dst").as("v"), col("src").as("u"), col("nw"))
        val wr = Window.partitionBy("v").orderBy(col("h"), col("u"))
        val revS = rev.withColumn("h", xxhash64(col("u"), lit(iter)))
          .withColumn("r", row_number().over(wr))
          .filter(col("r") <= sr)
          .select("v", "u", "nw")
        // same (v, u) set as the unflagged union+distinct; a member
        // reached both ways (forward AND sampled reverse) is new if
        // EITHER edge is — the safe over-approximation
        val b = fwd.union(revS).groupBy("v", "u").agg(max("nw").as("nw"))
        // groups with no new member generate no pairs — drop them BEFORE
        // the array join, so dead groups never ship embeddings at all
        val liveV = b.filter(col("nw")).select("v").distinct()
        val bLive = b.join(liveV, "v")
        def scoreSlice(bS: DataFrame): DataFrame =
          if (joinScoring) {
            val cand = bS.as("x").join(bS.as("y"), "v")
              .where(col("x.u") < col("y.u") && (col("x.nw") || col("y.nw")))
              .select(col("x.u").as("a"), col("y.u").as("b"))
              .distinct()
            cand
              .join(e.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
              .join(e.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
              .withColumn("sim", round(expr("cosine_sim(va, vb)"), 6))
              .select("a", "b", "sim")
          } else
            // B(v) is bounded at k+sampleR members by construction, so
            // the group pair loop is O((k+sampleR)²) per node while the
            // SHUFFLE is O(N·(k+sampleR)) membership rows — the array
            // moves once per membership, not once per candidate pair
            scoreWithinGroupsFlagged(spark,
              bS.join(e.select(col("vec_id").as("u"), col("embedding").as("emb")), "u")
                .select(col("v").as("g"), col("u"), col("emb"), col("nw")))
        def directed(scored: DataFrame): DataFrame =
          scored.select(col("a").as("src"), col("b").as("dst"), col("sim"))
            .union(scored.select(col("b").as("src"), col("a").as("dst"), col("sim")))
        val partialIds = scala.collection.mutable.ArrayBuffer[Int]()
        val newScores =
          if (ns == 1) directed(scoreSlice(bLive))
          else (0 until ns).map { s =>
            // each slice prunes to ≤ k rows/node and lands as a LEAF,
            // so its exchanges' shuffle files retire before the next
            // slice runs (the per-round scratch bound; `ns` above)
            val p = leaf(prune(directed(scoreSlice(
              bLive.filter(pmod(col("v"), lit(ns)) === s))), k))
            partialIds += leafSeq
            p
          }.reduce(_ union _)
        val merged = newScores
          .union(edges)
          // reverse edges are FREE candidates (sim already computed);
          // without them a node never learns it is someone's neighbor —
          // the paper's both-sides update (measured +0.09 recall@10 here)
          .union(edges.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
        if (leafRounds) {
          val next = leaf(prune(merged, k))
          val nextId = leafSeq
          val nf = leaf(next.select("src", "dst")
            .join(edges.select("src", "dst"), Seq("src", "dst"), "left_anti"))
          val nfId = leafSeq
          val freshCnt = nf.count()
          // the previous round's files are dead the moment this round's
          // state is on disk
          partialIds.foreach(dropLeaf)
          dropLeaf(edgesLeafId)
          if (freshLeafId != 0) dropLeaf(freshLeafId)
          edges = next; edgesLeafId = nextId
          freshF = nf; freshLeafId = nfId
          converged = freshCnt == 0
        } else {
          val (next, nextRdd) = graft.Shared.leaf(prune(merged, k))
          val (nf, nfRdd) = graft.Shared.leaf(
            next.select("src", "dst")
              .join(edges.select("src", "dst"), Seq("src", "dst"), "left_anti"))
          val freshCnt = nf.count()
          edgesRdd.unpersist(false)
          freshRdd.unpersist(false)
          edges = next; edgesRdd = nextRdd
          freshF = nf; freshRdd = nfRdd
          converged = freshCnt == 0
        }
        iter += 1
      }
      if (freshRdd != null) freshRdd.unpersist(false)
      if (freshLeafId != 0) dropLeaf(freshLeafId) // the edges leaf alone backs the result
      e.unpersist(false)
      if (edgesRdd != null)
        graft.Shared.put(spark, EdgesFamily, spark, edgesRdd, release = graft.Shared.unpersistRdd)
      // leaf-round scratch hands off like the edge RDD: the NEXT
      // descent on this session deletes the previous call's root (which
      // by now holds only the final edges leaf the returned frame reads)
      if (scratchRoot != null)
        graft.Shared.put(spark, ScratchFamily, spark, scratchRoot,
          release = (root: String) => deleteRootQuietly(spark, root))
      else graft.Shared.drop(spark, ScratchFamily, spark)
      edges
    } catch {
      case t: Throwable =>
        // ADVICE r20: a failure mid-build must not leak the scratch
        // root — leaf rounds exist to BOUND disk, and an abandoned
        // root compounds pressure at exactly the scale they engage.
        // (The success path hands the root off instead.)
        if (scratchRoot != null) deleteRootQuietly(spark, scratchRoot)
        throw t
    }
  }

  /** Best-effort recursive delete of a scratch root (failure cleanup +
    * hand-off release — never fatal to the caller).
    */
  private def deleteRootQuietly(spark: SparkSession, root: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    } catch { case _: Throwable => () }

  private[operators] case class GroupVec(g: Long, u: Long, emb: Array[Float])
  private[operators] case class GroupVecN(g: Long, u: Long, emb: Array[Float], nw: Boolean)
  private[operators] case class SrcVec(src: Long, dst: Long, emb: Array[Float])

  /** q92b: NN-descent under the planted gate — embeddings plus a
    * verbatim copy of every vec_id < nPlanted at +idOffset; each
    * copy's rank-1 edge in the descent graph must be its original
    * (see the object scaladoc for why that is BY CONSTRUCTION).
    * Output (query_id, hit_id); oracle = the planted SELECT.
    * maxIters = 2 here: the gate property holds at ANY iteration
    * count (it is an init + prune invariant), two rounds exercise the
    * loop's state machinery (signature convergence, lineage cuts,
    * reverse sampling) under the oracle, and the full-depth descent
    * QUALITY is pinned by KnnGraphSpec's recall floor at 12 rounds —
    * a bench entry paying 4+ rounds bought no additional certainty.
    */
  def nnDescentGate(spark: SparkSession, dir: String, k: Int = 10,
                    nPlanted: Int = graft.GateInvariants.plantedGateN,
                    idOffset: Long = 1000000L,
                    maxIters: Int = 2, sampleR: Int = 0): DataFrame = {
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = base.union(
      base.filter(col("vec_id") < nPlanted)
        .select((col("vec_id") + idOffset).as("vec_id"), col("embedding")))
    // one live descent per (corpus, params) — q92e runs the IDENTICAL
    // call on the identical corpus (VERDICT r20 item 3); the shared
    // frame is bit-identical, so both entries' results are unchanged
    plantedHits(graft.Shared.leafFrame(spark, s"knn_descent:k=$k,it=$maxIters,sr=$sampleR", Seq(corpus))(
      nnDescent(spark, corpus, k = k, maxIters = maxIters, sampleR = sampleR)), idOffset)
  }

  /** Each planted copy's (src ≥ idOffset) rank-1 edge as (query_id,
    * hit_id): the planted gates' output.
    */
  private def plantedHits(edges: DataFrame, idOffset: Long): DataFrame =
    CellProbe.topK(edges.filter(col("src") >= idOffset), "src", "sim", "dst", 1)
      .select((col("src") - idOffset).as("query_id"), col("dst").as("hit_id"))
      .orderBy("query_id")

  /** q92e: semantic clustering over the DESCENT graph — the
    * composition a 100 TB deployment actually runs (q92c certifies
    * the clustering against the EXACT graph, whose corpus-broadcast
    * build is the correctness twin; this entry certifies the same
    * mutual-kNN + connected-components pipeline consuming
    * [[nnDescent]]'s output, which never forms an all-pairs or
    * corpus-broadcast shape — PlanShapeSpec pins the absence of the
    * knnOn join). Gate (q92b's argument, CC-composed): the corpus is
    * embeddings plus a verbatim copy of every vec_id < nPlanted; a
    * copy and its original share an IVF cell, meet at init at
    * sim 1.0 — the unique per-node maximum (GateInvariants' vector
    * check) — and survive every (sim DESC, dst ASC) top-k prune on
    * BOTH sides, so copy↔original is a mutual rank-1 edge at
    * 1.0 ≥ minSim in ANY graph the descent produces, and the two
    * co-cluster by construction. Output (query_id, co_clustered);
    * oracle = the planted SELECT with co_clustered TRUE.
    */
  def semanticClustersDescentGate(spark: SparkSession, dir: String, k: Int = 10,
                                  minSim: Double = 0.4,
                                  nPlanted: Int = graft.GateInvariants.plantedGateN,
                                  idOffset: Long = 1000000L,
                                  maxIters: Int = 2): DataFrame = {
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = base.union(
      base.filter(col("vec_id") < nPlanted)
        .select((col("vec_id") + idOffset).as("vec_id"), col("embedding")))
    // shares q92b's descent frame — identical call, identical corpus,
    // identical key (sampleR defaults to 0 there too); see
    // Shared.leafFrame for the freshness rules
    val edges = graft.Shared.leafFrame(spark, s"knn_descent:k=$k,it=$maxIters,sr=0", Seq(corpus))(
      nnDescent(spark, corpus, k = k, maxIters = maxIters))
    val mutual = edges.as("x").join(edges.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .where(col("x.src") < col("x.dst") && col("x.sim") >= minSim)
      .select(col("x.src").as("a"), col("x.dst").as("b"))
    val comp = DupGraph.connectedComponents(mutual)
    val copies = comp.filter(col("id") >= idOffset)
      .select((col("id") - idOffset).as("query_id"), col("rep").as("crep"))
    val origs = comp.select(col("id").as("query_id"), col("rep").as("orep"))
    copies.join(origs, "query_id")
      .select(col("query_id"), (col("crep") === col("orep")).as("co_clustered"))
      .orderBy("query_id")
  }

  /** q92c: graph-based semantic clustering — mutual-kNN edges at
    * sim ≥ minSim over the exact graph, connected components, one
    * cluster row per participating node: (vec_id, cluster_rep,
    * cluster_size, is_rep). Nodes with no mutual edge at the
    * threshold are singletons and are omitted (q53's output-domain
    * rule). minSim = 0.4 keeps the graph below its percolation point
    * on the gate corpora (0.35 collapses sf0.1 into one giant
    * component; 0.4 yields 268 components there) — for a real corpus
    * this knob IS the clustering granularity.
    */
  def semanticClusters(spark: SparkSession, dir: String, k: Int = 10,
                       minSim: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // one live copy feeds BOTH sides of the mutuality self-join
    val g = graft.Shared.persist(spark, "q92c_knn", knnOn(e, k))
    val mutual = g.as("x").join(g.as("y"),
        col("x.vec_id") === col("y.nb_id") && col("x.nb_id") === col("y.vec_id"))
      .where(col("x.vec_id") < col("x.nb_id") && col("x.sim") >= minSim)
      .select(col("x.vec_id").as("a"), col("x.nb_id").as("b"))
    DupGraph.connectedComponents(mutual)
      .select(col("id").as("vec_id"), col("rep").as("cluster_rep"),
        col("cluster_size"), (col("id") === col("rep")).as("is_rep"))
      .orderBy("cluster_rep", "vec_id")
  }

  // ------------------------------------------------------------------
  // Persisted graph index + query-time walk + incremental maintenance
  // (r19) — the remaining two legs of the reference's HNSW surface
  // (vector_store.py:105-168): the graph LIVES on storage (build once
  // nightly, read many), queries WALK it greedily best-first, and new
  // arrivals extend it without a rebuild.
  // ------------------------------------------------------------------

  /** Graph-index root for a corpus dir (VectorIndex's layout family):
    *   <path>/edges/pblk=N/ — the converged descent graph
    *                       (src, dst, sim), BUCKETED on src (r20:
    *                       pblk = pmod(xxhash64(src), nBuckets), the
    *                       Curation shingle-index pblk pattern) so
    *                       walk expansions and increment merges read
    *                       only the buckets their bounded frontier /
    *                       affected-node set actually touches —
    *                       partition pruning, plan-asserted in
    *                       PlanShapeSpec
    *   <path>/cells/     — top-1 init assignments (vec_id, cell): the
    *                       ENTRY-POINT structure; a query/delta replays
    *                       the same pure-function assignment to find
    *                       where it lands
    *   <path>/centroids/ — (c_cell, cvec) so that replay never touches
    *                       the corpus
    * Lifecycle: [[graft.IndexStore]]; the build records the RESOLVED
    * bucket count as its `rblk|N` fact, and the centroid and cell
    * counts the walk reads as `lists|N` and `nodes|N`.
    */
  def graphPath(spark: SparkSession, dir: String): String =
    VectorIndex.defaultPath(spark, dir) + "_knn"

  /** Edge-store bucket-count LAW (r22, VERDICT r20 item 5 / r21
    * item 1): `nBuckets = 0` (now the default everywhere) means
    * ~`bucketNodes` nodes' adjacency lists per pblk bucket. The fixed
    * 16 defeated pruning at scale: a walk frontier is ≤ |Q|·beam
    * (~160) distinct nodes, so with 16 buckets every hop opened the
    * WHOLE store — with N/1250 buckets (1,600 at the 2M-node probe
    * corpus) the same frontier opens ≤ ~160/1600 = 10% of it, and the
    * fraction keeps FALLING as the corpus grows while per-bucket file
    * size (~1250·k edge rows ≈ 250 KB at k=10) stays write-friendly.
    * At every certified SF (≤ 20.2k nodes) the law resolves to the
    * old 16 — identical layout, identical plans.
    */
  private val bucketNodes = 1250L
  private[graft] def autoBuckets(n: Long): Int =
    math.max(16L, n / bucketNodes).toInt

  /** The persisted graph at one parameter point. Every parameter is
    * identity; `arith=d2` doubles as the SCORING-KERNEL version (ADVICE
    * r19): stored sims must have been produced by the same fold
    * order/rounding the increment path scores with — a kernel change
    * bumps the token and invalidates old indexes instead of merging
    * disagreeing sims. `counts=1` marks a graph that records its
    * `lists|`/`nodes|` facts; one built before reads stale and is
    * rebuilt once.
    */
  def graph(k: Int = 10, lists: Int = 0, maxIters: Int = 2, ringJ: Int = 10,
            modularRing: Boolean = false, nBuckets: Int = 0): IndexStore.Index =
    IndexStore.Index("knngraph", "embeddings",
        s"knngraph:k=$k,lists=$lists,iters=$maxIters," +
          s"ring=${if (modularRing) "m" else "h"}$ringJ,blk=$nBuckets,arith=d2,schema=1,counts=1",
        Seq("centroids", "cells", "edges")) { (spark, dir, path) =>
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      // the SAME derivations nnDescent's init runs — both are pure
      // functions of (corpus, lists), so the persisted entry structure
      // matches the graph's init cells exactly (incl. the adaptive
      // lists sizing: lists = 0 means N/125, the family's scaling law;
      // nBuckets = 0 means N/1250 — autoBuckets above)
      val n = e.count()
      val nl = if (lists > 0) lists else math.max(16, (n / 125L).toInt)
      val nb = if (nBuckets > 0) nBuckets else autoBuckets(n)
      val cents = Vectors.refinedCentroids(e, nl, iters = 0)
      val cells = Vectors.assignCells(e, cents, nProbe = 1,
        nCoarse = Vectors.autoCoarse(nl)).select("vec_id", "cell")
      val schemas = Seq(
        IndexStore.write(cents, path, "centroids"),
        IndexStore.write(cells, path, "cells"),
        IndexStore.write(nnDescent(spark, e, k = k, lists = lists, maxIters = maxIters,
            ringJ = ringJ, modularRing = modularRing)
          .withColumn("pblk", pmod(xxhash64(col("src")), lit(nb)).cast("int"))
          // one task per bucket's file set, not nTasks files per dir
          // (the dedup index's repartition rule)
          .repartition(col("pblk")), path, "edges", "pblk"))
      // the RESOLVED bucket count is a fact, not identity (the raw
      // param is the LAW's identity — lists=0's precedent); bucketsOf
      // must read the resolved value, and a dir listing can undercount
      // when a tiny test corpus leaves buckets empty, which would
      // silently mis-map pblk on the read side. The walk's centroid
      // and node counts are facts too, counted once here: every vector
      // lands in exactly one cell (nProbe = 1), so the cell store
      // holds n rows
      Seq(s"rblk|$nb", s"lists|${cents.count()}", s"nodes|$n") ++ schemas
    }

  /** A value the graph at `path` recorded as a fact at build time. */
  private def factOf(spark: SparkSession, path: String, name: String): Long =
    IndexStore.fact(spark, path, name).map(_.toLong).getOrElse(
      throw new IllegalStateException(s"k-NN graph at $path records no $name| fact"))

  /** The bucket count the graph at `path` was written with. */
  private def bucketsOf(spark: SparkSession, path: String): Int = factOf(spark, path, "rblk").toInt

  /** The stored edge lists of a bounded node set, read pruned to the
    * nodes' pblk buckets by [[CellProbe.read]].
    */
  private[graft] def edgesForNodes(spark: SparkSession, path: String,
                                   nodes: DataFrame, nodeCol: String): DataFrame = {
    val nb = bucketsOf(spark, path)
    val blks = nodes.select(pmod(xxhash64(col(nodeCol)), lit(nb)).cast("int").as("pblk")).distinct()
    CellProbe.read(blks, "pblk", IndexStore.read(spark, path, "edges"), "pblk")._2
      .select("src", "dst", "sim")
  }

  /** Greedy best-first BEAM walk over a persisted graph for a bounded
    * batch of queries — the query-time half of the reference's HNSW
    * (vector_store.py:105-168), expressed as one iterative frontier
    * join instead of a per-query pointer chase: every hop expands ALL
    * queries' beams at once against the edge list. Entry points are
    * the query's IVF-cell co-members (the persisted entry structure;
    * assignment replays the build's pure function, so a query lands
    * exactly where its vector would have been indexed). Per hop: the
    * per-query top-`beam` of the newest scores joins the edge list,
    * unseen neighbors score against the broadcast query set, and the
    * walk stops when no query discovers a new node (or maxHops).
    * Output: per-query top-k over everything VISITED, ranked by
    * (6dp sim DESC, node ASC).
    *
    * Scale shape: queries are bounded by construction (a search
    * batch / the day's arrivals) and broadcast everywhere; per hop
    * the frontier is ≤ |Q|·beam rows, the expansion ≤ |Q|·beam·k
    * slim id rows, and corpus embeddings are fetched by equi-join
    * only for NEWLY visited nodes — the corpus never broadcasts and
    * never re-shuffles whole.
    */
  private[graft] def graphWalkOn(spark: SparkSession, path: String, e: DataFrame,
                                 queries: DataFrame, k: Int = 10, beam: Int = 8,
                                 maxHops: Int = 3): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val cents = IndexStore.read(spark, path, "centroids")
    val lists = factOf(spark, path, "lists").toInt
    val cellsDf = IndexStore.read(spark, path, "cells")
    // size-routed edge source (r20, DupGraph's smallGraphThreshold
    // discipline): below the bound the whole store persists once —
    // the per-hop bucket-collect job's scheduling floor dominates a
    // toy-scale pruned read; above it each hop prune-reads only the
    // frontier's pblk buckets (the cluster-scale shape, and the one
    // the 100× probe rows measure)
    val wholeEdges =
      if (factOf(spark, path, "nodes") <= wholeEdgeThreshold)
        Some(IndexStore.read(spark, path, "edges")
          .select(col("src"), col("dst")).persist(lvl))
      else None
    val q = queries.select(col("q_id"), col("q_emb")).persist(lvl)
    val qCells = Vectors.assignCells(
        q.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
        cents, nProbe = 1, nCoarse = Vectors.autoCoarse(lists))
      .select(col("vec_id").as("q_id"), col("cell"))
    def score(nodes: DataFrame): DataFrame = nodes
      .join(e.select(col("vec_id").as("node"), col("embedding")), "node")
      .join(broadcast(q), "q_id")
      .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6))
      .select("q_id", "node", "sim")
    // a query assigned to a centroid cell with NO stored members must
    // not silently vanish from the output (ADVICE r19): give it the
    // corpus-wide minimum vec_id as a deterministic best-effort entry
    // point — the walk then explores from there like any other query
    val cellEntries = qCells.join(cellsDf, "cell")
      .select(col("q_id"), col("vec_id").as("node"))
    val orphaned = q.select("q_id")
      .join(cellEntries.select("q_id").distinct(), Seq("q_id"), "left_anti")
      .crossJoin(broadcast(cellsDf.agg(min("vec_id").as("node"))))
    // Hop materialization is SIZE-ROUTED (r21, guide §1.2 — fewer
    // passes/actions):
    //   - pruned path (big corpora): ONE job per hop — the per-hop
    //     count IS the growth check, and edgesForNodes' bucket collect
    //     needs the frontier materialized anyway (r19 tuning: the
    //     earlier limit(1) probe shape serialized two jobs per hop,
    //     measured 24s for a 20-query walk). Hop frames persist.
    //   - wholeEdges path (below wholeEdgeThreshold): no per-hop
    //     count — each hop frame is a graft.Shared.leaf and the
    //     caller's single action materializes the rest of the walk.
    //     The cut is not job-free: under AQE it runs the hop's shuffle
    //     stages, one job per staged hop (one driver round-trip each;
    //     SharedLeafFrameSpec pins it). The leaf cut matters as much
    //     as the job count: left as a lazy
    //     cached DataFrame chain, every AQE stage of the final action
    //     re-traversed and re-serialized the whole walk's plan/lineage
    //     (SparkPlanInfo + task closures dominated the driver profile
    //     — 4.6s driver gap vs 1.1s of job time, tools/JobProbe r21).
    //     The early-stop check is dropped here: maxHops is a small
    //     bound, a converged walk's extra hop is an empty frontier
    //     joining empty expansions (zero rows, zero cost), and the
    //     final top-k over visited is IDENTICAL.
    val walkRdds = scala.collection.mutable.ArrayBuffer[RDD[InternalRow]]()
    def stage(df: DataFrame): DataFrame =
      if (wholeEdges.isDefined) {
        val (leafDf, rdd) = graft.Shared.leaf(df)
        walkRdds += rdd
        leafDf
      } else df.persist(lvl)
    val entries = stage(score(cellEntries.union(orphaned)))
    val hops = scala.collection.mutable.ArrayBuffer[DataFrame](entries)
    var visited = entries
    var latest = entries
    var hop = 0
    var grew = true
    while (hop < maxHops && grew) {
      val wb = Window.partitionBy("q_id").orderBy(col("sim").desc, col("node"))
      val frontier = latest.withColumn("rk", row_number().over(wb))
        .filter(col("rk") <= beam).select("q_id", "node")
      // prune-read only the frontier's edge buckets (r20): the
      // frontier is ≤ |Q|·beam nodes, so the bucket set is bounded
      // and the hop join opens only those partitions' files instead
      // of scanning the whole edge store per hop
      val hopEdges = wholeEdges.getOrElse(
        edgesForNodes(spark, path, frontier, "node")
          .select(col("src"), col("dst")))
      val expand = frontier.join(hopEdges, frontier("node") === hopEdges("src"))
        .select(col("q_id"), col("dst").as("node")).distinct()
        .join(visited.select("q_id", "node"), Seq("q_id", "node"), "left_anti")
      val fresh = stage(score(expand))
      if (wholeEdges.isEmpty) grew = fresh.count() > 0
      if (grew) {
        hops += fresh
        visited = visited.union(fresh)
        latest = fresh
      } else fresh.unpersist(false)
      hop += 1
    }
    // the returned plan scans the hop caches, so they hand off
    // through the registry: the NEXT walk on this session releases
    // them (back-to-back walks never accumulate)
    wholeEdges.foreach(_.unpersist(false))
    q.unpersist(false)
    graft.Shared.put(spark, WalkFamily, spark, (hops.toSeq, walkRdds.toSeq),
      release = (prev: (Seq[DataFrame], Seq[RDD[InternalRow]])) => {
        prev._1.foreach(_.unpersist(false))
        prev._2.foreach(graft.Shared.unpersistRdd)
      })
    CellProbe.topK(visited, "q_id", "sim", "node", k)
  }

  /** Below this stored-corpus size the walk persists the whole edge
    * store instead of prune-reading buckets per hop (see graphWalkOn).
    */
  private val wholeEdgeThreshold = 100000L

  /** q93: graph-walk search under the planted gate — queries are
    * verbatim copies of vec_id < nPlanted; each walks the PERSISTED
    * graph (built over the base corpus only — reused, never rebuilt
    * per query) and must report its original as rank-1. Why that is
    * BY CONSTRUCTION (q92b's argument at query time): entry-point
    * assignment is the same pure function of the vector the build
    * used, so a copy's entry cell is its original's cell — the
    * original is IN the entry set, scores 6dp cosine 1.0 (the unique
    * per-node maximum, GateInvariants' vector check), and the final
    * argmax over visited ⊇ entries is the original regardless of how
    * the walk explores. Walk QUALITY on real queries (where the
    * answer is not planted in the entry set) is KnnGraphSpec's
    * recall-floor law vs q16's brute top-k, not an oracle — greedy
    * graph search is approximate by nature.
    */
  def graphWalkGate(spark: SparkSession, dir: String, k: Int = 10, beam: Int = 8,
                    maxHops: Int = 3,
                    nPlanted: Int = graft.GateInvariants.plantedGateN,
                    idOffset: Long = 1000000L): DataFrame = {
    val path = graphPath(spark, dir)
    // forward k (ADVICE r19): a non-default k must rebuild the graph
    // at that degree (the params watermark makes the mismatch stale),
    // not silently walk a k=10 index
    graph(k = k).ensure(spark, dir, path)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < nPlanted)
      .select((col("vec_id") + idOffset).as("q_id"), col("embedding").as("q_emb"))
    graphWalkOn(spark, path, e, queries, k = k, beam = beam, maxHops = maxHops)
      .filter(col("rk") === 1)
      .select((col("q_id") - idOffset).as("query_id"), col("node").as("hit_id"))
      .orderBy("query_id")
  }

  /** Incremental k-NN graph maintenance (the q64b/q67e build/delta
    * split for the graph family): a delta batch joins the PERSISTED
    * descent graph without a rebuild. Delta vectors replay the pure-
    * function cell assignment, every TOUCHED cell's members (stored ∪
    * delta) score in-group (the r19 kernel — arrays once per
    * membership), and only pairs INVOLVING a delta node survive:
    *   - delta nodes get a forward list = top-k of their scored pairs;
    *   - affected base nodes (co-members of a delta) merge the new
    *     delta edges into their stored lists and re-prune — the
    *     "affected reverse lists";
    *   - every other node's edges pass through BYTE-UNTOUCHED (they
    *     are never read per-row, just anti-joined on src).
    * Work is bounded by |delta| · cell size, never corpus size.
    * Commutation (KnnGraphSpec): with one shared cell the init graph
    * is the exact brute top-k, and increment-then-prune provably
    * equals the full rebuild — for a base node, any full-corpus top-k
    * neighbor is either a delta (scored here) or a base node already
    * on its stored list; for a delta node every corpus member is a
    * co-member. The spec pins that equality frame-for-frame.
    */
  private[graft] def knnGraphIncrementOn(spark: SparkSession, path: String,
                                         e: DataFrame, delta: DataFrame,
                                         k: Int = 10): DataFrame = {
    val cents = IndexStore.read(spark, path, "centroids")
    val lists = factOf(spark, path, "lists").toInt
    val cellsDf = IndexStore.read(spark, path, "cells")
    val edges = IndexStore.read(spark, path, "edges").select("src", "dst", "sim")
    val d = delta.select(col("vec_id"), col("embedding"))
    val dCells = Vectors.assignCells(d, cents, nProbe = 1,
      nCoarse = Vectors.autoCoarse(lists)).select("vec_id", "cell")
    val touched = dCells.select("cell").distinct()
    val members = cellsDf.join(touched, "cell").select("vec_id", "cell")
      .union(dCells.select("vec_id", "cell"))
    val all = e.select("vec_id", "embedding").union(d)
    // ONE live copy of the touched-cell scoring (r20): the frame feeds
    // deltaLists, affBase, affSrcs AND the merge read's bucket collect
    // — without the registry persist the in-group kernel re-ran once
    // per consumer (measured 2× on the 10× increment probe)
    val scored = graft.Shared.persist(spark, "knn_incr_scored",
      scoreWithinGroups(spark,
        members.join(all, "vec_id")
          .select(col("cell").cast("long").as("g"), col("vec_id").as("u"),
            col("embedding").as("emb"))))
    // keep only pairs with a delta endpoint: base-base pairs in a
    // touched cell are NOT new information (the stored graph already
    // chose among them)
    val dIds = dCells.select(col("vec_id")).distinct()
    val newPairs = scored
      .join(dIds.select(col("vec_id").as("a"), lit(true).as("da")), Seq("a"), "left")
      .join(dIds.select(col("vec_id").as("b"), lit(true).as("db")), Seq("b"), "left")
      .where(coalesce(col("da"), lit(false)) || coalesce(col("db"), lit(false)))
      .select("a", "b", "sim")
    val newDirected = newPairs.select(col("a").as("src"), col("b").as("dst"), col("sim"))
      .union(newPairs.select(col("b").as("src"), col("a").as("dst"), col("sim")))
    val deltaLists = prune(
      newDirected.join(dIds.select(col("vec_id").as("src")), "src"), k)
    val affBase = newDirected
      .join(dIds.select(col("vec_id").as("src")), Seq("src"), "left_anti")
    val affSrcs = affBase.select("src").distinct()
    // the merge READ is bucket-pruned (r20): affected srcs are bounded
    // by delta·cell-size, so only their pblk buckets' stored lists are
    // opened for the re-prune — the untouched pass-through below is a
    // straight scan-minus-antijoin, never read per-row
    val edgesAff = edgesForNodes(spark, path, affSrcs, "src")
    val merged = prune(edgesAff.join(affSrcs, "src").union(affBase), k)
    val untouchedEdges = edges.join(affSrcs, Seq("src"), "left_anti")
    untouchedEdges.union(merged).union(deltaLists)
  }

  /** One live increment frame per (stored graph, delta, k) — q92f and
    * q92g run the IDENTICAL `knnGraphIncrementOn` (VERDICT r20 item
    * 3). The watermark rides the token so an index rebuild between
    * calls invalidates the copy even though the read PATH is
    * unchanged.
    */
  private def incrementShared(spark: SparkSession, path: String,
                              e: DataFrame, delta: DataFrame, k: Int): DataFrame =
    // the index PATH is part of the key string (ADVICE r21): two
    // stored graphs with the same k and corpus plans must coexist as
    // separate entries instead of evicting each other on alternation
    // (the watermark stays in the token — a rebuild still invalidates)
    graft.Shared.leafFrame(spark, s"knn_increment:$path:k=$k", Seq(e, delta),
        token = path + "@" + IndexStore.readWatermark(spark, path).getOrElse(""))(
      knnGraphIncrementOn(spark, path, e, delta, k))

  /** q92f: incremental maintenance under the planted gate — the delta
    * is a verbatim copy of every vec_id < nPlanted; each copy lands
    * in its original's cell (pure-function assignment), scores
    * 6dp cosine 1.0 against it (the unique maximum — GateInvariants'
    * vector check), and survives the top-k prune, so the copy's
    * rank-1 edge in the INCREMENTED graph is its original and the
    * oracle is the planted SELECT. The persisted base graph is built
    * once and never rewritten (byte-untouched law in KnnGraphSpec).
    */
  def knnIncrementGate(spark: SparkSession, dir: String, k: Int = 10,
                       nPlanted: Int = graft.GateInvariants.plantedGateN,
                       idOffset: Long = 1000000L): DataFrame = {
    val path = graphPath(spark, dir)
    // forward k (ADVICE r19): the increment-equals-rebuild law only
    // holds against a graph built at the SAME degree
    graph(k = k).ensure(spark, dir, path)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val delta = e.filter(col("vec_id") < nPlanted)
      .select((col("vec_id") + idOffset).as("vec_id"), col("embedding"))
    plantedHits(incrementShared(spark, path, e, delta, k), idOffset)
  }

  /** q92g: semantic clustering over the PERSISTED graph — the nightly
    * composition a deployment actually schedules (q92e certifies
    * clusters over a FRESH descent, which its gate needs because the
    * planted corpus differs from the indexed base; this entry
    * certifies the same mutual-kNN + connected-components pipeline
    * reading the stored `graphPath` edges, extended by the day's
    * arrivals through [[knnGraphIncrementOn]] — no descent, no knnOn,
    * no corpus-broadcast shape anywhere; PlanShapeSpec pins the plan).
    * Gate (q92f's argument, CC-composed): the delta is a verbatim copy
    * of every vec_id < nPlanted; the copy lands in its original's cell
    * (pure-function assignment), they score 6dp cosine 1.0 — the
    * unique per-node maximum (GateInvariants' vector check) — the copy
    * keeps the original in its forward list, the original (an affected
    * base node) admits the copy through its merge re-prune, and the
    * resulting mutual rank-1 edge at 1.0 ≥ minSim makes the two
    * co-cluster by construction. Output (query_id, co_clustered);
    * oracle = the planted SELECT with co_clustered TRUE.
    */
  def semanticClustersIndexedGate(spark: SparkSession, dir: String, k: Int = 10,
                                  minSim: Double = 0.4,
                                  nPlanted: Int = graft.GateInvariants.plantedGateN,
                                  idOffset: Long = 1000000L): DataFrame = {
    val path = graphPath(spark, dir)
    graph(k = k).ensure(spark, dir, path)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val delta = e.filter(col("vec_id") < nPlanted)
      .select((col("vec_id") + idOffset).as("vec_id"), col("embedding"))
    // one live copy feeds BOTH sides of the mutuality self-join AND
    // is the same frame q92f reads (VERDICT r20 item 3 — the pair ran
    // the identical increment twice)
    val edges = incrementShared(spark, path, e, delta, k)
    val mutual = edges.as("x").join(edges.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .where(col("x.src") < col("x.dst") && col("x.sim") >= minSim)
      .select(col("x.src").as("a"), col("x.dst").as("b"))
    val comp = DupGraph.connectedComponents(mutual)
    val copies = comp.filter(col("id") >= idOffset)
      .select((col("id") - idOffset).as("query_id"), col("rep").as("crep"))
    val origs = comp.select(col("id").as("query_id"), col("rep").as("orep"))
    copies.join(origs, "query_id")
      .select(col("query_id"), (col("crep") === col("orep")).as("co_clustered"))
      .orderBy("query_id")
  }

  /** Root for the walk-recall entry's REPLAYABLE graph variant —
    * kept beside the descent graph, never shared with it (different
    * params ⇒ different watermark identity anyway).
    */
  def replayGraphPath(spark: SparkSession, dir: String): String =
    VectorIndex.defaultPath(spark, dir) + "_knnrp"

  /** q93b: walk recall@k against q16's certified brute-force top-k on
    * REAL (non-planted) queries — the q78 pattern for the graph-walk
    * path. q93's oracle certifies the walk's machinery through a
    * planted gate (the answer is in the entry set by construction);
    * this entry puts the walk's APPROXIMATION QUALITY on arbitrary
    * corpus queries under the hard gate: both sides run the certified
    * operators, and the DuckDB oracle replays graph build + walk +
    * brute + recall end-to-end (reference vector_store.py:105-168
    * serves arbitrary queries, not planted ones).
    *
    * Replayability: the walk's every step is already engine-portable
    * arithmetic (6dp-rounded cosine ranking, beam/visited set algebra
    * — deterministic joins and windows), but the DESCENT graph is not
    * (xxhash64 ring + sampled iterations), so this entry walks a graph
    * built at maxIters = 0 with the MODULAR ring: per-node top-k over
    * {IVF-cell co-members} ∪ {(idx+j) mod n ring neighbors, j ≤ 10} —
    * a pure SQL-expressible function of the corpus, built/persisted/
    * walked through the exact same graph build/graphWalkOn machinery as
    * q93 (entry cells, bucket-pruned hop joins, beam, visited-set
    * anti-joins). Valid for the flat assignment path (lists ≤ 64 ⇔
    * corpus ≤ 8000 vectors — all gate SFs; q29b's boundary note).
    * Walk quality over the DESCENT graph stays spec-pinned
    * (KnnGraphSpec's recall floor); the recall MEASURED here gates
    * beam/maxHops with an oracle instead of a floor assert.
    *
    * Output (query_id, k, n_hit, recall) — q78's shape. The walk runs
    * at k+1 then drops the query itself (a corpus member always visits
    * itself at sim 1.0 through its own entry cell) and re-ranks, which
    * equals the top-k over non-self visited nodes.
    */
  def graphWalkRecall(spark: SparkSession, dir: String, k: Int = 10,
                      beam: Int = 8, maxHops: Int = 3,
                      nQueries: Int = 5): DataFrame = {
    val path = replayGraphPath(spark, dir)
    graph(k = k, maxIters = 0, modularRing = true).ensure(spark, dir, path)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val walked = CellProbe.topK(graphWalkOn(spark, path, e, queries,
        k = k + 1, beam = beam, maxHops = maxHops)
      .filter(col("node") =!= col("q_id")), "q_id", "sim", "node", k)
      .select("q_id", "node")
    val brute = knnOn(e, k).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("nb_id").as("node"))
    val hits = brute.join(walked, Seq("q_id", "node"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    // denominator = the per-query BRUTE set size (annRecall's rule)
    brute.groupBy("q_id").agg(count(lit(1)).as("n_brute"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id").as("query_id"), lit(k).as("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_brute")).as("recall"))
      .orderBy("query_id")
  }
}
