package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution: near-dup PAIRS → connected
  * COMPONENTS → one canonical survivor per cluster.
  *
  * Every pair producer in the dedup family (q26/q27/q40/q44) stops at
  * candidate pairs; a real corpus-dedup pipeline must then group the
  * pairs transitively (A≈B, B≈C ⇒ {A,B,C} is one duplicate cluster)
  * and keep exactly one member. The reference reaches the same
  * endpoint through embedding-cluster merging
  * (terrorblade/data/preprocessing/TextPreprocessor.py:429-:470,
  * `calculate_groups` merging adjacent segments); this operator is
  * the batch-graph spelling of that step over any pair set.
  *
  * Algorithm: min-label propagation with POINTER JUMPING, the
  * "hash-min + path compression" connected-components scheme used by
  * the MapReduce CC literature (Kiveris et al., "Connected Components
  * in MapReduce and Beyond" — large-star/small-star family). Each
  * round does (a) a neighbor-min join (labels flow across edges) and
  * (b) a pointer jump (label(x) := label(label(x))), so resolved path
  * length doubles per round: O(log n) rounds on any graph, O(1)-ish
  * on real dup clusters (diameter 1-2). Labels are node-id minima ⇒
  * the fixpoint is unique and deterministic ⇒ oracle-EXACT.
  *
  * Scale: state is one slim (id, rep) row per node that appears in a
  * pair — NOT per corpus document. Each round shuffles only that
  * frame plus the edge list on hash-derived keys. Each round's state
  * is a [[graft.Shared.leaf]] (why: see there) and the previous
  * round's RDD is dropped once the next one is materialized.
  * Convergence is detected by the per-round sum of labels: labels
  * only ever decrease, so an unchanged sum IS the fixpoint (one
  * cheap agg on the slim state, no extra join).
  */
object DupGraph {

  /** Connected components over an undirected edge list with columns
    * (a, b). Returns (id, rep, cluster_size) where rep = min node id
    * reachable and cluster_size = the number of nodes with that rep.
    *
    * Size-based routing (the autoCoarse precedent): the min-label
    * fixpoint is unique, so HOW it is computed is free to vary with
    * input size. Below `smallGraphThreshold` edges the whole list
    * fits in driver memory trivially (100k edges ≈ a few MB) and the
    * distributed loop's per-round scheduling floor (4 shuffles + a
    * driver agg per round) dominates actual work — a near-dup pair
    * graph at gate scale is ~25 edges paying ~1s of round latency.
    * An in-JVM union-find returns the identical (id, rep) set in
    * microseconds (spec-pinned equal on planted graphs) and counts
    * the sizes there, as a local relation: a caller's projection and
    * sort over it run on the driver (GraftExtensions.LocalSort).
    * Anything larger takes the pointer-jumping loop, whose round count
    * and state stay bounded at any corpus size, and sizes its
    * components with one groupBy + join.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 30,
                          smallGraphThreshold: Long = 100000L): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    // persist the INPUT edge frame before anything touches it twice:
    // the symmetrizing union reads it once per branch and the small-
    // graph route collects it — for q53 the edge list is the output
    // of a full dedupNgram scan, and the unpersisted spelling paid
    // that scan 2-3x per call (measured 3.6s isolated; ~1.7s fixed)
    // long ONCE at the entry: the small-graph route already emitted
    // bigint (id, rep), but the distributed route used to preserve
    // the input column type — the output schema flipped across the
    // smallGraphThreshold boundary depending on DATA VOLUME
    val e0 = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e0.count() // materializes the persist for all readers
    val sym = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    if (nEdges <= smallGraphThreshold) {
      import edges.sparkSession.implicits._
      val es = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
      e0.unpersist(false)
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val reps = parent.keys.toSeq.map(id => id -> find(id))
      val sizes = reps.groupMapReduce(_._2)(_ => 1L)(_ + _)
      return edges.sparkSession.createDataset(reps.map { case (id, rep) => (id, rep, sizes(rep)) })
        .toDF("id", "rep", "cluster_size")
    }
    var (state, stateRdd) = graft.Shared.leaf(
      sym.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("rep")))
    var prevSum = state.agg(sum("rep")).first().get(0)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // (a) labels flow across edges: min neighbor label per node
      val nmin = sym.join(state, sym("b") === state("id"))
        .groupBy(col("a")).agg(min("rep").as("nmin"))
      val relaxed = state.join(nmin, state("id") === nmin("a"), "left")
        .select(state("id"), least(col("rep"), coalesce(col("nmin"), col("rep"))).as("r1"))
      // (b) pointer jump: follow the label to ITS label (path halving)
      val p = relaxed.select(col("id").as("p_id"), col("r1").as("p_r"))
      val (next, nextRdd) = graft.Shared.leaf(
        relaxed.join(p, relaxed("r1") === p("p_id"), "left")
          .select(relaxed("id"), least(col("r1"), coalesce(col("p_r"), col("r1"))).as("rep")))
      val s = next.agg(sum("rep")).first().get(0)
      stateRdd.unpersist(false)
      state = next
      stateRdd = nextRdd
      converged = s == prevSum
      prevSum = s
      round += 1
    }
    e0.unpersist(false)
    // the converged state's cached RDD hands off: the next call on
    // the session releases it
    graft.Shared.put(edges.sparkSession, "dupGraph.state", edges.sparkSession, stateRdd,
      release = graft.Shared.unpersistRdd)
    state.join(state.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size")), "rep")
      .select("id", "rep", "cluster_size")
  }

  /** q53: duplicate clusters over the q26 near-dup pair set —
    * (doc_id, cluster_rep, cluster_size, is_keep). Only documents
    * that participate in at least one near-dup pair appear (singleton
    * docs are trivially their own cluster and are omitted, matching
    * the pair producers' output domain). `is_keep` marks the
    * first-writer-wins survivor (min doc_id), the same rule as q25's
    * exact-dup groups.
    *
    * Pair generation runs with the degenerate-clique belt ON
    * (`maxBlock` = Dedup.ComposedMaxBlock, VERDICT r17 item 4): CC
    * consumes CONNECTIVITY, which the anchor star preserves for a
    * verbatim mega-clique (every member connects to the min-id
    * anchor at jac 1.0), so the belt changes nothing this operator
    * reads while bounding the one block a mega-duplicated corpus
    * would explode. Gate-scale blocks (≤264 at sf0.1) never engage it.
    */
  def dupClusters(spark: SparkSession, dir: String,
                  maxBlock: Int = Dedup.ComposedMaxBlock): DataFrame = {
    // pair order is irrelevant to CC — skip the q26 presentation sort
    val pairs = Dedup.dedupNgramPairs(spark, Dedup.docShingles(spark, dir),
        maxBlock = maxBlock)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        col("cluster_size"), (col("id") === col("rep")).as("is_keep"))
      .orderBy("cluster_rep", "doc_id")
  }

  /** q75: QUALITY-AWARE canonical selection — the decision q53's
    * min-label `is_keep` only approximates: a production dedup keeps
    * the BEST member of each duplicate cluster, not the lowest id
    * (near-dup copies differ — truncation, boilerplate, OCR noise —
    * and dropping the clean copy for the mangled one loses data
    * quality for free). Canonical = the member maximizing
    * (gopher rule-pass count, word count, lowest doc_id) — an
    * all-integer, total, deterministic order, so the choice is
    * unique and ORACLE-EXACT.
    *
    * Scale shape: the same pair→CC spine as q53 (slim (id, rep)
    * state, pointer jumping); quality flags come from the shared
    * one-scan `gopherFlags` projection — only (doc_id, wc, n_pass)
    * ever shuffles, text never moves. The canonical pick is a
    * groupBy(rep) max over a lexicographic struct (no per-cluster
    * window sort — partial aggregation collapses members map-side,
    * so a pathological mega-cluster costs one combiner row per
    * partition, not a single-task sort).
    */
  def clusterReps(spark: SparkSession, dir: String): DataFrame =
    clusterRepsOn(spark, dir,
      TextAnalysis.gopherScored(
          graft.Tables.documents(spark, dir).select("doc_id", "text"), Seq("doc_id"))
        .select(col("doc_id"), col("n_words").as("wc"), col("n_pass")))

  /** clusterReps over a caller-supplied (doc_id, wc, n_pass) quality
    * frame — q77 passes its shared persisted gopher projection here
    * so the funnel scores the corpus once, not once per gate. Belt
    * default as dupClusters (connectivity-preserving star for
    * verbatim cliques; the canonical pick only needs membership).
    */
  private[graft] def clusterRepsOn(spark: SparkSession, dir: String,
                                   scored: DataFrame,
                                   maxBlock: Int = Dedup.ComposedMaxBlock): DataFrame =
    clusterRepsOnPairs(spark,
      Dedup.dedupNgramPairs(spark, Dedup.docShingles(spark, dir),
        maxBlock = maxBlock), scored)

  /** clusterReps over a caller-supplied (doc_a, doc_b) near-dup pair
    * frame — q77b feeds pairs derived from its one-scan shingle
    * column here, so the canonical pick adds NO documents scan of its
    * own (VERDICT r17 item 1).
    */
  private[graft] def clusterRepsOnPairs(spark: SparkSession, pairFrame: DataFrame,
                                        scored: DataFrame): DataFrame = {
    val pairs = pairFrame.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comp = connectedComponents(pairs)
    val members = comp.join(scored, comp("id") === scored("doc_id"))
      .select(col("id").as("doc_id"), col("rep"), col("n_pass"), col("wc"))
    val best = members.groupBy("rep").agg(
      count(lit(1)).as("cluster_size"),
      max(struct(col("n_pass").as("p"), col("wc").as("w"),
        (-col("doc_id")).as("nid"))).as("b"))
    members.join(best, "rep")
      .select(col("doc_id"), col("rep").as("cluster_rep"), col("cluster_size"),
        col("n_pass"), col("wc"),
        (col("doc_id") === -col("b.nid")).as("is_canonical"))
      .orderBy("cluster_rep", "doc_id")
  }
}
