package graft.operators

import graft.{IndexStore, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI'11) — the MEMORY scale
  * path for vector search, complementing the IVF family's compute
  * scale path (q19/q48): each vector is stored as m one-byte-ish
  * codes (m=8 here → 8 ints vs 64 floats, 8-32× smaller depending on
  * physical encoding), and a query scans codes with m table lookups
  * per vector instead of a d-dim dot product. At 100 TB the corpus's
  * PQ codes fit in a fraction of the cluster's memory where raw
  * float32 vectors never could — brute-force-over-codes becomes
  * viable exactly when IVF's partial scans start missing recall.
  * The reference's HNSW index (vector_store.py:105-168) solves the
  * same problem by graph traversal; PQ is the layout a columnar
  * engine can scan declaratively.
  *
  * Determinism (the IVF kernels' rules): codebook seeds are REAL
  * member subvectors (min vec_id per residue class — q19b's seed
  * rule), Lloyd refinement uses DECIMAL(20,10) means (order-
  * insensitive under any partitioning), assignment ties break on
  * code id via min_by over a (distance, code) struct, and every
  * array is assembled with array_sort over an explicit position
  * struct. The whole q67 family is hash-EXACT in the driver gate
  * (r15/r16): the DECIMAL/float chain replays in DuckDB via
  * double-compute-then-REAL-cast, and the planted entries pin the
  * ADC floor. PqSpec additionally pins the laws (identical vectors
  * ⇒ identical codes, ADC ≡ JVM-replayed lookup sum, recall floor).
  */
object PQ {

  /** (vec_id, s, sv): vector split into m contiguous subvectors. */
  private def subvectors(e: DataFrame, m: Int, dims: Int): DataFrame = {
    val dsub = dims / m
    e.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("vec_id"), col("s"),
        slice(col("embedding"), col("s") * dsub + 1, lit(dsub)).as("sv"))
  }

  /** Codebooks (s, code, cvec): per subspace, kCodes codewords —
    * member-subvector seeds + `iters` Lloyd rounds of decimal means.
    * m·kCodes rows of dsub floats: always broadcastable.
    *
    * DENSITY INVARIANT (ADVICE r08): the ADC LUT is indexed
    * lut[s*kCodes + code], so books must carry EVERY (s, code) pair —
    * one missing row shifts every later LUT slot into silently wrong
    * distances. Two ways a row could go missing: a residue class with
    * no members when distinct vec_id residues < kCodes (no seed), and
    * a codeword losing all members during Lloyd refinement (min_by
    * tie-breaks can starve a seed whose subvector duplicates a
    * lower-coded one). Both are closed structurally: books is always
    * the full m×kCodes grid — never-seeded codes carry a FAR-POINT
    * sentinel (Float.MaxValue components: never the nearest codeword,
    * so never assigned, and its LUT slot is a huge-but-unread value),
    * and a starved codeword carries its previous-round centroid
    * forward. pq_adc additionally validates the layout at read time.
    */
  private[graft] def codebooks(spark: SparkSession, e: DataFrame, m: Int, kCodes: Int,
                               dims: Int, iters: Int): DataFrame = {
    val dsub = dims / m
    val subs = subvectors(e, m, dims)
    val grid = spark.range(m).select(col("id").cast("int").as("s"))
      .crossJoin(spark.range(kCodes).select(col("id").cast("int").as("code")))
    val sentinel = array_repeat(lit(Float.MaxValue), lit(dsub)).cast("array<float>")
    val seedW = Window.partitionBy(col("s"), pmod(col("vec_id"), lit(kCodes))).orderBy("vec_id")
    val seeds = subs.withColumn("rn", row_number().over(seedW)).filter(col("rn") === 1)
      .select(col("s"), pmod(col("vec_id"), lit(kCodes)).cast("int").as("code"),
        col("sv").as("cvec"))
    var books = grid.join(seeds, Seq("s", "code"), "left")
      .select(col("s"), col("code"), coalesce(col("cvec"), sentinel).as("cvec"))
    for (_ <- 1 to iters) {
      val a = assign(subs, books)
      val refined = subs.join(a, Seq("vec_id", "s"))
        .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
        // sum-then-cast-then-divide: the engine-portable mean
        // (see Vectors.centroidsOf — decimal÷bigint rounding rules
        // are engine-specific, IEEE double division is not)
        .groupBy("s", "code", "pos")
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(20, 10))).cast("double")
          / count(lit(1))).as("c"))
        .groupBy("s", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).cast("array<float>").as("cvec"))
      books = grid.join(refined, Seq("s", "code"), "left")
        .join(books.withColumnRenamed("cvec", "prev"), Seq("s", "code"), "left")
        .select(col("s"), col("code"), coalesce(col("cvec"), col("prev")).as("cvec"))
        // MATERIALIZE per round: the new plan embeds the previous
        // books subtree twice (assign + the prev fallback), so
        // without a lineage cut the plan doubles per iteration —
        // ~2^iters replication for a PUBLIC iters parameter. The
        // frame is m·kCodes rows (~128 at defaults): an eager
        // localCheckpoint is a few KB and keeps rounds linear.
        .localCheckpoint(true)
    }
    books
  }

  /** (vec_id, s, code): nearest codeword per subspace. min_by over a
    * partial-aggregatable struct — no window, the N·m·kCodes distance
    * rows collapse map-side to one row per (vec_id, s).
    */
  private def assign(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "s")
      .withColumn("d", expr("l2_sq(sv, cvec)"))
      .groupBy("vec_id", "s")
      .agg(expr("min_by(code, struct(d, code))").as("code"))

  /** (vec_id, codes ARRAY<INT> of length m): the compressed corpus. */
  private[graft] def encode(spark: SparkSession, e: DataFrame, books: DataFrame,
                            m: Int, dims: Int): DataFrame =
    assign(subvectors(e, m, dims), books)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))

  /** Per-query ADC lookup table: distance of each (subspace, codeword)
    * to the query's EXACT subvector, flattened to lut[s*kCodes + code]
    * (the dense layout pq_adc validates). One definition for all PQ
    * entries — ADVICE r08: the pasted copies had already drifted once.
    * `q` carries (vec_id, embedding); output is (query_id, lut).
    */
  private def lutsFor(q: DataFrame, books: DataFrame, m: Int, dims: Int): DataFrame =
    subvectors(q.select(col("vec_id"), col("embedding")), m, dims)
      .join(broadcast(books), "s")
      .withColumn("d", expr("l2_sq(sv, cvec)"))
      .groupBy(col("vec_id").as("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code"), col("d")))),
        x => x.getField("d")).as("lut"))

  /** ADC scan + per-query top-k (the q16 window shape): `scored`
    * carries (query_id, vec_id, codes, lut) — however the caller
    * paired queries with code rows (full crossJoin or cell-pruned
    * join). Ranking ascends squared-L2 ADC distance, vec_id
    * tie-breaks; self-pairs drop.
    */
  private def adcTopK(scored: DataFrame, k: Int, kCodes: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    scored
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", round(expr(s"pq_adc(codes, lut, $kCodes)"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("adc"), col("rk").cast("int").as("rk"))
      .orderBy("query_id", "rk")
  }

  /** Test seam: run the (LUT ⋈ ADC top-k) tail over an arbitrary
    * pre-joined (query_id, vec_id, codes) frame — PqSpec uses it to
    * replay the frozen-structure full scan that the incremental
    * index must equal.
    */
  private[graft] def frozenStructureScan(scored: DataFrame, q: DataFrame, books: DataFrame,
                                         k: Int, kCodes: Int, m: Int, dims: Int): DataFrame =
    adcTopK(scored.join(broadcast(lutsFor(q, books, m, dims)), "query_id"), k, kCodes)

  /** q67: PQ-compressed approximate top-k — build codebooks, encode
    * the corpus, scan CODES with the pq_adc lookup sum (asymmetric
    * distance: query subvectors stay exact, corpus is quantized).
    */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
             m: Int = 8, kCodes: Int = 16, iters: Int = 1): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    // books/codes are pure functions of (corpus, params) and identical
    // across q67 and q67b's builds — one live leaf copy per corpus
    // (r21, Shared.leafFrame; the q92b/q92e discipline)
    val books = graft.Shared.leafFrame(spark, s"pq_books:m=$m,k=$kCodes,it=$iters", Seq(e))(
      codebooks(spark, e, m, kCodes, dims, iters))
    val codes = graft.Shared.leafFrame(spark, s"pq_codes:m=$m,k=$kCodes,it=$iters", Seq(e))(
      encode(spark, e, books, m, dims))
    val q = e.filter(col("vec_id") < nQueries)
    val luts = lutsFor(q, books, m, dims)
    adcTopK(codes.crossJoin(broadcast(luts)), k, kCodes)
  }

  /** Persisted PQ index — the build/read split (the q48/q29c/q64b
    * pattern): codebooks + encoded corpus live on storage, so the
    * steady state pays ZERO build cost: read m·kCodes codebook rows
    * (broadcast) and the slim (vec_id, codes) table, scan. Lifecycle:
    * [[graft.IndexStore]]; m, kCodes and iters are identity.
    */
  def indexPath(spark: SparkSession, dir: String): String =
    VectorIndex.defaultPath(spark, dir) + "_pq"

  def index(m: Int = 8, kCodes: Int = 16, iters: Int = 1): IndexStore.Index =
    IndexStore.Index("pq", "embeddings", s"pq:m=$m,k=$kCodes,iters=$iters,arith=d2",
      Seq("books", "codes"))(flatBody(m, kCodes, iters, lit(true)))

  def buildIndex(spark: SparkSession, dir: String, path: String,
                 m: Int = 8, kCodes: Int = 16, iters: Int = 1): Unit =
    index(m, kCodes, iters).build(spark, dir, path)

  /** The flat layout's build body, shared by the full index and the
    * incremental base: books trained on, and codes covering, the
    * embeddings `keep` admits.
    */
  private def flatBody(m: Int, kCodes: Int, iters: Int, keep: Column)
                      (spark: SparkSession, dir: String, path: String): Seq[String] = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding").filter(keep)
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    codebooks(spark, e, m, kCodes, dims, iters)
      .write.mode("overwrite").parquet(s"$path/books")
    encode(spark, e, spark.read.parquet(s"$path/books"), m, dims)
      .write.mode("overwrite").parquet(s"$path/codes")
    dropDelta(spark, path)
    Nil
  }

  /** The IVF-PQ layout's build body (full index and incremental base):
    * exactly q67b's structure — same refinedCentroids seeds, same
    * top-1 assignCells, same codebooks — over the embeddings `keep`
    * admits, codes written cell-partitioned so each inverted list is
    * its own directory. Records the RESOLVED list count as `lists|N`:
    * the probe needs it for autoCoarse parity with q67b, and reading
    * it beats re-counting the corpus per probe.
    *
    * The repartition(cell) before the write is load-bearing, not
    * style: partitionBy splits each TASK's rows per cell, so without
    * it an nTasks×nLists build sprays nTasks small files into every
    * cell directory — ScaleProbe measured the 10× corpus (400 cells
    * × 32 tasks ≈ 12.8k files) turning the supposedly-flat steady-
    * state probe into 14s of file listing + footer reads. With the
    * shuffle each cell's list is a handful of files and the probe is
    * flat in corpus size, which is the entire point of the layout.
    */
  private def ivfPqBody(m: Int, kCodes: Int, iters: Int, nLists: Int, keep: Column)
                       (spark: SparkSession, dir: String, path: String): Seq[String] = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding").filter(keep)
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    val n = e.count()
    val lists = if (nLists > 0) nLists else math.max(16, (n / 125L).toInt)
    val cents = Vectors.refinedCentroids(e, lists, iters = 0)
    cents.select(col("c_cell").as("cell"), col("cvec"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    codebooks(spark, e, m, kCodes, dims, iters)
      .write.mode("overwrite").parquet(s"$path/books")
    val cells = Vectors.assignCells(e, cents, nProbe = 1, nCoarse = Vectors.autoCoarse(lists))
      .select("vec_id", "cell")
    encode(spark, e, spark.read.parquet(s"$path/books"), m, dims)
      .join(cells, "vec_id")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    dropDelta(spark, path)
    Seq(s"lists|$lists")
  }

  /** A rebuild obsoletes any incremental delta: its codes were encoded
    * under the OLD books/params (the incremental paths are keyed only
    * by deltaMod), and the overwrites wiped the `_folded` marker — a
    * stale codes_delta would union wrong-stride codes into every
    * subsequent scan. A no-op for the full indexes, which have none.
    */
  private def dropDelta(spark: SparkSession, path: String): Unit =
    IndexStore.fsFor(spark, path).delete(new org.apache.hadoop.fs.Path(s"$path/codes_delta"), true)

  /** The resolved list count the IVF-PQ build recorded. */
  private[graft] def storedLists(spark: SparkSession, path: String): Int =
    IndexStore.fact(spark, path, "lists").map(_.toInt).getOrElse(
      throw new IllegalStateException(s"IVF-PQ index at $path records no lists| fact"))

  private def compacted(spark: SparkSession, path: String): Boolean =
    IndexStore.fact(spark, path, "compacted").contains("true")

  /** q67c: the steady-state PQ scan — codes and codebooks come from
    * the persisted index (build-if-stale), the query builds its LUT
    * against the STORED books and scans the stored codes. Value-
    * identical to q67 at the same params (spec-pinned): same seeds,
    * same decimal means, same ADC arithmetic — persistence changes
    * where bytes live, never what they are.
    */
  def pqTopKIndexed(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
                    m: Int = 8, kCodes: Int = 16, iters: Int = 1): DataFrame = {
    val path = indexPath(spark, dir)
    index(m, kCodes, iters).ensure(spark, dir, path)
    val books = spark.read.parquet(s"$path/books")
    val codes = spark.read.parquet(s"$path/codes")
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    val q = e.filter(col("vec_id") < nQueries)
    val luts = lutsFor(q, books, m, dims)
    adcTopK(codes.crossJoin(broadcast(luts)), k, kCodes)
  }

  /** q67b: IVF-PQ — the faiss-style composition and the standard
    * billion-scale layout: coarse IVF cells prune WHICH vectors to
    * look at (q19b/q29b's cell machinery), PQ codes compress WHAT is
    * read per vector. A query ranks cells through the shared
    * two-level `assignCells` kernel, keeps nProbe cells, and
    * ADC-scans only those cells' code lists — scan cost
    * nProbe/nLists of the corpus × m bytes per vector, against
    * full-PQ's all-codes scan and exact search's all-floats scan.
    * Determinism: top-1 cell per vector (assignCells' 6dp ranking +
    * cell tie-break) ⇒ each (query, vector) pair appears at most
    * once; same ADC rounding and tie-breaks as q67. Rows-only;
    * PqSpec pins identical-twin co-assignment recovery and ADC value
    * agreement with the full scan on shared pairs.
    *
    * This entry builds cells + codebooks per call (the q41/q29b
    * build-included contract, honest about total cost); q67d
    * (`ivfPqTopKIndexed`) is the COMPOSED steady state — the same
    * structure persisted once and probed via partition-pruned reads.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
                m: Int = 8, kCodes: Int = 16, iters: Int = 1,
                nLists: Int = 0, nProbe: Int = 3): DataFrame =
    ivfPqTopKOn(spark, Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      k, nQueries, m, kCodes, iters, nLists, nProbe)

  /** The q67b pipeline over an arbitrary (vec_id, embedding) frame —
    * the seam q67g's planted corpus rides (the dedupEmbeddingIvfOn
    * factoring applied to the IVF-PQ probe).
    */
  private[graft] def ivfPqTopKOn(spark: SparkSession, e: DataFrame, k: Int, nQueries: Int,
                                 m: Int, kCodes: Int, iters: Int,
                                 nLists: Int, nProbe: Int): DataFrame = {
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    val n = e.count()
    val lists = if (nLists > 0) nLists else math.max(16, (n / 125L).toInt)
    val cents = Vectors.refinedCentroids(e, lists, iters = 0)
    // cells/books/codes are pure functions of (corpus, params): one
    // live leaf copy per corpus — q67 shares books/codes (same keys),
    // q67g's planted corpus hashes to its own entries (r21)
    val cells = graft.Shared.leafFrame(spark, s"ivfpq_cells:l=$lists", Seq(e))(
      Vectors.assignCells(e, cents, nProbe = 1, nCoarse = Vectors.autoCoarse(lists))
        .select("vec_id", "cell"))
    val books = graft.Shared.leafFrame(spark, s"pq_books:m=$m,k=$kCodes,it=$iters", Seq(e))(
      codebooks(spark, e, m, kCodes, dims, iters))
    val coded = graft.Shared.leafFrame(spark, s"pq_codes:m=$m,k=$kCodes,it=$iters", Seq(e))(
      encode(spark, e, books, m, dims)).join(cells, "vec_id")
    val q = e.filter(col("vec_id") < nQueries)
    val probes = Vectors.assignCells(q, cents, nProbe = nProbe,
        nCoarse = Vectors.autoCoarse(lists))
      .select(col("vec_id").as("query_id"), col("cell"))
    val luts = lutsFor(q, books, m, dims)
    adcTopK(coded.join(probes, Seq("cell")).join(broadcast(luts), "query_id"), k, kCodes)
  }

  /** q67g: the ORACLE-EXACT graduation of the PQ family — the
    * q27b/q28b/q29d planting pattern applied to the ADC FLOOR (the
    * reference surface being certified: vector_store.py:105-168's
    * search contract). The corpus plus a verbatim copy of every query
    * vector (vec_id < nQueries re-emitted at vec_id + idOffset, one
    * scan via explode) runs q67b's OWN IVF-PQ probe at k=1.
    *
    * Why the gate closes, with no probabilistic caveat on the pair:
    *   - encode is a pure per-vector function of the (whatever)
    *     trained codebooks, so copy and original carry IDENTICAL
    *     codes; cell assignment is likewise pure, so the copy sits in
    *     the query's own top-1 cell — inside any nProbe ≥ 1 probe set.
    *   - a query's LUT entry at its OWN code is the per-subspace
    *     minimum (code = argmin over that subspace's centroids), so
    *     the copy's ADC distance IS the floor: no corpus vector can
    *     score strictly lower, and the self-pair (the only equal-or-
    *     lower tie by id) is dropped by the scan contract.
    *   - ties AT the floor require an exact m-way code collision
    *     (kCodes^m ≈ 4e9 code words at the defaults) — measured zero
    *     on the gate corpora, the same empirical leg q29d/q44 stand on.
    * So top-1 per query = its planted copy, and the DuckDB oracle is
    * the trivial planted-pair SELECT — no PQ replay needed. adc stays
    * out of the output (engine-internal float; the PAIR is the
    * contract). q67d ≡ q67b is separately spec-pinned (PqSpec), so
    * this one EXACT row certifies the shared ADC/cell machinery the
    * whole q67 family rides.
    */
  def ivfPqPlanted(spark: SparkSession, dir: String, nQueries: Int = 5,
                   idOffset: Long = 1000000L, m: Int = 8, kCodes: Int = 16,
                   iters: Int = 1, nLists: Int = 0, nProbe: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val planted = e.select(
      explode(when(col("vec_id") < nQueries,
          array(col("vec_id"), col("vec_id") + idOffset))
        .otherwise(array(col("vec_id")))).as("vec_id"),
      col("embedding"))
    ivfPqTopKOn(spark, planted, k = 1, nQueries, m, kCodes, iters, nLists, nProbe)
      .select(col("query_id"), col("vec_id"), col("rk"))
  }

  /** The COMPOSED persisted IVF-PQ index — one layout carrying both
    * halves of the faiss-IVFPQ steady state (the piece VERDICT r08
    * flagged as named-but-not-shipped):
    *
    *   <path>/books/        — PQ codebooks (m·kCodes rows, broadcast)
    *   <path>/centroids/    — coarse cell centroids (nLists rows)
    *   <path>/cells/cell=X/ — the corpus's INVERTED LISTS as
    *                          partition directories, each row a slim
    *                          (vec_id, codes) — PQ codes INSTEAD of
    *                          raw vectors, so a probed cell's read is
    *                          ~m ints per vector, not d floats.
    *
    * A probe ranks nProbe cells against the stored centroids (tiny
    * broadcast), collects the probed cell ids (bounded by
    * nQueries·nProbe — knowing which inverted lists to open IS the
    * index-probe contract, the q48 pattern), and partition-pruning
    * skips every other cell's files: scan cost is
    * (nProbe/nLists)·m bytes per corpus vector with ZERO build work.
    * Lifecycle: [[graft.IndexStore]]; m, kCodes, iters and nLists (as
    * passed) are identity.
    */
  def ivfPqIndexPath(spark: SparkSession, dir: String): String =
    VectorIndex.defaultPath(spark, dir) + "_ivfpq"

  def ivfPqIndex(m: Int = 8, kCodes: Int = 16, iters: Int = 1, nLists: Int = 0): IndexStore.Index =
    IndexStore.Index("ivfpq", "embeddings",
      s"ivfpq:m=$m,k=$kCodes,iters=$iters,nLists=$nLists,arith=d2",
      Seq("books", "centroids", "cells"))(ivfPqBody(m, kCodes, iters, nLists, lit(true)))

  /** The audited IVF-PQ probe tail, shared by ivfPqTopKIndexed (q67d)
    * and ivfPqIncrTopK (q67f) so the next probe variant cannot drift
    * from this shape (VERDICT r13 item 6): stored centroids rank
    * nProbe cells per query; the probe set is collected ONCE — it is
    * bounded by nQueries·nProbe rows, and BOTH its consumers want it
    * static (the partition-pruning filter needs concrete cell values
    * at plan time, and the scan-side join is cheapest as a broadcast
    * local relation; the alternative re-runs the whole assignCells
    * subtree — centroid ranking, windows — inside the probe query's
    * DAG); `codesFor` maps the probed cell values to the caller's
    * code store pruned to exactly those cells (one parquet store for
    * q67d, base ∪ delta for q67f); stored codebooks feed the LUT and
    * the ADC scan touches codes alone.
    */
  private def probeAdcTopK(spark: SparkSession, q: DataFrame, cents: DataFrame,
                           books: DataFrame, lists: Int, nProbe: Int,
                           m: Int, dims: Int, k: Int, kCodes: Int)
                          (codesFor: Seq[Any] => DataFrame): DataFrame = {
    val probeRows = Vectors.assignCells(q, cents, nProbe = nProbe,
        nCoarse = Vectors.autoCoarse(lists))
      .select(col("vec_id").as("query_id"), col("cell"))
    val collected = probeRows.collect()
    val probedCells = collected.map(_.get(1)).distinct.toSeq
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), probeRows.schema)
    val coded = codesFor(probedCells)
    val luts = lutsFor(q, books, m, dims)
    adcTopK(coded.join(broadcast(probes), Seq("cell")).join(broadcast(luts), "query_id"), k, kCodes)
  }

  /** q67d: probe the composed persisted IVF-PQ index — build if
    * stale (the nightly build), then the steady-state read: stored
    * centroids rank nProbe cells per query, partition pruning opens
    * ONLY those cells' code files, stored codebooks feed the LUT, and
    * the ADC scan touches codes alone. Value-identical to q67b at the
    * same params (spec-pinned, the q67c ≡ q67 rule): same seeds, same
    * decimal means, same top-1 cell per corpus vector, same ADC
    * arithmetic — persistence changes where bytes live, never what
    * they are.
    */
  def ivfPqTopKIndexed(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
                       m: Int = 8, kCodes: Int = 16, iters: Int = 1,
                       nLists: Int = 0, nProbe: Int = 3): DataFrame = {
    val path = ivfPqIndexPath(spark, dir)
    ivfPqIndex(m, kCodes, iters, nLists).ensure(spark, dir, path)
    val books = spark.read.parquet(s"$path/books")
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell").as("c_cell"), col("cvec"))
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // dims from the STORED codebooks (m·dsub), not a corpus scan —
    // the steady state must touch only the index + the query rows
    val dims = m * books.select(size(col("cvec"))).head.getInt(0)
    // lists must match the build's resolution exactly (autoCoarse is
    // part of the probe RANKING and q67b-parity depends on it)
    val lists = storedLists(spark, path)
    val q = e.filter(col("vec_id") < nQueries)
    probeAdcTopK(spark, q, cents, books, lists, nProbe, m, dims, k, kCodes) { cells =>
      spark.read.parquet(s"$path/cells").filter(col("cell").isin(cells: _*))
    }
  }

  /** q67e: INCREMENTAL PQ encode — the nightly WRITE path of the PQ
    * steady state (the q64b/Incremental.embedNew pattern applied to
    * the vector index; PqStream is the matching read path). Standard
    * PQ practice at scale: codebooks are TRAINED ONCE on the base
    * corpus and FROZEN — new vectors encode against the stored books
    * (quantization is a pure per-vector function, so increments
    * commute with full encodes), and the existing codes are never
    * re-read or rewritten. The "nightly batch" is derived like q64b:
    * vec_id ≡ 0 (mod deltaMod) is the delta, the rest is the base
    * corpus the index was built over.
    *
    * The delta run touches: the delta's embedding rows (filter pushed
    * to the scan), the m·kCodes stored codebooks, nothing else —
    * at 100 TB that is the difference between encoding the batch and
    * re-encoding the lake. PqSpec pins the laws: delta-only output,
    * frozen-books consistency (a delta vector equal to a base vector
    * gets the base vector's exact stored codes), base codes
    * byte-untouched, and append ≡ full-encode-under-frozen-books on
    * the union. Rows-only (codes are engine-internal).
    */
  def incrIndexPath(spark: SparkSession, dir: String, deltaMod: Int): String =
    indexPath(spark, dir) + s"_incr$deltaMod"

  /** The incremental base: the flat layout over ONLY the base corpus
    * (vec_id % deltaMod != 0). deltaMod is identity — it decides what
    * "base" means, so it changes content.
    */
  def incrIndex(m: Int = 8, kCodes: Int = 16, iters: Int = 1, deltaMod: Int = 16): IndexStore.Index =
    IndexStore.Index("pq_incr_base", "embeddings",
      s"pqincr:m=$m,k=$kCodes,iters=$iters,deltaMod=$deltaMod,arith=d2",
      Seq("books", "codes"))(flatBody(m, kCodes, iters, col("vec_id") % deltaMod =!= 0))

  /** q67e driver entry: the delta's codes under the FROZEN base
    * books. Builds the base index if stale; the steady state reads
    * m·kCodes codebook rows and scans only the delta's embeddings.
    * Does NOT mutate the index (the driver runs entries repeatedly);
    * `appendDelta` is the idempotent write that follows in a real
    * nightly run.
    */
  def pqEncodeIncremental(spark: SparkSession, dir: String, deltaMod: Int = 16,
                          m: Int = 8, kCodes: Int = 16, iters: Int = 1): DataFrame = {
    val path = incrIndexPath(spark, dir, deltaMod)
    incrIndex(m, kCodes, iters, deltaMod).ensure(spark, dir, path)
    val books = spark.read.parquet(s"$path/books")
    val dims = m * books.select(size(col("cvec"))).head.getInt(0)
    val delta = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .filter(col("vec_id") % deltaMod === 0)
    encode(spark, delta, books, m, dims).orderBy("vec_id")
  }

  /** The idempotent nightly write: delta codes land in their own
    * overwrite-mode directory next to the base codes (append-mode
    * into the base dir would duplicate on re-run); readers scan
    * base ∪ delta. Kept out of the driver entry so repeated query
    * runs cannot grow the index.
    */
  def appendDelta(spark: SparkSession, dir: String, deltaMod: Int = 16,
                  m: Int = 8, kCodes: Int = 16, iters: Int = 1): Unit = {
    val path = incrIndexPath(spark, dir, deltaMod)
    incrIndex(m, kCodes, iters, deltaMod).ensure(spark, dir, path)
    // after a compaction the (residue-derived) delta is already IN the
    // base store — re-appending it would duplicate every delta vec_id
    // in incrCodes. The compacted fact (or the _folded marker, for a
    // fold whose watermark write never ran) marks exactly this state;
    // a rebuild clears both.
    if (compacted(spark, path) || IndexStore.folded(spark, s"$path/codes")) return
    pqEncodeIncremental(spark, dir, deltaMod, m, kCodes, iters)
      .write.mode("overwrite").parquet(s"$path/codes_delta")
  }

  /** Nightly-steady-state COMPACTION of the flat incremental index:
    * fold `codes_delta` into the base `codes` store and rotate the
    * watermark with a `compacted|true` fact (facts are not identity,
    * so the index stays fresh; `appendDelta`
    * reads the line as "the delta is already folded in" and no-ops
    * instead of re-duplicating it). Bounded file counts: N appends
    * never proliferate directories here (the delta dir is a single
    * overwrite target), and compaction removes even that one —
    * `incrCodes` afterwards is a single-store scan. Value-identical
    * before/after (CompactionSpec pins it): the fold is a pure union
    * of disjoint vec_id sets.
    */
  def compactIncr(spark: SparkSession, dir: String, deltaMod: Int = 16,
                  m: Int = 8, kCodes: Int = 16, iters: Int = 1): Unit = {
    val path = incrIndexPath(spark, dir, deltaMod)
    val index = incrIndex(m, kCodes, iters, deltaMod)
    require(index.fresh(spark, dir, path),
      "compactIncr requires a fresh base index (build/append first)")
    // identity at ENTRY (the snapshot-before-read rule, like every
    // build): the fold must publish under the identity it verified —
    // a source regenerated DURING the fold must leave the index
    // stale-marked, never stamp old codes with the new source token
    val id = index.identity(spark, dir)
    val hasDelta = IndexStore.complete(spark, s"$path/codes_delta")
    val folded = IndexStore.folded(spark, s"$path/codes")
    if (!hasDelta && !folded) return
    // fold only when the base does not already contain the delta —
    // the _folded marker publishes atomically with the folded data
    // (written INTO the staging dir), so every crash point below
    // (before the delta delete, between delete and watermark) leaves
    // a state this re-run converges from instead of double-counting
    if (hasDelta && !folded) {
      IndexStore.swapDir(spark, path, "codes") { tmp =>
        spark.read.parquet(s"$path/codes")
          .unionAll(spark.read.parquet(s"$path/codes_delta"))
          .write.parquet(tmp)
        IndexStore.markFolded(spark, tmp)
      }
    }
    dropDelta(spark, path)
    IndexStore.writeWatermark(spark, path, id, Seq("compacted|true"))
  }

  /** All codes the incremental index currently holds (base ∪ any
    * appended delta).
    */
  def incrCodes(spark: SparkSession, dir: String, deltaMod: Int = 16): DataFrame = {
    val path = incrIndexPath(spark, dir, deltaMod)
    val base = spark.read.parquet(s"$path/codes")
    // the _folded marker means the base already CONTAINS the delta
    // (a fold published but its delta-dir cleanup may not have run) —
    // unioning it again would double every delta vec_id
    if (!IndexStore.folded(spark, s"$path/codes") &&
        IndexStore.complete(spark, s"$path/codes_delta"))
      base.unionAll(spark.read.parquet(s"$path/codes_delta"))
    else base
  }

  /** q67f: INCREMENTAL COMPOSED IVF-PQ — q67e's frozen-structure
    * increment applied to the FLAGSHIP layout (q67d), closing the
    * last wholesale-rebuild gap: when the corpus grows, neither the
    * coarse centroids nor the codebooks nor the base code lists are
    * touched — the derived nightly batch (vec_id ≡ 0 mod deltaMod)
    * is assigned to the FROZEN cells (top-1 two-level, the same rule
    * the base build used) and encoded with the FROZEN books, and its
    * cell-partitioned codes land in an idempotent `codes_delta`
    * directory beside the base lists. A probe then scans base ∪
    * delta with the SAME partition pruning on both sides.
    *
    * The invariant that makes this sound (spec-pinned): assignment
    * and encoding are pure per-vector functions of (vector, frozen
    * structure), so the incremented index is value-identical to an
    * index hypothetically built over the full corpus UNDER THE SAME
    * structure — increments commute, order of arrival is irrelevant,
    * and a query's results after the nightly append are exactly the
    * full-scan-under-frozen-structure results. Rows-only.
    */
  def ivfPqIncrPath(spark: SparkSession, dir: String, deltaMod: Int): String =
    ivfPqIndexPath(spark, dir) + s"_incr$deltaMod"

  /** The composed incremental base: q67d's exact structure —
    * centroids, books, cell-partitioned codes — trained on and
    * covering ONLY the base corpus (vec_id % deltaMod != 0).
    */
  def ivfPqIncrIndex(m: Int = 8, kCodes: Int = 16, iters: Int = 1, nLists: Int = 0,
                     deltaMod: Int = 16): IndexStore.Index =
    IndexStore.Index("ivfpq_incr_base", "embeddings",
      s"ivfpqincr:m=$m,k=$kCodes,iters=$iters,nLists=$nLists,deltaMod=$deltaMod,arith=d2",
      Seq("books", "centroids", "cells"))(
      ivfPqBody(m, kCodes, iters, nLists, col("vec_id") % deltaMod =!= 0))

  /** The nightly append: delta vectors assigned to the FROZEN cells
    * and encoded with the FROZEN books, written cell-partitioned to
    * an overwrite-mode delta directory (idempotent — re-running the
    * same batch cannot duplicate).
    */
  // NB: no nProbe parameter — delta ASSIGNMENT is top-1 by contract
  // (one cell per vector; the probe's at-most-once pairing depends on
  // it). The previous dead parameter invited threading probe width
  // into the append, which would break that invariant.
  def appendDeltaIvfPq(spark: SparkSession, dir: String, deltaMod: Int = 16,
                       m: Int = 8, kCodes: Int = 16, iters: Int = 1,
                       nLists: Int = 0): Unit = {
    val path = ivfPqIncrPath(spark, dir, deltaMod)
    ivfPqIncrIndex(m, kCodes, iters, nLists, deltaMod).ensure(spark, dir, path)
    // post-compaction the delta already lives in the base cell lists —
    // re-appending would duplicate every delta vec_id (same rule as
    // the flat index's appendDelta)
    if (compacted(spark, path) || IndexStore.folded(spark, s"$path/cells")) return
    val books = spark.read.parquet(s"$path/books")
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell").as("c_cell"), col("cvec"))
    val dims = m * books.select(size(col("cvec"))).head.getInt(0)
    val lists = storedLists(spark, path)
    val delta = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .filter(col("vec_id") % deltaMod === 0)
    val cells = Vectors.assignCells(delta, cents, nProbe = 1,
        nCoarse = Vectors.autoCoarse(lists))
      .select("vec_id", "cell")
    encode(spark, delta, books, m, dims)
      .join(cells, "vec_id")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes_delta")
  }

  /** COMPACTION of the composed incremental index: fold the
    * cell-partitioned `codes_delta` into the base `cells` lists
    * (repartition on cell — each folded inverted list is rewritten as
    * one partition directory, so file counts stay bounded at
    * O(nLists) no matter how many nightly cycles ran) and rotate the
    * watermark with the `compacted|true` fact, preserving the stored
    * `lists|N` fact. Probes before/after are
    * value-identical (CompactionSpec): base ∪ delta and folded-base
    * hold the same (vec_id, codes, cell) rows, and partition pruning
    * applies to the folded store exactly as it did to both halves.
    */
  def compactIvfPqIncr(spark: SparkSession, dir: String, deltaMod: Int = 16,
                       m: Int = 8, kCodes: Int = 16, iters: Int = 1,
                       nLists: Int = 0): Unit = {
    val path = ivfPqIncrPath(spark, dir, deltaMod)
    val index = ivfPqIncrIndex(m, kCodes, iters, nLists, deltaMod)
    require(index.fresh(spark, dir, path),
      "compactIvfPqIncr requires a fresh base index (build/append first)")
    // identity at ENTRY — the snapshot-before-read rule (see compactIncr)
    val id = index.identity(spark, dir)
    val hasDelta = IndexStore.complete(spark, s"$path/codes_delta")
    val folded = IndexStore.folded(spark, s"$path/cells")
    if (!hasDelta && !folded) return
    val lists = storedLists(spark, path)
    if (hasDelta && !folded) {
      val cols = Seq(col("vec_id"), col("codes"), col("cell"))
      IndexStore.swapDir(spark, path, "cells") { tmp =>
        spark.read.parquet(s"$path/cells").select(cols: _*)
          .unionAll(spark.read.parquet(s"$path/codes_delta").select(cols: _*))
          .repartition(col("cell"))
          .write.partitionBy("cell").parquet(tmp)
        IndexStore.markFolded(spark, tmp)
      }
    }
    dropDelta(spark, path)
    IndexStore.writeWatermark(spark, path, id, Seq(s"lists|$lists", "compacted|true"))
  }

  /** q67f driver entry: ensure the base index + nightly delta exist,
    * then probe base ∪ delta — the q67d probe shape with BOTH code
    * stores partition-pruned to the probed cells. Every structural
    * input (centroids, books, lists) is frozen and stored; the only
    * per-night work is the delta's own assignment + encode.
    */
  def ivfPqIncrTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
                    m: Int = 8, kCodes: Int = 16, iters: Int = 1,
                    nLists: Int = 0, nProbe: Int = 3, deltaMod: Int = 16): DataFrame = {
    val path = ivfPqIncrPath(spark, dir, deltaMod)
    // a compacted index is complete WITHOUT a delta dir — only append
    // when the index is stale or genuinely missing its delta (the
    // cells-dir _folded marker covers the crash window where a fold
    // published but the watermark line was never written)
    if (!ivfPqIncrIndex(m, kCodes, iters, nLists, deltaMod).fresh(spark, dir, path) ||
        !(IndexStore.complete(spark, s"$path/codes_delta") || compacted(spark, path) ||
          IndexStore.folded(spark, s"$path/cells")))
      appendDeltaIvfPq(spark, dir, deltaMod, m, kCodes, iters, nLists)
    val books = spark.read.parquet(s"$path/books")
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell").as("c_cell"), col("cvec"))
    val dims = m * books.select(size(col("cvec"))).head.getInt(0)
    val lists = storedLists(spark, path)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < nQueries)
    probeAdcTopK(spark, q, cents, books, lists, nProbe, m, dims, k, kCodes) { cells =>
      // unionAll is positional — pin the column order on both stores
      val cols = Seq(col("vec_id"), col("codes"), col("cell"))
      val baseCodes = spark.read.parquet(s"$path/cells").select(cols: _*)
      // _folded marker: the base already holds the delta (fold
      // published, cleanup possibly unfinished) — unioning would
      // double-count every delta vec_id in the ADC ranking
      (if (!IndexStore.folded(spark, s"$path/cells") &&
            IndexStore.complete(spark, s"$path/codes_delta"))
          baseCodes.unionAll(spark.read.parquet(s"$path/codes_delta").select(cols: _*))
        else baseCodes) // compacted: the folded base holds everything
        .filter(col("cell").isin(cells: _*))
    }
  }
}
