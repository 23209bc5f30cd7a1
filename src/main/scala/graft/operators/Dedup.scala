package graft.operators

import graft.{IndexStore, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM-pipeline workloads (SURVEY.md §2 D).
  *
  * The reference's near-duplicate surface is embedding-cosine
  * clustering (vector_store.py similarity search + TextPreprocessor
  * segment merging); this family adds the standard scale paths:
  * exact (hash), n-gram Jaccard, MinHash-LSH, SimHash, and
  * embedding-cosine blocking.
  *
  * Scale design: nothing here is O(n²) on the corpus. Every
  * candidate generator is a shuffle keyed on a block id (min-shingle,
  * LSH band bucket, simhash band, label) so only same-block rows
  * meet; exact verification runs on candidates only. Block keys are
  * hash-derived ⇒ near-uniform ⇒ skew-safe; AQE handles stragglers.
  */
object Dedup {

  /** doc_id + lex-sorted shingle array via the native BigramShingles
    * expression — one codegen pass, no interpreted HOF chain (see
    * functions.BigramShingles; ShinglesParitySpec pins equivalence to
    * the declarative twin above). Degenerate docs (< 2 tokens ⇔ no
    * bigrams ⇔ empty array from the expression) are filtered on the
    * cheap token count, BEFORE the shingles: a downstream filter on
    * size(sh) would be pushed through the projection by Catalyst and
    * re-evaluate the shingle expression inside the filter.
    */
  /** Default degenerate-clique guard for the COMPOSED pipelines
    * (q39/q53/q75/q77 — VERDICT r17 item 4): the standalone pair
    * operators keep MaxValue (their contract is the full listing, and
    * their oracles check it), but a pipeline that runs near-dup over
    * a corpus where exact collapse may not have run first gets the
    * maxBlock/maxBucket star belt ON by default. 1000 is far above
    * any observed gate-scale block (max min-shingle block at sf0.1:
    * 264) so every oracle row is untouched, while a mega-duplication
    * clique (the +20k verbatim-copies probe) is bounded to C−1
    * anchor checks instead of a Θ(C²) listing.
    */
  val ComposedMaxBlock: Int = 1000

  /** Per-session accumulator counting blocks whose size exceeded
    * maxBlock in the most recent dedupNgramPairs plan (ADVICE r18):
    * the star belt is output-equivalent ONLY for verbatim cliques —
    * on an oversized non-clique block it drops member–member pairs by
    * design — so when the approximation actually engages, the fact
    * must be observable instead of silent. Re-created per
    * dedupNgramPairs call (last call wins); read it AFTER an action
    * on the returned frame, like any accumulator.
    */
  private val OversizedFamily = "dedup.oversized"

  /** Blocks that exceeded maxBlock in the last executed
    * dedupNgramPairs action on this session (0 when the belt never
    * engaged — the invariant every oracle run asserts implicitly).
    *
    * Read this as ENGAGED (> 0) vs NOT ENGAGED (== 0), never as an
    * exact block count (ADVICE r19): the accumulator updates inside a
    * transformation, so task retries, speculative execution, or a
    * second action on the same frame can double-count — Spark only
    * guarantees exactly-once accumulation inside actions. The ==0
    * reading is reliable (no retry can manufacture an update that
    * never happened); any >0 reading means the belt really engaged at
    * least once.
    */
  def oversizedBlockCount(spark: SparkSession): Long =
    graft.Shared.peek[org.apache.spark.util.LongAccumulator](spark, OversizedFamily, spark)
      .map(a => a.value: Long).getOrElse(0L)

  private[graft] def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShinglesOn(spark, Tables.documents(spark, dir))

  private[graft] def docShinglesOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    docs
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), expr("shingles(text)").as("sh"))
  }

  /** The MinHash-LSH banding layout over a `sig` column — ONE
    * definition for every consumer, batch (dedupMinHashOn,
    * dedupMinHashIncremental) and streaming (via
    * DecontamStream.bandCols): band buckets are cross-operator
    * identity, so the layout must not be able to drift between
    * spellings.
    */
  private[graft] def bandCols(k: Int, bands: Int): Column = {
    val rows = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))))
  }

  /** The q44 planting pattern on `documents`: every `every`-th doc is
    * re-emitted verbatim under doc_id + idOffset, in ONE scan via
    * explode (a self-union would recompute the scan per branch).
    */
  private[graft] def plantedDocs(spark: SparkSession, dir: String,
                          every: Int, idOffset: Long): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(when(col("doc_id") % every === 0,
          array(col("doc_id"), col("doc_id") + idOffset))
        .otherwise(array(col("doc_id")))).as("doc_id"),
        col("text"))

  /** q25: exact dedup with survivors — group identical texts by
    * content hash, keep min doc_id (the classic first-writer-wins).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep_doc_id"))
      .orderBy("keep_doc_id")

  /** q26: n-gram Jaccard near-dup pairs, blocked on the
    * lexicographic min shingle (a 1-permutation MinHash with the
    * identity hash — engine-independent, so oracle-exact). Pairs in
    * the same block with bigram-set Jaccard ≥ threshold.
    */
  private[operators] case class DocShingles(doc_id: Long, sh: Array[String], blk: String)
  private[operators] case class NgramPair(doc_a: Long, doc_b: Long, jac: Double)

  def dedupNgram(spark: SparkSession, dir: String, threshold: Double = 0.5,
                 maxBlock: Int = Int.MaxValue): DataFrame =
    dedupNgramOn(spark, docShingles(spark, dir), threshold, maxBlock)

  /** dedupNgram over a caller-supplied (doc_id, sh) shingle frame —
    * q39b passes exact-dedup SURVIVORS here (the composition order §4
    * prescribes and the r16 mega-dup probe prices), so the blocking
    * never sees a verbatim clique.
    *
    * `maxBlock` — the min-shingle twin of dedupMinHashOn's `maxBucket`
    * degenerate-band star (VERDICT r16 item 5): under mega-duplication
    * every verbatim copy shares the min shingle, so one block holds
    * the whole clique and the in-group listing is Θ(C²) by
    * construction. A block larger than maxBlock verifies only
    * anchor-vs-member (the min-id star, C−1 exact Jaccard checks)
    * instead of all pairs. Connectivity — what q53/q75 consume — is
    * preserved whenever the oversized block is one near-dup clique
    * containing the anchor (the verbatim-copy case: jac(anchor, m) =
    * 1 for every member); the full pair LISTING contract is knowingly
    * narrowed, so the default (MaxValue) leaves every oracle path
    * untouched. Composition order (exact-dedup first — q39b) remains
    * the primary prescription; this is the belt for corpora where
    * exact collapse can't run first.
    */
  private[graft] def dedupNgramOn(spark: SparkSession, shingled: DataFrame,
                                  threshold: Double = 0.5,
                                  maxBlock: Int = Int.MaxValue): DataFrame =
    dedupNgramPairs(spark, shingled, threshold, maxBlock)
      .orderBy("doc_a", "doc_b")

  /** dedupNgramOn WITHOUT the presentation sort — the spelling for
    * internal consumers (CC spines, drop-set distincts, q77b's
    * canonical pick) that immediately re-shuffle the pairs anyway:
    * the q26-entry orderBy costs a range-partition sample job plus a
    * sort per call, pure overhead when the next operator is a
    * groupBy/distinct/join.
    */
  private[graft] def dedupNgramPairs(spark: SparkSession, shingled: DataFrame,
                                     threshold: Double = 0.5,
                                     maxBlock: Int = Int.MaxValue): DataFrame = {
    require(maxBlock >= 2, s"maxBlock must be >= 2: $maxBlock")
    import spark.implicits._
    val oversized = spark.sparkContext.longAccumulator("graft.dedup.oversizedBlocks")
    graft.Shared.put(spark, OversizedFamily, spark, oversized)
    // Each doc's shingle array shuffles ONCE to its block and all
    // candidate pairs form in-memory per block — a self-join instead
    // duplicates every array into every candidate pair row (observed
    // ~126x shuffle amplification at sf0.1). Blocks are bounded (docs
    // sharing one min-shingle); the linear merge keeps a pair O(|sh|).
    val sh = shingled
      .withColumn("blk", element_at(col("sh"), 1)) // min shingle of a sorted array
      .as[DocShingles]
    sh.groupByKey(_.blk)
      .flatMapGroups { (_, it) =>
        val docs = it.toArray.sortBy(_.doc_id)
        // Candidate-kill bounds (r18): the smallest intersection that
        // can still ROUND to ≥ threshold at 6dp is
        //   c ≥ (t−5e-7)(la+lb)/(1+t−5e-7)
        // (roundHalfUp6(x) ≥ t ⇒ x ≥ t−5e-7). With a −1 safety
        // margin this is a pure NECESSARY condition, so candidates
        // are skipped outright when even min(la,lb) can't reach it
        // (size filter) or abandoned mid-merge once c plus the
        // remaining overlap can't (positional bound) — survivors
        // still get the exact count + 6dp rounding, so the output
        // listing is bit-identical. On random-corpus blocks most
        // candidates sit at jac ≈ 0 and exit after ~⅓ of the merge.
        val tEff = threshold - 5e-7
        def neededC(la: Int, lb: Int): Int =
          if (tEff <= 0) 0
          else math.max(0, math.ceil(tEff * (la + lb) / (1.0 + tEff)).toInt - 1)
        def verified(a: DocShingles, b: DocShingles): Iterator[NgramPair] = {
          val la = a.sh.length; val lb = b.sh.length
          val need = neededC(la, lb)
          if (math.min(la, lb) < need) Iterator.empty
          else {
            val c = boundedIntersectCount(a.sh, b.sh, need)
            // raw prefilter before the BigDecimal round (the
            // pairsFromCells rule): only raws that could still round
            // up to the threshold pay the allocation
            if (c < 0) Iterator.empty
            else {
              val raw = c.toDouble / (la + lb - c)
              if (raw < tEff) Iterator.empty
              else {
                val jac = roundHalfUp6(raw)
                if (jac >= threshold) Iterator.single(NgramPair(a.doc_id, b.doc_id, jac))
                else Iterator.empty
              }
            }
          }
        }
        if (docs.length > maxBlock) {
          // degenerate-block star (see maxBlock doc): linear
          // anchor-vs-member verification, never the Θ(C²) listing —
          // counted so the engaged approximation is never silent
          oversized.add(1)
          docs.iterator.drop(1).flatMap(b => verified(docs(0), b))
        }
        else
          for {
            i <- docs.indices.iterator
            j <- (i + 1 until docs.length).iterator
            p <- verified(docs(i), docs(j))
          } yield p
      }
      .toDF("doc_a", "doc_b", "jac")
  }

  /** sortedIntersectCount with the positional abort: returns −1 as
    * soon as c + min(remaining) proves the count cannot reach `need`
    * (need = 0 ⇒ never aborts — the plain full merge).
    */
  private def boundedIntersectCount(x: Array[String], y: Array[String], need: Int): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      if (c + math.min(x.length - i, y.length - j) < need) return -1
      val cmp = x(i).compareTo(y(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 } else if (cmp < 0) i += 1 else j += 1
    }
    c
  }

  /** Linear merge count over two sorted string arrays (JVM twin of
    * functions.IntersectCountSorted, for typed group processing).
    */
  private def sortedIntersectCount(x: Array[String], y: Array[String]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      val cmp = x(i).compareTo(y(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 } else if (cmp < 0) i += 1 else j += 1
    }
    c
  }

  /** Matches Spark round() / DuckDB round(): HALF_UP at 6dp. */
  private[operators] def roundHalfUp6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** q27: MinHash-LSH near-dup pairs. k=32 permutations, 8 bands × 4
    * rows: docs sharing any band bucket become candidates, then exact
    * Jaccard ≥ threshold verifies (no false positives survive; band
    * recall at j=0.5 is 1-(1-0.5^4)^8 ≈ 0.4, j=0.9 ≈ 0.998 — tuned
    * for "catch true near-dups"). GRADUATED to ORACLE-EXACT in r15:
    * the DuckDB oracle is the brute-force all-pairs Jaccard at the
    * same threshold (algorithm-independent truth) — passing certifies
    * total banding recall on the gate corpora, where every true pair
    * sits at j ≥ 0.909 and recovery is deterministic; a missed pair
    * would FAIL the row-count compare, never pass silently.
    */
  private[operators] case class BandedDoc(doc_id: Long, sh: Array[String], band: Int, bucket: String)
  private[operators] case class BandRow(doc_id: Long, band: Int, bucket: String)

  def dedupMinHash(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   k: Int = 32, bands: Int = 8,
                   maxBucket: Int = Int.MaxValue): DataFrame =
    dedupMinHashOn(spark, docShingles(spark, dir), threshold, k, bands, maxBucket)

  /** q27b: the ORACLE-EXACT twin of q27 (the q44 graduation pattern).
    * Input is `documents` plus planted verbatim copies, same 8×4
    * banding as q27. The DuckDB brute-force Jaccard join over the
    * same derived input is a valid exact oracle because banding
    * recall on the gate corpora is total AND deterministic: planted
    * copies have identical signatures (recovery certain), and the
    * testdata's own near-dup pairs all sit at Jaccard ≥ 0.909 — no
    * pair lives in [0.5, 0.909) — where a miss has a-priori
    * probability (1−j⁴)⁸ ≈ 1e-4 per pair and the driver gate verifies
    * the actual outcome bit-exactly at both sf (q27's row counts have
    * matched the brute-force pair count every round). 16×2 banding
    * would make the a-priori miss 4e-13 but over-generates candidates
    * quadratically on this dense-vocabulary corpus (random pairs sit
    * at j ≈ 0.15, so j² per band × 16 bands ≈ 4M candidate pairs =
    * 7.4s at sf0.1 vs 0.9s for 8×4 — measured r08).
    */
  def dedupMinHashPlanted(spark: SparkSession, dir: String, threshold: Double = 0.5,
                          every: Int = 20, idOffset: Long = 1000000L): DataFrame =
    dedupMinHashOn(spark, docShinglesOn(spark, plantedDocs(spark, dir, every, idOffset)),
      threshold, k = 32, bands = 8)

  /** `maxBucket` — the DEGENERATE-BAND guard (VERDICT r15 item 4):
    * under massive verbatim duplication (20k copies of one doc) every
    * band bucket holding the clique emits C(20k,2) ≈ 2·10⁸ candidate
    * pairs — quadratic work AND quadratic output, in one group. A
    * bucket larger than maxBucket emits a STAR to its min-id anchor
    * (ids.length−1 pairs) instead of all pairs. Connectivity — what
    * q53/q75's clustering consumes — is preserved whenever the
    * oversized bucket is one near-dup clique containing the anchor
    * (the mega-duplication case by construction: verbatim copies
    * share every band); the full pair LISTING contract is knowingly
    * narrowed, so the default (MaxValue) leaves every oracle path
    * untouched. The primary prescription stays composition order —
    * exact-dedup (q25) BEFORE near-dup — which removes the clique
    * before banding ever sees it; the guard is the belt for corpora
    * where exact collapse can't run first (measured: ScaleProbe r16
    * mega-dup rows in SURVEY §4).
    */
  private[graft] def dedupMinHashOn(spark: SparkSession, docs: DataFrame,
                                    threshold: Double, k: Int, bands: Int,
                                    maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bands > 0 && k % bands == 0, s"k ($k) must be a positive multiple of bands ($bands)")
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0, 1]: $threshold")
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    import spark.implicits._
    // Candidates WITHOUT arrays, then join-verify: band rows carry
    // only (doc_id, band, bucket) — carrying the shingle arrays into
    // the banding shuffle amplifies them ×bands (measured 2M strings
    // moved at sf0.1 to verify just ~2.2k candidate pair instances).
    // LSH collisions are rare by design, so arrays move only once per
    // DISTINCT surviving candidate side in the verify join. (Contrast
    // q26, where blocks are huge and in-group verification wins.)
    // The shingle frame feeds the banding AND both verify-join sides
    // — persist it once instead of re-paying the documents scan +
    // shingle computation three times (the dedupSimHashExact rule).
    // Registered (one-live-copy), not bare-persisted: repeated calls
    // in a long-lived session would otherwise stack a cached copy
    // per invocation (ADVICE r12)
    val docsP = graft.Shared.persist(spark, "dedupMinHashOn", docs)
    val banded = docsP
      .withColumn("sig", expr(s"minhash(sh, $k)"))
      .select(col("doc_id"), posexplode(bandCols(k, bands)).as(Seq("band", "bucket")))
      .as[BandRow]
    val cands = banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroups { (_, it) =>
        val ids = it.map(_.doc_id).toArray.sorted
        if (ids.length > maxBucket)
          // degenerate-band star (see maxBucket doc): linear pairs to
          // the min-id anchor instead of the quadratic full listing
          ids.iterator.drop(1).map(b => (ids(0), b))
        else
          for {
            i <- ids.indices.iterator
            j <- (i + 1 until ids.length).iterator
          } yield (ids(i), ids(j))
      }
      .toDF("doc_a", "doc_b").distinct()
    cands
      .join(docsP.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docsP.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("c", expr("intersect_count_sorted(sh_a, sh_b)"))
      .withColumn("jac", round(col("c").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("c")), 6))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** q40: EXACT all-pairs n-gram Jaccard join via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et
    * al., WWW'08 — the standard scale path for set-similarity joins).
    *
    * Unlike q26's min-shingle blocking (recall < 1, and block sizes
    * grow with corpus size under a fixed vocabulary: measured 5000
    * docs → 183 blocks, max 264 docs, 312k candidate pairs at sf0.1 —
    * quadratic at 100TB), this finds EVERY pair with Jaccard ≥ t:
    * two sets with |A∩B|/|A∪B| ≥ t must share a shingle within each
    * other's first (n - ⌈t·n⌉ + 1) shingles in a GLOBAL rarity order,
    * so candidates form only on globally rare shingles — block size
    * is bounded by document frequency of rare tokens, not corpus
    * size. A length filter (t·|B| ≤ |A|) prunes further.
    *
    * Plan shape — exactly THREE shuffles, and the (interpreted,
    * HOF-heavy) shingle pipeline is evaluated ONCE:
    *   shingle rows → [shuffle by shingle] window-count df (no agg
    *   branch + re-join: both would re-run the shingle scan) →
    *   [shuffle by doc] ONE groupBy rebuilds BOTH the lex-sorted
    *   array (for the merge-verify) and the rarity-ordered prefix →
    *   [shuffle by prefix token] doc arrays move once per prefix
    *   token (p ≈ (1-t)·n rows), never once per candidate pair —
    *   then everything happens in-group: length filter, positional
    *   filter, first-common-token dedup (a pair verifies exactly
    *   once, at its globally rarest shared prefix token — PPJoin's
    *   emission rule, so no distinct pass), and the exact
    *   merge-intersect verify.
    */
  private[operators] case class PrefDoc(shingle: String, doc_id: Long,
      sh: Array[String], pref: Array[String])

  def dedupAllPairs(spark: SparkSession, dir: String, threshold: Double = 0.9): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0, 1]: $threshold")
    import spark.implicits._
    // document frequency via window over the exploded shingles: one
    // shuffle by shingle, reused directly — a groupBy+join would carry
    // a second full evaluation of the shingle pipeline on its probe side
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val ranked = docShingles(spark, dir)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .withColumn("df", count(lit(1)).over(wDf))
    // ONE per-doc aggregation rebuilds both orders: lex-sorted sh for
    // the merge-verify, (df, shingle)-sorted prefix for candidates
    val rows = ranked
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("shingle"))).as("sh"),
        array_sort(collect_list(struct(col("df"), col("shingle")))).as("byRarity"))
      .select(col("doc_id"), col("sh"),
        slice(transform(col("byRarity"), r => r.getField("shingle")), lit(1),
          (size(col("byRarity")) - ceil(size(col("byRarity")) * threshold) + 1).cast("int"))
          .as("pref"))
      .select(explode(col("pref")).as("shingle"), col("doc_id"), col("sh"), col("pref"))
      .as[PrefDoc]
    rows.groupByKey(_.shingle)
      .flatMapGroups { (cur, it) =>
        val ds = it.toArray.sortBy(_.doc_id)
        // per-DOC precomputation hoisted out of the O(g²) pair loop:
        // prefix hash sets and the token's position in each prefix
        val prefSets = ds.map(d => d.pref.toSet)
        val pos = ds.map(_.pref.indexOf(cur) + 1)
        for {
          i <- ds.indices.iterator
          j <- (i + 1 until ds.length).iterator
          a = ds(i); b = ds(j)
          na = a.sh.length; nb = b.sh.length
          // length filter: jac >= t forces t*|B| <= |A| (|A| <= |B|)
          if na >= threshold * nb && nb >= threshold * na
          // positional filter (PPJoin): beyond this token only the
          // suffixes can still match — prune when even a full suffix
          // match can't reach the required overlap ⌈t/(1+t)(na+nb)⌉.
          // EPSILON-GUARDED: double ceil can land one above the exact
          // rational ceiling at exact-threshold sizes (t=0.9:
          // ceil(0.9/1.9*133) = 64 in doubles, exact = 63) and a
          // boundary pair the verification would PASS gets pruned —
          // the slack only ever admits extra candidates, which the
          // exact jaccard below rejects for free
          if math.min(na - pos(i), nb - pos(j)) + 1 >=
            math.ceil(threshold / (1 + threshold) * (na + nb) - 1e-6)
          // emission dedup: verify a pair only at its globally first
          // shared prefix token (pref is rarity-ordered, so the first
          // element of a.pref contained in b's prefix set is it)
          if firstCommon(a.pref, prefSets(j)) == cur
          c = sortedIntersectCount(a.sh, b.sh)
          jac = roundHalfUp6(c.toDouble / (na + nb - c))
          if jac >= threshold
        } yield NgramPair(a.doc_id, b.doc_id, jac)
      }
      .toDF("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** First element of `a` (in its order) also present in set `b`.
    * Both prefixes are sorted by the same global rarity key, so this
    * is the globally smallest shared prefix token.
    */
  private def firstCommon(a: Array[String], b: Set[String]): String = {
    var i = 0
    while (i < a.length) { if (b.contains(a(i))) return a(i); i += 1 }
    null
  }

  /** q28: SimHash near-dup pairs — 64-bit sketch, candidates blocked
    * on any of four 16-bit bands (two docs within Hamming ≤ 3 must
    * agree on ≥1 band), verified by exact Hamming ≤ maxDist.
    * GRADUATED to ORACLE-EXACT in r15: the output exposes hash bits
    * (`hamming`), so the oracle REPLAYS the sketch in DuckDB SQL —
    * FNV-1a byte fold + splitmix64 finalizer in wrapping unsigned-64
    * arithmetic, 64 per-bit votes, then the same band/verify rule on
    * the replayed signatures (SparkEntry's q28 oracle; integer-only,
    * cross-engine exact).
    */
  private[operators] case class SimBanded(doc_id: Long, sig: Long, band: Int, bucket: Long)
  private[operators] case class SimPair(doc_a: Long, doc_b: Long, hamming: Int)

  def dedupSimHash(spark: SparkSession, dir: String, maxDist: Int = 16): DataFrame =
    dedupSimHashOn(spark, docShingles(spark, dir), maxDist)

  /** q28b: the ORACLE-EXACT twin of q28 — exact-duplicate detection
    * via SKETCH-COLLISION blocking over `documents` plus planted
    * verbatim copies, with an exact verify (the same candidates-then-
    * verify contract as q27/q44):
    *
    *   - candidates: pairs with IDENTICAL 64-bit SimHash (maxDist=0).
    *     SimHash is a pure function of the shingle set, so equal sets
    *     imply equal sketches and banding recovery is CERTAIN (all
    *     bands agree) — recall 1 with no probabilistic caveat;
    *   - verify: sorted distinct shingle arrays compare EQUAL. This
    *     removes true 64-bit sketch collisions of merely-similar
    *     sets — the sf0.01 corpus really contains one: a jac ≈ 0.909
    *     pair whose 64 sketch bits all agree (≈1e-3 per pair at that
    *     angle), caught by the driver gate when this twin first ran
    *     unverified.
    *
    * Output therefore equals set-equality pairs unconditionally ⇒
    * the DuckDB oracle is a plain self-join on sorted-array equality.
    * q28's own Hamming ≤ 16 surface is ALSO hash-EXACT: its oracle
    * replays the FNV/simhash integer chain in DuckDB SQL.
    */
  def dedupSimHashExact(spark: SparkSession, dir: String,
                        every: Int = 20, idOffset: Long = 1000000L): DataFrame = {
    // the shingles frame feeds the banding AND both verify-join
    // sides — persist it once instead of re-paying the documents
    // scan + shingle computation three times (ADVICE r08, the
    // DupGraph persist-before-double-read rule; within one action the
    // first-computed partitions serve the other two subtrees from
    // cache, and the ContextCleaner reclaims the blocks when the
    // frame goes unreachable)
    val docs = graft.Shared.persist(spark, "dedupSimHashPlanted",
      docShinglesOn(spark, plantedDocs(spark, dir, every, idOffset)))
    dedupSimHashOn(spark, docs, maxDist = 0)
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .filter(col("sh_a") === col("sh_b"))
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  private[graft] def dedupSimHashOn(spark: SparkSession, docs: DataFrame,
                                    maxDist: Int): DataFrame = {
    import spark.implicits._
    // same per-group shape as dedupNgram/dedupMinHash: one shuffled
    // row per (doc, band); pairs verify in-memory per bucket
    val banded = docs
      .withColumn("sig", expr("simhash(sh)"))
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bucket", expr("shiftrightunsigned(sig, band * 16) & 65535"))
      .select("doc_id", "sig", "band", "bucket")
      .as[SimBanded]
    banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroups { (_, it) =>
        val docs = it.toArray.sortBy(_.doc_id)
        for {
          i <- docs.indices.iterator
          j <- (i + 1 until docs.length).iterator
          a = docs(i); b = docs(j)
          h = java.lang.Long.bitCount(a.sig ^ b.sig)
          if h <= maxDist
        } yield SimPair(a.doc_id, b.doc_id, h)
      }
      .toDF("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental MinHash-LSH dedup — the nightly-pipeline case: only
    * documents with doc_id >= minNewDocId are NEW; pairs between two
    * old documents are already known and must not be recomputed or
    * re-emitted. Candidate groups form over the full banded corpus
    * (at 100TB the old side's band buckets are precomputed and stored
    * bucketed by (band, bucket), so the shuffle only moves the new
    * batch), but the in-group pair loop skips old-old pairs before
    * any verification work.
    */
  def dedupMinHashIncremental(spark: SparkSession, dir: String, minNewDocId: Long,
                              threshold: Double = 0.5, k: Int = 32, bands: Int = 8): DataFrame = {
    require(bands > 0 && k % bands == 0, s"k ($k) must be a positive multiple of bands ($bands)")
    import spark.implicits._
    // id-only candidates + join-verify — dedupMinHashOn's own shape
    // (this used to carry full shingle arrays through the banding
    // shuffle ×bands and re-verify a pair once per shared band, the
    // exact amplification the batch operator measured and designed
    // away): old-old pairs die at the candidate stage before any
    // array moves, and a surviving pair is verified exactly once
    val docsP = graft.Shared.persist(spark, "dedupMinHashIncremental",
      docShingles(spark, dir))
    val banded = docsP
      .withColumn("sig", expr(s"minhash(sh, $k)"))
      .select(col("doc_id"), posexplode(bandCols(k, bands)).as(Seq("band", "bucket")))
      .as[BandRow]
    val cands = banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroups { (_, it) =>
        val ids = it.map(_.doc_id).toArray.sorted
        for {
          i <- ids.indices.iterator
          j <- (i + 1 until ids.length).iterator
          if ids(j) >= minNewDocId // sorted: ids(j) is the newer one
        } yield (ids(i), ids(j))
      }
      .toDF("doc_a", "doc_b").distinct()
    cands
      .join(docsP.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docsP.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("c", expr("intersect_count_sorted(sh_a, sh_b)"))
      .withColumn("jac", round(col("c").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("c")), 6))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** q44: embedding near-dup pairs WITHOUT labels — random-hyperplane
    * LSH (Charikar's SimHash for real vectors): 32 deterministic
    * hyperplanes → 32 sign bits per vector, banded 4×8 bits; vectors
    * sharing a band become candidates, verified by exact cosine ≥ t.
    * Two vectors at angle θ disagree per bit with probability θ/π:
    * at the near-dup threshold t=0.9 a band matches w.p. ~0.29 and
    * ANY of 4 bands w.p. ~0.75; at t=0.99 recall ≈ 1. (Sign-LSH is
    * NOT useful at weak similarity — at t=0.3 the per-bit
    * disagreement is ~0.40 and recall collapses; that regime needs
    * IVF probing, q19/q41.) q29's label blocking needs a label
    * column; this is the label-free scale path. Hyperplane components
    * are splitmix64-derived constants that REPLAY in DuckDB via the
    * q28 umulSql wrapping-integer machinery ⇒ hash-EXACT oracle; the
    * spec additionally plants perturbed duplicates and checks both
    * exactness and recall.
    */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String, threshold: Double = 0.9,
                        nBits: Int = 32, bands: Int = 4): DataFrame =
    dedupEmbeddingLshOn(spark, Tables.embeddings(spark, dir), threshold, nBits, bands)

  /** q44 driver entry: sign-LSH dedup over the corpus PLUS planted
    * exact duplicates (every `every`-th vector re-emitted under
    * vec_id + idOffset, in ONE scan via explode — a self-union would
    * recompute the scan per branch). Identical vectors have identical
    * sign bits, so banded sign-LSH recall on the planted pairs is
    * exactly 1 — and the driver's random testdata has no other pair
    * within cosine 0.9 — which makes this entry fully ORACLE-CHECKED
    * against a brute-force DuckDB join on the same derived input
    * (round 2's entry returned 0 rows on driver data: a vacuous gate).
    */
  def dedupEmbeddingLshPlanted(spark: SparkSession, dir: String, threshold: Double = 0.9,
                               every: Int = 20, idOffset: Long = 1000000L,
                               nBits: Int = 32, bands: Int = 4): DataFrame = {
    val withDups = Tables.embeddings(spark, dir)
      .select(explode(when(col("vec_id") % every === 0,
          array(col("vec_id"), col("vec_id") + idOffset))
        .otherwise(array(col("vec_id")))).as("vec_id"),
        col("embedding"))
    dedupEmbeddingLshOn(spark, withDups, threshold, nBits, bands)
  }

  private[graft] def dedupEmbeddingLshOn(spark: SparkSession, embeddings: DataFrame,
                                         threshold: Double = 0.9,
                                         nBits: Int = 32, bands: Int = 4): DataFrame = {
    require(bands > 0 && nBits % bands == 0, s"nBits ($nBits) must be a positive multiple of bands ($bands)")
    require(nBits / bands <= 63, s"band width must fit a long: $nBits/$bands")
    import spark.implicits._
    // the native codegen'd sign_bits packs all hyperplane signs into
    // one long per row, so banding is a shift-and-mask (the SimHash64
    // shape); the declarative twin — transform/aggregate/zip_with
    // over a planes literal — is interpreted per lambda call, which
    // made the bit computation q44's dominant cost (measured 1.0s →
    // see BENCH_r03)
    val rowsPerBand = nBits / bands
    val mask = (1L << rowsPerBand) - 1
    val banded = embeddings
      .select(col("vec_id"), expr(s"sign_bits(embedding, $nBits)").as("sig"))
      .select(col("vec_id"), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket", expr(s"shiftrightunsigned(sig, band * $rowsPerBand) & $mask"))
      .select("vec_id", "band", "bucket").as[SigBandRow]
    val cands = banded
      .groupByKey(d => (d.band, d.bucket))
      .flatMapGroups { (_, it) =>
        val ids = it.map(_.vec_id).toArray.sorted
        for {
          i <- ids.indices.iterator
          j <- (i + 1 until ids.length).iterator
        } yield (ids(i), ids(j))
      }
      .toDF("vec_a", "vec_b").distinct()
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    cands
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .withColumn("sim", round(expr("cosine_sim(emb_a, emb_b)"), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  private[operators] case class SigBandRow(vec_id: Long, band: Int, bucket: Long)

  /** q29b: embedding-cosine near-dup pairs blocked by IVF CELL — the
    * scale-safe DEFAULT for label-free corpora. q29's label blocking
    * has a fixed block count (~10 on this data), so in-block pairing
    * is O((n/10)²) — quadratic in the corpus at 100 TB. Here the
    * block key is the vector's IVF cell: seeds = vec_id % nLists,
    * one Lloyd round (decimal-mean centroids, deterministic under
    * any partitioning), then each vector joins its nProbe nearest
    * cells (multi-probe, so near-dup pairs straddling a cell
    * boundary still meet). nLists GROWS with the corpus (nLists ≈
    * n/targetCellSize), so cell size — and the in-cell candidate
    * loop — stays BOUNDED as data grows; recall is tunable via
    * nProbe. Candidates are id-only rows (arrays never enter the
    * banding shuffle, same shape as q27/q44); exact cosine ≥ t
    * verifies on the candidate join.
    *
    * Cell structure depends on float-mean centroids (cross-engine
    * divergent) ⇒ rows-only oracle; DedupEdgeSpec asserts planted
    * near-dup recall = 1 and recall ≥ the label-blocked variant on
    * testdata at the same threshold.
    */
  def dedupEmbeddingIvf(spark: SparkSession, dir: String, threshold: Double = 0.3,
                        nLists: Int = 0, nProbe: Int = 2, corpusSize: Long = -1L,
                        nCoarse: Int = 0): DataFrame =
    dedupEmbeddingIvfOn(spark, Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      threshold, nLists, nProbe, corpusSize, nCoarse)

  private[graft] def dedupEmbeddingIvfOn(spark: SparkSession, embeddings: DataFrame,
                                         threshold: Double = 0.3,
                                         nLists: Int = 0, nProbe: Int = 2,
                                         corpusSize: Long = -1L, nCoarse: Int = 0): DataFrame = {
    import spark.implicits._
    val e = embeddings.select("vec_id", "embedding")
    // the scaling law, in code: nLists tracks the corpus so cell size
    // (and the in-cell candidate loop) stays ~125 vectors no matter
    // how the data grows. Thread corpusSize in when the caller knows
    // it (pipeline metadata, q48b index stats) — the count() fallback
    // is a parquet-metadata job locally but a full listing pass on an
    // object store.
    val n = if (corpusSize >= 0) corpusSize else e.count()
    val lists = if (nLists > 0) nLists else math.max(16, (n / 125L).toInt)
    val seeded = e.withColumn("cell", (col("vec_id") % lists).cast("int"))
    val cents = Vectors.centroidsOf(seeded)
    // assignment through the shared two-level kernel: flat while
    // nLists is bounded, coarse→fine (N·√nLists cosines, no full
    // centroid broadcast) once nLists grows with the corpus — the
    // r04-flagged O(N²/targetCellSize) flat crossJoin is gone
    val coarse = if (nCoarse > 0) nCoarse else Vectors.autoCoarse(lists)
    val probed = Vectors.assignCells(e, cents, nProbe, coarse)
      .select(col("vec_id"), col("cell"))
    pairsFromCells(spark, probed, e, threshold)
  }

  /** q29d: the ORACLE-EXACT graduation of the IVF-blocked family (the
    * q27b/q28b/q44 planting pattern applied to cell blocking): the
    * corpus plus planted verbatim copies (every `every`-th vector
    * re-emitted under vec_id + idOffset, ONE scan via explode) runs
    * q29b's OWN cell blocking at a true near-dup threshold.
    *
    * Why the gate closes: cell assignment is a pure function of the
    * embedding (deterministic centroid ranking, 6dp rounding + cell
    * tie-breaks), so a planted copy's nProbe probe set is IDENTICAL
    * to its original's — every planted pair shares all its cells and
    * candidate recovery on them is CERTAIN, no probabilistic caveat
    * (spec-pinned in DedupEdgeSpec since r05). At threshold 0.9 the
    * driver's random corpus has no OTHER pair (q44's measured
    * property, shared derived input), so output ≡ the brute-force
    * pair set and the DuckDB oracle is a plain quadratic join — the
    * same oracle q44 passes, now also certifying the CELL blocking
    * path end-to-end (blocking differs, output provably equal).
    * q29b keeps the weak-threshold surface, itself hash-EXACT via
    * the DECIMAL(20,10) centroid replay (t=0.3 recall remains
    * intrinsically partial — that's what RecallProbe measures).
    */
  def dedupEmbeddingIvfPlanted(spark: SparkSession, dir: String, threshold: Double = 0.9,
                               every: Int = 20, idOffset: Long = 1000000L,
                               nLists: Int = 0, nProbe: Int = 2): DataFrame = {
    val withDups = Tables.embeddings(spark, dir)
      .select(explode(when(col("vec_id") % every === 0,
          array(col("vec_id"), col("vec_id") + idOffset))
        .otherwise(array(col("vec_id")))).as("vec_id"),
        col("embedding"))
    dedupEmbeddingIvfOn(spark, withDups, threshold, nLists, nProbe)
  }

  /** q29c: the STEADY-STATE spelling of q29b — cell assignments come
    * from the persisted dedup index (VectorIndex.dedup: same
    * seeds, same two-level assignment, written cell-partitioned), so
    * a fresh-index run pays ZERO centroid/assignment cost: read the
    * inverted lists, pair in-cell, verify. Value-identical to q29b at
    * the same parameters (spec-pinned); stale/absent index rebuilds
    * first (the nightly-build + many-reads split of q48, applied to
    * dedup blocking).
    */
  def dedupEmbeddingIvfIndexed(spark: SparkSession, dir: String,
                               threshold: Double = 0.3): DataFrame = {
    val path = VectorIndex.defaultPath(spark, dir) + "-dedup"
    VectorIndex.dedup().ensure(spark, dir, path)
    val probed = VectorIndex.cells(spark, path)
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    pairsFromCells(spark, probed, e, threshold)
  }

  /** In-cell id pairing + exact-cosine verify — the shared tail of
    * the IVF-blocked near-dup family: candidates are id-only rows
    * (arrays never enter the banding shuffle), each unique pair
    * verifies once on the candidate join.
    */
  /** Verified near-dup pairs from probed cell assignments — verify
    * happens IN the cell group (r18): each vector's embedding
    * shuffles once per probed cell (nProbe slim rows) and candidate
    * pairs never materialize as a row set. The previous spelling
    * emitted every candidate ID pair (Θ(cells·c²) rows), DISTINCT-
    * shuffled them, then re-joined the embedding array onto BOTH
    * sides of every pair — the same shuffle-amplification anti-
    * pattern dedupNgramOn's comment prices, measured by the r18
    * 100× probe at 352s (≈25 GB of array-carrying candidate rows);
    * the in-group spelling re-measures at ~17s (§4 r18). Survivors
    * (output-sized) dedupe with one distinct: a pair sharing several
    * probe cells verifies to the same (a, b, sim) in each — the
    * cosine is a pure function of the two embeddings, and the JVM
    * kernel below replays CosineSimilarity's fold order exactly, so
    * the oracle rows are untouched.
    */
  private def pairsFromCells(spark: SparkSession, probed: DataFrame, e: DataFrame,
                             threshold: Double): DataFrame = {
    import spark.implicits._
    val withEmb = probed.join(e, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding")).as[CellVec]
    withEmb.groupByKey(_.cell)
      .flatMapGroups { (_, it) =>
        val vs = it.toArray.sortBy(_.vec_id)
        // raw prefilter before the 6dp HALF_UP round: roundHalfUp6
        // allocates a BigDecimal per call, and candidates are
        // Θ(cells·c²) — only raws that could still round up to the
        // threshold (raw ≥ t−5e-7) pay it, survivors unchanged
        val tEff = threshold - 5e-7
        for {
          i <- vs.indices.iterator
          j <- (i + 1 until vs.length).iterator
          raw = cosineSimJvm(vs(i).embedding, vs(j).embedding)
          if raw >= tEff
          sim = roundHalfUp6(raw)
          if sim >= threshold
        } yield (vs(i).vec_id, vs(j).vec_id, sim)
      }
      .toDF("vec_a", "vec_b", "sim")
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** functions.CosineSimilarity's float-array arithmetic, verbatim
    * (promote-then-multiply, one sequential fold, dot/(√nx·√ny)) —
    * bit-identical by construction so the typed verify path and the
    * expression path cannot drift.
    */
  private[operators] def cosineSimJvm(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  private[operators] case class CellVec(vec_id: Long, cell: Int, embedding: Array[Float])

  /** q29: embedding-cosine near-dup pairs, blocked by label — the
    * ORACLE-PARITY variant (cosine is bit-identical to DuckDB, so the
    * whole pipeline is hash-EXACT). Label blocking does NOT scale:
    * the block count is fixed, so blocks grow linearly with the
    * corpus and in-block pairing is quadratic. The scale-safe default
    * is q29b (dedupEmbeddingIvf) for weak-similarity thresholds, or
    * q44's sign-LSH at true near-dup thresholds.
    */
  def dedupEmbedding(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")
    e.as("a")
      .join(e.as("b"), col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", round(expr("cosine_sim(a.embedding, b.embedding)"), 6))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"), col("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** q64: cross-document SUBSTRING (span) dedup — the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * flavor the doc-level family above cannot see: two documents that
    * share a long verbatim passage but differ elsewhere pass every
    * whole-doc screen (Jaccard, MinHash, SimHash, embedding), yet the
    * shared span is exactly what a pretraining pipeline must clip.
    * Per document: the fraction of tokens covered by any k-token gram
    * that also occurs in ANOTHER document.
    *
    *   1. one fused scan emits every position's k-gram HASH via the
    *      native `kgram_hashes` expression (the q60 lesson: no
    *      interpreted HOF chain in a hot scan) — 8 bytes per gram
    *      where the string spelling shipped ~50 (the gram text never
    *      matters downstream, only gram EQUALITY, so both shuffles
    *      shrink ~8×; collisions at ~n²/2⁶⁴ are noise for a coverage
    *      fraction, and KGramHashParitySpec pins hash-blocked output
    *      ≡ string-blocked output on the test corpora);
    *   2. grams owned by ≥ 2 distinct docs survive a (gram → distinct
    *      doc count) aggregation — partial-agg collapses each doc's
    *      repeats before the shuffle; keys are content-derived and
    *      near-uniform (a boilerplate-heavy corpus caps the candidate
    *      gram list the same way q12 caps buckets — documented, not
    *      needed at tested sizes);
    *   3. a left-semi join marks covered positions; per-doc covered-
    *      TOKEN count is the classic sorted-interval union — sum of
    *      min(k, next_pos − pos) over covered positions (one window
    *      per doc, skew-bounded by doc length).
    *
    * The output carries no hash bits (doc_id, counts, fraction), so
    * the operator stays ORACLE-EXACT against a string-gram DuckDB CTE.
    * `hashedBlocking = false` keeps the string-keyed twin alive for
    * the parity spec.
    */
  def substringDup(spark: SparkSession, dir: String, k: Int = 8,
      hashedBlocking: Boolean = true): DataFrame = {
    val gramExpr = if (hashedBlocking) s"kgram_hashes(text, $k)" else s"kgrams(text, $k)"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val grams = docs
      .select(col("doc_id"), posexplode(expr(gramExpr)).as(Seq("pos", "g")))
    val shared = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val cov = grams.join(shared, Seq("g"), "left_semi")
      .withColumn("nxt", lead("pos", 1).over(w))
      .withColumn("covered", least(lit(k), coalesce(col("nxt") - col("pos"), lit(k))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"), sum("covered").as("dup_tokens"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .withColumn("n_dup_grams", coalesce(col("n_dup_grams"), lit(0L)))
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        try_divide(col("dup_tokens").cast("double"), col("n_tokens")))
      .select("doc_id", "n_tokens", "n_dup_grams", "dup_tokens", "dup_frac")
      .orderBy("doc_id")
  }

  /** Persisted GRAM-FREQUENCY index — q64's steady-state split (the
    * VectorIndex build/read pattern applied to substring dedup): the
    * old corpus's (gram-hash → distinct-doc count) table lives on
    * storage, so a nightly batch of NEW documents checks span overlap
    * WITHOUT re-reading a byte of old corpus text. Lifecycle:
    * [[graft.IndexStore]]; k and deltaMod are identity — deltaMod
    * decides which docs are "old", so it changes the index CONTENT.
    */
  object GramIndex {
    def path(spark: SparkSession, dir: String): String =
      VectorIndex.defaultPath(spark, dir) + "_grams"

    def index(k: Int, deltaMod: Int): IndexStore.Index =
      IndexStore.Index("gram", "documents", s"grams:k=$k,deltaMod=$deltaMod", Seq("grams")) {
        (spark, dir, path) =>
          Tables.documents(spark, dir)
            .filter(col("doc_id") % deltaMod =!= 0)
            .select(col("doc_id"), explode(array_distinct(expr(s"kgram_hashes(text, $k)"))).as("g"))
            .groupBy("g").agg(count(lit(1)).as("nd_old"))
            .write.mode("overwrite").parquet(s"$path/grams")
          // a rebuild OBSOLETES the delta state: absorbed generations
          // belong to the previous corpus regime (by rebuild time ingest
          // has landed them in the table — the fold contract), and the
          // overwrite above just wiped the _folded_gens marker, so a
          // leftover gen dir would re-sum into the fresh base as a
          // double count
          IndexStore.fsFor(spark, path)
            .delete(new org.apache.hadoop.fs.Path(s"$path/grams_delta"), true)
          Nil
      }

    /** Generation ids the folded base already contains — the
      * `_folded_gens` sidecar the fold publishes ATOMICALLY with the
      * folded table (written into the staging dir before the swap
      * rename). While a gen id is listed here its dir is excluded
      * from the summed view, so the fold's cleanup (gen-dir deletes)
      * can crash at any point without double-counting.
      */
    private def foldedGens(spark: SparkSession, path: String): Set[String] =
      IndexStore.readSmall(spark, s"$path/grams/_folded_gens")
        .fold(Set.empty[String])(_.split(",").iterator.filter(_.nonEmpty).toSet)

    /** Generation dirs that count toward the live view: COMPLETE (a
      * crashed absorb's partial gen dir must not be summed as real
      * counts) and not already folded into the base.
      */
    private def liveGens(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.Path] = {
      val fs = IndexStore.fsFor(spark, path)
      val root = new org.apache.hadoop.fs.Path(s"$path/grams_delta")
      if (!fs.exists(root)) Seq.empty
      else {
        val folded = foldedGens(spark, path)
        fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
          .filter(_.getName.startsWith("gen="))
          .filter(p => IndexStore.complete(spark, p.toString))
          .filterNot(p => folded.contains(p.getName.stripPrefix("gen=")))
      }
    }

    /** The index's (gram → old-doc count) view: the base table alone
      * in the steady state, base + live absorbed generations summed
      * when nightly batches have been absorbed and not yet
      * compacted. The empty-gens branch keeps the no-delta plan
      * identical to the pre-absorb plan (no aggregation inserted for
      * the common probe path).
      */
    def grams(spark: SparkSession, path: String): DataFrame = {
      val base = spark.read.parquet(s"$path/grams")
      val gens = liveGens(spark, path)
      if (gens.isEmpty) base
      else base
        .unionByName(spark.read.option("basePath", s"$path/grams_delta")
          .parquet(gens.map(_.toString): _*).drop("gen"))
        .groupBy("g").agg(sum("nd_old").as("nd_old"))
    }

    /** Absorb one nightly batch's gram counts into the index so
      * TOMORROW's delta treats TODAY's as old corpus — the lifecycle
      * step q64b's steady state implies. Generation-keyed overwrite
      * (`grams_delta/gen=<g>`): re-absorbing the same generation
      * replaces rather than double-counts (the FunnelStream batchId
      * idempotence rule). `docs` is the batch (doc_id, text) —
      * explicit, because which docs constitute a generation is the
      * caller's ingest contract, not derivable from the table.
      */
    def absorb(spark: SparkSession, path: String, docs: DataFrame,
               k: Int, gen: Long): Unit = {
      docs.select(col("doc_id"), explode(array_distinct(expr(s"kgram_hashes(text, $k)"))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("nd_old"))
        .write.mode("overwrite").parquet(s"$path/grams_delta/gen=$gen")
    }

    /** COMPACTION: fold all absorbed generations into the base gram
      * table (per-gram count sum) and drop the delta directories —
      * after N nightly absorbs the index is again ONE flat table, so
      * file counts stay bounded and the probe plan loses the
      * delta-sum aggregation. Value-identical before/after
      * (CompactionSpec pins the summed view). The watermark is
      * deliberately untouched: absorbed generations are EXTRA-corpus
      * state (arrivals not yet in the documents table), so freshness
      * against the corpus source must keep meaning what it meant — a
      * source change still triggers a full rebuild, by which time the
      * ingest pipeline has landed the arrivals in the table.
      */
    def compact(spark: SparkSession, path: String): Unit = {
      foldPhase(spark, path)
      cleanupPhase(spark, path)
    }

    /** Phase 1 of compaction: write base + live gens (summed) as the
      * new base, with the absorbed gen-id set published ATOMICALLY
      * alongside it (`_folded_gens` written into the staging dir
      * before the swap rename). After this phase the summed VIEW is
      * unchanged whether or not cleanup ever runs — the marker
      * excludes exactly the gens the base now contains. Split from
      * cleanup so the spec can pin the crashed-between-phases state.
      */
    private[graft] def foldPhase(spark: SparkSession, path: String): Unit = {
      val toFold = liveGens(spark, path)
      if (toFold.isEmpty) return
      val folded = grams(spark, path)
      val gens = (foldedGens(spark, path) ++
        toFold.map(_.getName.stripPrefix("gen="))).toSeq.sorted.mkString(",")
      IndexStore.swapDir(spark, path, "grams") { tmp =>
        folded.write.parquet(tmp)
        IndexStore.writeSmall(spark, s"$tmp/_folded_gens", gens)
      }
    }

    /** Phase 2: drop the folded gen dirs, THEN clear the marker (the
      * marker may only stop excluding a gen once its dir is gone),
      * then the delta root if nothing is left. Every prefix of this
      * sequence is a consistent state; clearing the marker at the end
      * means a later re-use of a gen id (tomorrow's nightly batch
      * counter) is counted as the NEW generation it is.
      */
    private[graft] def cleanupPhase(spark: SparkSession, path: String): Unit = {
      val fs = IndexStore.fsFor(spark, path)
      val folded = foldedGens(spark, path)
      folded.foreach(g =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/grams_delta/gen=$g"), true))
      if (folded.nonEmpty)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/grams/_folded_gens"), false)
      val root = new org.apache.hadoop.fs.Path(s"$path/grams_delta")
      if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, true)
    }
  }

  /** q64b: INCREMENTAL substring dedup — the steady-state spelling of
    * q64. "New" docs (doc_id ≡ 0 mod deltaMod, the derived nightly
    * batch) score their span-duplication against the FULL corpus, but
    * the engine touches only the delta's text plus the persisted gram
    * index: a gram is shared iff its old-corpus doc count (from the
    * index) plus its within-delta distinct-doc count reaches 2 — the
    * identical predicate q64 evaluates by re-scanning everything.
    * Value-identical to q64 restricted to the delta (spec-pinned),
    * and ORACLE-EXACT against the full-corpus string-gram CTE
    * filtered to delta docs. At 100 TB this is the difference between
    * scanning the batch (plus an index merge-join) and scanning the
    * lake.
    */
  def substringDupIncremental(spark: SparkSession, dir: String, k: Int = 8,
                              deltaMod: Int = 16): DataFrame = {
    val path = GramIndex.path(spark, dir)
    GramIndex.index(k, deltaMod).ensure(spark, dir, path)
    val delta = Tables.documents(spark, dir)
      .filter(col("doc_id") % deltaMod === 0)
      .select(col("doc_id"), col("text"))
    val grams = delta
      .select(col("doc_id"), posexplode(expr(s"kgram_hashes(text, $k)")).as(Seq("pos", "g")))
    val shared = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd_new"))
      .join(GramIndex.grams(spark, path), Seq("g"), "left")
      .filter(coalesce(col("nd_old"), lit(0L)) + col("nd_new") >= 2)
      .select("g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val cov = grams.join(shared, Seq("g"), "left_semi")
      .withColumn("nxt", lead("pos", 1).over(w))
      .withColumn("covered", least(lit(k), coalesce(col("nxt") - col("pos"), lit(k))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"), sum("covered").as("dup_tokens"))
    delta.select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .withColumn("n_dup_grams", coalesce(col("n_dup_grams"), lit(0L)))
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        try_divide(col("dup_tokens").cast("double"), col("n_tokens")))
      .select("doc_id", "n_tokens", "n_dup_grams", "dup_tokens", "dup_frac")
      .orderBy("doc_id")
  }
}
