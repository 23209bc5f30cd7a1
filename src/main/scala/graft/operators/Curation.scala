package graft.operators

import graft.{IndexStore, Shared, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond dedup: benchmark
  * decontamination, PII scrubbing, sequence packing, distinctive-term
  * mining, and balanced stratified sampling — the steps a pretraining
  * pipeline runs between "deduplicated corpus" and "training batches".
  * (The reference stops at analytics; these extend the same documents
  * surface with the LLM-pipeline stages the brief names as
  * first-class components.)
  *
  * All five are single-pass declarative plans: the only non-window
  * kernel is the greedy packer, which is a sorted per-partition fold
  * (the sessionize-by-sort shape). Everything is oracle-EXACT — the
  * scoring arithmetic is integer or exact-IEEE division only (no libm
  * transcendentals, which are NOT guaranteed bit-identical across
  * engines; q58 uses an integer df-rarity weight instead of ln-idf
  * for exactly this reason).
  */
object Curation {

  /** The q54 3-gram set over an already-materialized token array —
    * ONE definition shared by grams3 and the q77b one-scan signal
    * frame. `toks` must be a materialized column (its own projection
    * stage), never an inline split: the lambda references it three
    * times per gram, and CollapseProject keeps the stages separate
    * only because the reference is a plain attribute (the docChunks
    * HOF-CSE trap).
    */
  private[graft] def gram3Of(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct 3-gram set per (doc_id, text) row — the shared kernel
    * of q54, q54b and the streaming gate (one definition, no
    * paste-drift: the PQ LUT triplication lesson). The split is
    * materialized by its own projection (interpreted-HOF re-eval
    * trap, SURVEY §4); sequence(1, n) with n < 1 would DESCEND in
    * Spark ([1,0]), so short docs get an explicit empty gram set.
    */
  private[graft] def grams3(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), gram3Of(col("toks")).as("g3"))

  private[graft] def docGrams3(spark: SparkSession, dir: String): DataFrame =
    grams3(Tables.documents(spark, dir).select("doc_id", "text"))

  /** Bloom sketch of a one-column gram frame: numBits from the
    * standard -n·ln(p)/ln²2 sizing at the requested fpp. Returns the
    * serialized filter for use as a broadcast literal with
    * `bloom_might_contain`.
    */
  private[graft] def bloomBytesFor(bench: DataFrame, fpp: Double): Array[Byte] = {
    val nBench = math.max(1L, bench.count())
    val nBits = math.max(64L,
      math.ceil(-nBench * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    bench.select(expr(s"bloom_filter_agg(xxhash64(g), ${nBench}L, ${nBits}L)").as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** q54: train/eval decontamination — the n-gram overlap check run
    * before training to drop documents that leak benchmark content
    * (the standard 13-gram check, here 3-grams against the synthetic
    * vocabulary). The benchmark slice is derived deterministically
    * (doc_id ≡ 0 mod 97); its DISTINCT trigram set is broadcast — at
    * 100 TB the benchmark side is eval suites (tiny, broadcastable
    * by construction) while the corpus side stays a single scan with
    * one explode + hash-join, no shuffle of document text.
    */
  /** q54b: Bloom-screened decontamination — the BROADCAST-SIZE scale
    * path of q54 with IDENTICAL output (same oracle, EXACT). q54
    * broadcasts the benchmark's distinct grams as strings; fine for
    * eval suites, but a large held-out set (say 10⁹ distinct
    * 13-grams) is tens of GB of strings — unbroadcastable — while
    * its Bloom filter at 1% FPR is ~1.2 GB (~10 bits/element,
    * length-independent). Two phases keep exactness:
    *
    *   1. SCREEN (map-side, codegen, zero shuffle): every gram tests
    *      against the broadcast Bloom via Spark's own
    *      BloomFilterMightContain kernel (the runtime-filter
    *      machinery, here driven explicitly). No false negatives by
    *      construction, so nothing contaminated can slip through;
    *      the overwhelmingly-clean gram stream dies in the scan
    *      stage without ever touching a join.
    *   2. VERIFY (exact, tiny): only bloom-positive grams — true
    *      hits plus the fpp sliver of false positives — join the
    *      exact gram set; counts come from VERIFIED hits only, so
    *      false positives are eliminated and n_overlap is exact.
    *
    * Output ≡ q54 row-for-row (hash-EXACT against q54's own DuckDB
    * oracle). The bloom aggregate runs over the benchmark side once
    * (bloom_filter_agg, Spark's sketch), collected like any
    * broadcast dimension.
    */
  def decontaminateBloom(spark: SparkSession, dir: String,
                         benchMod: Int = 97, threshold: Double = 0.3,
                         fpp: Double = 0.01): DataFrame = {
    val withG = docGrams3(spark, dir)
    // persisted: THREE readers re-derive this corpus scan otherwise —
    // bloomBytesFor's count, its bloom aggregate, and the verify join
    val bench = Shared.persist(spark, "decontaminateBloom.bench",
      withG.filter(col("doc_id") % benchMod === 0)
        .select(explode(col("g3")).as("g")).distinct())
    val bf = lit(bloomBytesFor(bench, fpp))
    // phase 1 (screen): bloom-test every gram IN THE SCAN STAGE —
    // clean grams die before any join; no false negatives, so the
    // filter is safe to apply pre-verification. Three §4 disciplines
    // meet here: (a) g3 is materialized by its OWN projection in
    // withG, so the double reference below is a bound column, not a
    // HOF re-evaluation; (b) explode_OUTER, not explode — the
    // non-outer Generate infers a `size > 0` guard that Catalyst
    // pushes below the projection and re-evaluates the interpreted
    // gram HOF twice more per row (measured: 8s of the first cut's
    // 10s at sf0.1); (c) every doc carries one extra NULL-gram
    // sentinel row that passes the screen unconditionally, so a doc
    // whose every gram is bloom-negative still reaches the aggregate
    // with n_overlap 0 — q54's single-pass shape survives the screen
    val screened = withG.filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"), size(col("g3")).as("n_grams"),
        explode_outer(concat(col("g3"), array(lit(null).cast("string")))).as("g"))
      .filter(col("g").isNull ||
        call_function("bloom_might_contain", bf, xxhash64(col("g"))))
    // phase 2 (verify): the fpp sliver of false positives is
    // eliminated by the EXACT membership join — counts are exact
    screened
      .join(broadcast(bench.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(count(col("hit")).as("n_overlap"))
      .withColumn("rate", try_divide(col("n_overlap").cast("double"), col("n_grams")))
      .withColumn("contaminated", coalesce(col("rate") >= threshold, lit(false)))
      .select("doc_id", "n_grams", "n_overlap", "rate", "contaminated")
      .orderBy("doc_id")
  }

  def decontaminate(spark: SparkSession, dir: String,
                    benchMod: Int = 97, threshold: Double = 0.3): DataFrame = {
    val withG = docGrams3(spark, dir)
    val bench = withG.filter(col("doc_id") % benchMod === 0)
      .select(explode(col("g3")).as("g")).distinct()
    val overlap = withG.filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"), size(col("g3")).as("n_grams"), explode_outer(col("g3")).as("g"))
      .join(broadcast(bench.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(count(col("hit")).as("n_overlap"))
    overlap
      // exact IEEE long/long division — bit-identical cross-engine;
      // try_divide: a gram-less doc must yield NULL, not abort
      .withColumn("rate", try_divide(col("n_overlap").cast("double"), col("n_grams")))
      .withColumn("contaminated", coalesce(col("rate") >= threshold, lit(false)))
      .select("doc_id", "n_grams", "n_overlap", "rate", "contaminated")
      .orderBy("doc_id")
  }

  /** q76: FUZZY decontamination — near-duplicate eval-set
    * contamination, the check exact n-gram overlap (q54) misses:
    * a benchmark item lightly paraphrased / reformatted in the crawl
    * shares few exact 3-grams but high shingle Jaccard (the screen
    * run alongside the exact one in practice; the MinHash machinery
    * follows Lee et al., arXiv:2107.06499). Benchmark slice derived as in
    * q54 (doc_id ≡ 0 mod benchMod); every 2nd benchmark doc is also
    * planted verbatim into the CORPUS side (one-scan explode, the
    * q44/q27b derivation — idOffset ≢ 0 mod benchMod keeps plants out
    * of the bench slice), so the gate has certain positives at every
    * sf and the brute-force oracle stays non-vacuous.
    *
    * Scale shape — the ASYMMETRY is the design: eval suites are tiny
    * and broadcastable by construction, the corpus is 100 TB, so
    * NOTHING corpus-sized may shuffle:
    *   1. both sides shingle + MinHash (32 perms, 8 bands × 4 rows —
    *      q27's tuning) in the scan stage;
    *   2. the bench side's band rows BROADCAST; corpus band rows
    *      probe them in a map-side hash join — no corpus self-pairs
    *      (contrast q27's groupByKey: contamination is bipartite, so
    *      banding needs no shuffle at all);
    *   3. candidate (doc, bench) id pairs distinct (slim shuffle of
    *      candidate ids only), broadcast BACK onto the corpus shingle
    *      scan — shingle arrays never shuffle; the bench arrays join
    *      in as a second broadcast;
    *   4. exact-Jaccard verify kills LSH false positives; per-doc
    *      rollup moves only (doc_id, bench_id, jac) survivors.
    * best_bench_id ties resolve by min bench_id via a struct max —
    * deterministic, no window. Recovery argument for the oracle =
    * q27b's: planted copies have identical signatures (certain), and
    * the corpus's natural cross-split pairs sit at Jaccard ≥ 0.95
    * (measured: no pair in [0.5, 0.95) at any gate sf) where the
    * a-priori banding miss is ≤ 1.3e-6 per pair — and the driver
    * verifies the realized outcome bit-exactly at every sf anyway.
    * Integers + one round-6 long/long division ⇒ ORACLE-EXACT vs the
    * brute-force corpus × bench Jaccard join.
    */
  def decontamFuzzy(spark: SparkSession, dir: String, benchMod: Int = 97,
                    threshold: Double = 0.5, every: Int = 2,
                    idOffset: Long = 1000000L, k: Int = 32,
                    bands: Int = 8): DataFrame = {
    require(bands > 0 && k % bands == 0, s"k ($k) must be a positive multiple of bands ($bands)")
    require(idOffset % benchMod != 0,
      s"idOffset ($idOffset) must not be ≡ 0 mod benchMod ($benchMod): plants must land in the corpus side")
    val rows = k / bands
    val planted = Tables.documents(spark, dir)
      .select(explode(when(col("doc_id") % (benchMod.toLong * every) === 0,
          array(col("doc_id"), col("doc_id") + idOffset))
        .otherwise(array(col("doc_id")))).as("doc_id"),
        col("text"))
    val sh = Dedup.docShinglesOn(spark, planted)
    val bench = sh.filter(col("doc_id") % benchMod === 0)
    val corpus = sh.filter(col("doc_id") % benchMod =!= 0)
    def banded(df: DataFrame): DataFrame = df
      .withColumn("sig", expr(s"minhash(sh, $k)"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))))).as(Seq("band", "bucket")))
    val cands = banded(corpus)
      .join(broadcast(banded(bench).withColumnRenamed("doc_id", "bench_id")),
        Seq("band", "bucket"))
      .select("doc_id", "bench_id").distinct()
    corpus.join(broadcast(cands), Seq("doc_id"))
      .join(broadcast(bench.select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))),
        Seq("bench_id"))
      .withColumn("c", expr("intersect_count_sorted(sh, sh_b)"))
      .withColumn("jac", round(col("c").cast("double") /
        (size(col("sh")) + size(col("sh_b")) - col("c")), 6))
      .filter(col("jac") >= threshold)
      .select("doc_id", "bench_id", "jac")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_matches"),
        max(struct(col("jac"), (-col("bench_id")).as("nb"))).as("m"))
      .select(col("doc_id"), col("n_bench_matches"),
        col("m.jac").as("max_jac"), (-col("m.nb")).as("best_bench_id"))
      .orderBy("doc_id")
  }

  /** q77: the CURATION FUNNEL — every gate this library ships,
    * composed into the per-doc verdict a pretraining pipeline
    * actually wants: for each document, all gate outcomes plus the
    * FIRST stage that drops it in the canonical order
    * benchmark → quality → exact_dup → near_dup → contaminated →
    * over_budget → kept. Each gate IS its standalone operator (one
    * definition each: q74's shared gopher scoring + budget rule,
    * q25's min-id content-hash rule, q75's quality-aware canonical,
    * q54's exact contamination) — the funnel only joins their slim
    * per-doc outputs on doc_id, so correctness composes from
    * already-oracle-exact parts and the cascade ("apply gate k to
    * survivors of k−1") is a downstream filter on `stage`, not a
    * different computation. Gates are evaluated INDEPENDENTLY on the
    * full corpus by design: that keeps each reusable, the report
    * auditable (a doc failing three gates shows all three), and the
    * whole plan one pass per component with doc_id-keyed slim joins.
    * Integers, booleans and a verdict string only ⇒ ORACLE-EXACT.
    */
  def curationFunnel(spark: SparkSession, dir: String, minPass: Int = 6,
                     benchMod: Int = 97): DataFrame = {
    // q25's exact-dup rule: text leaves the scan as a 32-char hash
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val exact = hashed
      .join(hashed.groupBy("h").agg(min("doc_id").as("keep_id")), "h")
      .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("is_exact_dup"))
    // the budget gate and the canonical pick both need the gopher
    // quality frame (the regex-heavy corpus pass): derive it ONCE,
    // persist through the one-live-copy registry, and hand the SAME
    // copy to both gates' *On spellings — the funnel now scores the
    // corpus once where it used to pay the scan per gate (VERDICT r12
    // item 5; each gate's standalone entry still derives its own)
    val scoredShared = Shared.persist(spark, "curationFunnel.scored",
      budgetScoredFrame(spark, dir,
        TextAnalysis.Gopher.MinWords, TextAnalysis.Gopher.MaxWords,
        TextAnalysis.Gopher.MeanLenMin10, TextAnalysis.Gopher.MeanLenMax10,
        TextAnalysis.Gopher.Stopwords, TextAnalysis.Gopher.MinStopwords))
    val budget = tokenBudgetOn(scoredShared)
      .select(col("doc_id"), col("source"), col("n_pass"), col("kept"))
    val canon = DupGraph.clusterRepsOn(spark, dir,
        scoredShared.select(col("doc_id"), col("wc"), col("n_pass")))
      .select(col("doc_id"), col("is_canonical"))
    // forward the caller's benchMod: is_bench below flags doc_id %
    // benchMod, so the contamination gate must screen against the
    // SAME bench slice (a defaulted call here silently computed
    // contamination against mod-97 whatever the caller asked for)
    val contam = decontaminate(spark, dir, benchMod = benchMod)
      .select(col("doc_id"), col("contaminated"))
    budget
      .join(exact, "doc_id")
      .join(canon, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_pass"),
        (col("doc_id") % benchMod === 0).as("is_bench"),
        col("is_exact_dup"),
        coalesce(!col("is_canonical"), lit(false)).as("is_near_dup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        (!col("kept")).as("over_budget"))
      .withColumn("stage",
        when(col("is_bench"), "benchmark")
          .when(col("n_pass") < minPass, "quality")
          .when(col("is_exact_dup"), "exact_dup")
          .when(col("is_near_dup"), "near_dup")
          .when(col("contaminated"), "contaminated")
          .when(col("over_budget"), "over_budget")
          .otherwise("kept"))
      .orderBy("doc_id")
  }

  /** q77b: the curation funnel as a DEPLOYMENT would spell it — ONE
    * pass over the corpus computing EVERY gate's per-doc signal
    * (gopher counters/flags, md5 content hash, min-shingle blocking
    * shingles, decontam 3-gram set, budget hash key), persisted once;
    * every gate then reads the shared signal frame and the document
    * TEXT is scanned exactly once (VERDICT r17 item 1 — q77
    * composes the standalone operators, so it re-derives per-gate
    * projections from the parquet scan; SURVEY §4 documents the
    * difference as deliberate).
    *
    * Output ≡ q77 row-for-row (same oracle, shared verbatim): every
    * signal column is the same expression the standalone operator
    * computes — gopherScored's n_pass/wc, budgetScoredFrame's hkey,
    * docShingles' words≥2 shingle set, grams3's 3-gram set — so each
    * gate's verdict is unchanged by construction.
    *
    * Scale shape: the signal frame is slim (five integers, a 32-char
    * hash, and the two token-derived arrays per doc — no raw text)
    * and spills to disk per partition; at 100 TB this is the
    * "curation signals" table a real pipeline materializes once per
    * snapshot and every gate job reads, instead of five jobs each
    * re-scanning (and re-tokenizing) the corpus. Near-dup pair
    * generation carries the composed-pipeline belt (maxBlock) like
    * q77 does.
    */
  /** UTF-8 byte order, unsigned — the order UTF8String.binaryCompare
    * (and therefore array_sort on strings and intersect_count_sorted)
    * uses. Scala's String ordering compares UTF-16 code units, which
    * DISAGREES for U+E000..U+FFFF vs supplementary characters — a
    * driver-side `.sorted` fed to the sorted-merge kernel would
    * silently undercount there (ADVICE r18).
    */
  private[graft] val utf8ByteOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  def curationFunnelOneScan(spark: SparkSession, dir: String, minPass: Int = 6,
                            benchMod: Int = 97,
                            maxBlock: Int = Dedup.ComposedMaxBlock,
                            maxDriverGrams: Int = 65536): DataFrame = {
    // THE one corpus scan: text enters, signals leave. Token arrays
    // materialize in their own projection stage (gram3Of's contract);
    // gopherFlags stages its ws/ls splits the same way internally.
    // g3 is stored SORTED so the contamination merge below needs no
    // per-row sort (set-identical to q54's distinct gram set).
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        md5(col("text")).as("h"),
        // docShingles' domain rule: only docs with ≥2 words shingle
        when(size(split(col("text"), " ")) >= 2, expr("shingles(text)"))
          .otherwise(array().cast("array<string>")).as("sh"),
        split(col("text"), " ").as("toks"))
      .withColumn("g3", array_sort(gram3Of(col("toks"))))
      .drop("toks")
    val signals = Shared.persist(spark, s"funnelOneScan.$benchMod",
      TextAnalysis.gopherScored(base, Seq("doc_id", "source", "h", "sh", "g3"))
        .select(col("doc_id"), col("source"), col("n_words").as("wc"),
          col("n_pass"),
          expr("((doc_id % 1048576) * 2654435761) % 1048576").as("hkey"),
          col("h"), col("sh"), col("g3")))
    // near-dup gate (the only gate that NEEDS a second pass shape):
    // q26 pairs from the shared shingles → CC → q75's canonical pick
    // over the shared quality columns
    val pairs = Dedup.dedupNgramPairs(spark,
      signals.filter(size(col("sh")) > 0).select("doc_id", "sh"),
      maxBlock = maxBlock)
    val canon = DupGraph.clusterRepsOnPairs(spark, pairs,
        signals.select(col("doc_id"), col("wc"), col("n_pass")))
      .select(col("doc_id"), col("is_canonical"))
    // decontamination bench side, SIZE-ROUTED (r19 — VERDICT r18
    // item 5): eval suites are tiny by construction (q54's scale
    // asymmetry), so below maxDriverGrams the distinct grams collect
    // once and ride into a per-row sorted-merge count — ZERO gram
    // rows shuffle. Above the bound (a 10⁹-gram held-out set) the
    // driver collect that used to sit here would die, so the route
    // flips to q54b's spelling: Bloom screen in the scan stage +
    // exact verify join, no driver materialization at any size. The
    // probe is one limit(bound+1) collect — if it comes back short,
    // it IS the full gram set. Row-identical both routes
    // (CurationSpec pins it by forcing the bound to 1); the sorted
    // fast path orders by UTF-8 BYTES, not UTF-16 code units, to
    // match intersect_count_sorted's UTF8String comparison
    // (ADVICE r18 — Scala's .sorted disagreed beyond the BMP).
    val benchGramsDf = signals.filter(col("doc_id") % benchMod === 0)
      .select(explode(col("g3")).as("g")).distinct()
    val gramSample = benchGramsDf.limit(maxDriverGrams + 1)
      .collect().map(_.getString(0))
    val smallBench = gramSample.length <= maxDriverGrams
    val benchGrams =
      if (smallBench) gramSample.sorted(utf8ByteOrder).toSeq else Seq.empty[String]
    // Every remaining gate is a WINDOW or MAP column over the signal
    // frame — one linear pipeline (exchange by source for the budget
    // fill windows, exchange by h for the exact-dup min, broadcast
    // join for the canonical pick, output sort), where the composed
    // q77 assembles five standalone outputs through a join tree.
    // Arithmetic is bit-identical to the standalone gates:
    //   · bin_wc / cum_hi / tot replay tokenBudgetOn's fill histogram
    //     as value-RANGE frames (peers = the (source, n_pass) bin;
    //     DESC range -1 = strictly-better bins) — integer sums;
    //   · kept is the same DECIMAL(38,0) cross-multiply;
    //   · is_exact_dup = doc_id ≠ min over the h partition (q25);
    //   · contaminated replays q54's distinct-intersection count and
    //     long/long IEEE division (bench rows stay false, as q54's
    //     corpus-side filter leaves them null → coalesce false).
    val wSrcBin = Window.partitionBy("source").orderBy(col("n_pass").desc)
      .rangeBetween(Window.currentRow, Window.currentRow)
    val wSrcHi = Window.partitionBy("source").orderBy(col("n_pass").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSrc = Window.partitionBy("source")
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    signals
      .withColumn("bin_wc", sum("wc").over(wSrcBin))
      .withColumn("cum_hi", coalesce(sum("wc").over(wSrcHi), lit(0L)))
      .withColumn("tot", sum("wc").over(wSrc))
      .withColumn("budget", expr("(tot * 50) div 100"))
      .withColumn("kept",
        col("cum_hi") + col("bin_wc") <= col("budget") ||
          d38(col("hkey")) * d38(col("bin_wc")) <
            d38(greatest(col("budget") - col("cum_hi"), lit(0L))) * d38(lit(1048576L)))
      .withColumn("is_exact_dup",
        col("doc_id") =!= min("doc_id").over(Window.partitionBy("h")))
      .withColumn("is_bench", col("doc_id") % benchMod === 0)
      .transform { f =>
        if (smallBench)
          f.withColumn("contaminated",
            !col("is_bench") && coalesce(
              try_divide(
                call_function("intersect_count_sorted", col("g3"), typedLit(benchGrams))
                  .cast("long").cast("double"),
                size(col("g3"))) >= 0.3, lit(false)))
        else {
          // q54b's two-phase spelling with q77b's numerator semantics
          // unchanged: |distinct(g3) ∩ bench| — array_distinct before
          // the explode keeps the count DISTINCT-based like the
          // sorted-merge kernel. No broadcast hint on the verify
          // join: above the driver bound the gram set is by
          // definition too big to broadcast.
          val bf = lit(bloomBytesFor(benchGramsDf, 0.01))
          val nInter = signals.filter(col("doc_id") % benchMod =!= 0)
            .select(col("doc_id"), explode(array_distinct(col("g3"))).as("g"))
            .filter(call_function("bloom_might_contain", bf, xxhash64(col("g"))))
            .join(benchGramsDf.withColumn("hit", lit(1)), Seq("g"), "left")
            .groupBy("doc_id").agg(count(col("hit")).as("n_inter"))
          f.join(nInter, Seq("doc_id"), "left")
            .withColumn("contaminated",
              !col("is_bench") && coalesce(
                try_divide(col("n_inter").cast("double"), size(col("g3"))) >= 0.3,
                lit(false)))
            .drop("n_inter")
        }
      }
      .join(canon, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_pass"),
        col("is_bench"),
        col("is_exact_dup"),
        coalesce(!col("is_canonical"), lit(false)).as("is_near_dup"),
        col("contaminated"),
        (!col("kept")).as("over_budget"))
      .withColumn("stage",
        when(col("is_bench"), "benchmark")
          .when(col("n_pass") < minPass, "quality")
          .when(col("is_exact_dup"), "exact_dup")
          .when(col("is_near_dup"), "near_dup")
          .when(col("contaminated"), "contaminated")
          .when(col("over_budget"), "over_budget")
          .otherwise("kept"))
      .orderBy("doc_id")
  }

  /** q79: the NIGHTLY-DELTA funnel — q77's steady-state spelling (the
    * q64b/GramIndex build/read split applied to the whole curation
    * pipeline): a delta batch (doc_id ≡ 0 mod deltaMod, the repo's
    * derived-delta convention) is gated against the EXISTING corpus
    * with first-writer-wins ingest semantics — history always beats a
    * new arrival, earlier delta ids beat later ones — so admission
    * needs no corpus rewrite. Stages, in order: benchmark (eval data
    * never trains) → quality (q71's rules, per-doc, zero history) →
    * exact_dup (md5 twin in the corpus, or an earlier delta twin) →
    * near_dup (q26's min-shingle-blocked Jaccard ≥ t vs ANY old doc
    * or an earlier delta doc — engine-independent blocking, so no
    * banding-recovery caveat) → contaminated (q54's exact 3-gram
    * gate) → admitted. The budget stage and the quality-aware
    * canonical refresh are corpus-level decisions that stay in the
    * nightly batch (q74/q75/q77) — documented division of labor.
    *
    * Scale shape: the delta side is small by construction, and every
    * gate touches history ONLY through a keyed probe — md5 equijoin,
    * min-shingle block join (delta blocks inner-join the corpus
    * frame: at 100 TB the corpus side is the persisted (blk)-bucketed
    * layout, so the probe is a pruned read — the GramIndex
    * precedent), broadcast bench gram set. Nothing corpus-sized
    * shuffles for a nightly batch. Integers/booleans/one verdict
    * string ⇒ ORACLE-EXACT.
    */
  def funnelDelta(spark: SparkSession, dir: String, deltaMod: Int = 16,
                  benchMod: Int = 97, minPass: Int = 6,
                  threshold: Double = 0.5): DataFrame = {
    val isDeltaId = (c: org.apache.spark.sql.Column) => c % deltaMod === 0
    // quality: the delta docs' spine — every delta doc gets a verdict
    val scored = TextAnalysis.gopherScored(
        Tables.documents(spark, dir).filter(isDeltaId(col("doc_id")))
          .select("doc_id", "source", "text"),
        Seq("doc_id", "source"))
      .select("doc_id", "source", "n_pass")
    // exact dup: content-hash probe of the full corpus; an old twin
    // (any id) or an earlier delta twin drops the arrival
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val exactDup = hashed.filter(isDeltaId(col("doc_id"))).as("n")
      .join(hashed.as("o"), col("n.h") === col("o.h") &&
        col("o.doc_id") =!= col("n.doc_id"))
      .filter(!isDeltaId(col("o.doc_id")) || col("o.doc_id") < col("n.doc_id"))
      .select(col("n.doc_id").as("doc_id")).distinct()
      .withColumn("is_exact_dup", lit(true))
    // near dup: delta min-shingle blocks probe the corpus shingle
    // frame; verify is the exact q26 Jaccard, partner rule as above
    val sh = Dedup.docShinglesOn(spark, Tables.documents(spark, dir))
      .withColumn("blk", element_at(col("sh"), 1))
    val deltaSh = sh.filter(isDeltaId(col("doc_id")))
      .select(col("blk"), col("doc_id").as("d"), col("sh").as("dsh"))
    val nearDup = sh.join(deltaSh, "blk")
      .filter(col("doc_id") =!= col("d"))
      .filter(!isDeltaId(col("doc_id")) || col("doc_id") < col("d"))
      .withColumn("c", expr("intersect_count_sorted(sh, dsh)"))
      .withColumn("jac", round(col("c").cast("double") /
        (size(col("sh")) + size(col("dsh")) - col("c")), 6))
      .filter(col("jac") >= threshold)
      .select(col("d").as("doc_id")).distinct()
      .withColumn("is_near_dup", lit(true))
    // contamination: q54's exact gate (frozen bench side; delta docs
    // that ARE bench stage out first, so the missing rows are fine)
    val contam = decontaminate(spark, dir, benchMod)
      .select(col("doc_id"), col("contaminated"))
    scored
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_pass"),
        (col("doc_id") % benchMod === 0).as("is_bench"),
        coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
        coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .withColumn("stage",
        when(col("is_bench"), "benchmark")
          .when(col("n_pass") < minPass, "quality")
          .when(col("is_exact_dup"), "exact_dup")
          .when(col("is_near_dup"), "near_dup")
          .when(col("contaminated"), "contaminated")
          .otherwise("admitted"))
      .orderBy("doc_id")
  }

  /** Persisted CORPUS BLOCKING FRAME for the delta funnel — q79's
    * steady-state split (GramIndex's build/read contract applied to
    * every history probe the funnel makes). The index holds the three
    * corpus-side frames funnelDelta derives from old-corpus TEXT, so
    * a nightly delta run reads ZERO bytes of old corpus text:
    *   <path>/hashes/           — distinct md5 of old docs (exact gate)
    *   <path>/shingles/pblk=N/  — (doc_id, sh, blk) bucketed by
    *                              pmod(xxhash64(blk), nBuckets): the
    *                              probe filters on the partition
    *                              column, so partition pruning skips
    *                              every non-probed bucket's files —
    *                              the VectorIndex cells layout applied
    *                              to min-shingle blocks
    *   <path>/benchgrams/       — distinct 3-grams of old BENCH docs
    *                              (contamination gate; the batch's own
    *                              bench grams union in at probe time)
    * Lifecycle: [[graft.IndexStore]]. deltaMod/benchMod are identity
    * — they decide which docs are "old" and which of those are bench,
    * so they change the index CONTENT, not just the probe.
    */
  object FunnelIndex {
    def path(spark: SparkSession, dir: String): String =
      VectorIndex.defaultPath(spark, dir) + "_funnel"

    // Keyed on the RESOLVED index path, not the corpus dir: the path
    // routes through session conf spark.graft.index.root, so two
    // sessions (or one session after a conf change) can map the same
    // dir to different on-disk indexes — a dir-keyed entry would
    // silently serve frames belonging to the other path.
    private def cacheKeys(resolvedPath: String): Seq[String] =
      Seq(s"funnelIndex.hashes|$resolvedPath",
          s"funnelIndex.shingles|$resolvedPath")

    /** Registry-persisted reads of the index's frozen components —
      * a stream gates every micro-batch against these, and the bare
      * per-batch `spark.read.parquet` re-paid file listing + footer
      * reads each time (r14 q80b job audit: a 60-path listing job per
      * batch). One live cached copy per dir; `build` and `foldStore`
      * invalidate it, because both rewrite files under the SAME path
      * and a plan-keyed cache would otherwise serve pre-rewrite rows.
      */
    def loadCached(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
      val p = path(spark, dir)
      val Seq(hk, sk) = cacheKeys(p)
      // coalesce before persist: the on-disk layouts optimize for
      // PRUNED reads (hashes: one file per build shuffle partition;
      // shingles: one dir per pblk bucket → ~60-90 splits), but a
      // cached frame is scanned IN FULL by every micro-batch, where
      // 60+ tiny cache partitions cost a task launch each per gate
      // leg. 8 partitions keeps the scan parallel without the
      // per-task overhead dominating index-sized (not corpus-sized)
      // frames.
      (Shared.persist(spark, hk, spark.read.parquet(s"$p/hashes").coalesce(8)),
       Shared.persist(spark, sk, spark.read.parquet(s"$p/shingles")
         .select("doc_id", "sh", "blk", "pblk").coalesce(8)))
    }

    /** The per-micro-batch accessor: the registry's CURRENT frames
      * via a map probe when live, a lazy reload otherwise. Callers
      * must fetch per batch (not freeze frames in a long-lived
      * context): `compact`/`build` invalidate the entries when they
      * rewrite files, and the next fetch re-lists — a frozen frame
      * would keep serving the pre-rewrite FileIndex snapshot
      * (CompactionSpec gates on an old ctx across a fold).
      */
    def cached(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
      val Seq(hk, sk) = cacheKeys(path(spark, dir))
      (Shared.persisted(spark, hk), Shared.persisted(spark, sk)) match {
        case (Some(h), Some(s)) => (h, s)
        case _ => loadCached(spark, dir)
      }
    }

    private def invalidateCached(spark: SparkSession, dir: String): Unit =
      cacheKeys(path(spark, dir)).foreach(Shared.unpersist(spark, _))

    def index(deltaMod: Int, benchMod: Int, nBuckets: Int): IndexStore.Index =
      IndexStore.Index("funnel", "documents",
          s"funnel:deltaMod=$deltaMod,benchMod=$benchMod,nBuckets=$nBuckets",
          Seq("hashes", "shingles", "benchgrams")) { (spark, dir, path) =>
        invalidateCached(spark, dir)
        val old = Tables.documents(spark, dir)
          .filter(col("doc_id") % deltaMod =!= 0)
        old.select(md5(col("text")).as("h")).distinct()
          .write.mode("overwrite").parquet(s"$path/hashes")
        Dedup.docShinglesOn(spark, old)
          .withColumn("blk", element_at(col("sh"), 1))
          .withColumn("pblk", pmod(xxhash64(col("blk")), lit(nBuckets)).cast("int"))
          // align write tasks with the partition dirs: without this,
          // every scan task sprays a file into each of the nBuckets
          // dirs (T×nBuckets small files) and the nightly probe's
          // pruned read degrades into listing cost — the measured
          // failure mode VectorIndex.dedup documents
          .repartition(col("pblk"))
          .write.mode("overwrite").partitionBy("pblk").parquet(s"$path/shingles")
        grams3(old.filter(col("doc_id") % benchMod === 0).select("doc_id", "text"))
          .select(explode(col("g3")).as("g")).distinct()
          .write.mode("overwrite").parquet(s"$path/benchgrams")
        Nil
      }

    /** COMPACTION of a streaming seen-store into the index: fold the
      * store's batchId-keyed hash/shingle dirs (one per micro-batch —
      * the one genuinely PROLIFERATING delta layout in the engine)
      * into the index's own hashes/shingles components, then clear
      * the store. After the fold, gating against (index ∪ empty
      * store) is value-identical to gating against (index ∪ full
      * store) — FunnelStreamSpec pins it — and file counts are back
      * to O(1 + nBuckets) regardless of how many batches ran.
      *
      * The watermark is deliberately NOT rotated: absorbed arrivals
      * are extra-corpus history (they are not in the documents
      * table), and the index must stay fresh w.r.t. the corpus
      * source — a source change still rebuilds from the table, by
      * which time ingest has landed the arrivals there (the verdict
      * sink holds them until then). Run this only with the stream
      * STOPPED on a committed checkpoint: a replay of an
      * already-folded batch would see its own rows as history.
      */
    def foldStore(spark: SparkSession, dir: String, statePath: String,
                  nBuckets: Int): Unit = {
      invalidateCached(spark, dir)
      val path = FunnelIndex.path(spark, dir)
      val fs = IndexStore.fsFor(spark, path)
      val sHashes = new org.apache.hadoop.fs.Path(s"$statePath/hashes")
      val sShingles = new org.apache.hadoop.fs.Path(s"$statePath/shingles")
      if (fs.exists(sHashes)) {
        IndexStore.swapDir(spark, path, "hashes") { tmp =>
          spark.read.parquet(s"$path/hashes")
            .unionByName(spark.read.parquet(s"$statePath/hashes")
              .drop("batch").select("h"))
            .distinct()
            .write.parquet(tmp)
        }
        fs.delete(sHashes, true)
      }
      if (fs.exists(sShingles)) {
        IndexStore.swapDir(spark, path, "shingles") { tmp =>
          spark.read.parquet(s"$path/shingles")
            .select("doc_id", "sh", "blk", "pblk")
            .unionByName(spark.read.parquet(s"$statePath/shingles")
              .drop("batch")
              // recompute pblk under THIS index's bucket count: a
              // store written against a different nBuckets layout
              // would otherwise fold rows into dirs the pruned probe
              // never reads (the parameter existed but went unused)
              .withColumn("pblk",
                pmod(xxhash64(col("blk")), lit(nBuckets)).cast("int"))
              .select("doc_id", "sh", "blk", "pblk"))
            // one shingle row per doc, like the hashes leg's
            // distinct(): disjoint in normal operation (index = corpus
            // + prior folds, store = new arrivals), but a crash after
            // this swap and before the store delete below re-folds the
            // same store rows on retry — without the dedup each
            // crashed attempt would grow the index by a store copy
            .dropDuplicates("doc_id")
            .repartition(col("pblk"))
            .write.partitionBy("pblk").parquet(tmp)
        }
        fs.delete(sShingles, true)
      }
    }
  }

  /** q79b: the INDEXED delta funnel — funnelDelta probing the
    * persisted FunnelIndex instead of re-deriving the corpus frames
    * from text. Value-identical to funnelDelta (spec-pinned row for
    * row, and it shares q79's DuckDB oracle), but the nightly cost is
    * now a function of the DELTA, not the corpus:
    *   - exact gate: arrival md5s left-semi probe the hash set; the
    *     earlier-delta-twin rule is batch-local (delta × delta on h).
    *   - near gate: delta min-shingle blocks prune-read the bucketed
    *     shingle frame — the only corpus-sized bytes touched, and only
    *     the probed buckets' files. The bucket-id collect is bounded
    *     by nBuckets (≤64 ints), never by N (the q67d boundedness
    *     discipline).
    *   - contamination: persisted old-bench grams ∪ the batch's own
    *     bench grams (a NEW bench doc contaminates from day one —
    *     exactly decontaminate's semantics), broadcast onto the
    *     delta's grams.
    */
  def funnelDeltaIndexed(spark: SparkSession, dir: String, deltaMod: Int = 16,
                         benchMod: Int = 97, minPass: Int = 6,
                         threshold: Double = 0.5, nBuckets: Int = 64): DataFrame = {
    val path = FunnelIndex.path(spark, dir)
    FunnelIndex.index(deltaMod, benchMod, nBuckets).ensure(spark, dir, path)
    val delta = Tables.documents(spark, dir)
      .filter(col("doc_id") % deltaMod === 0)
      .select("doc_id", "source", "text")
    funnelGate(spark, delta,
      spark.read.parquet(s"$path/hashes"),
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/benchgrams"),
      benchMod, minPass, threshold, nBuckets)
      .orderBy("doc_id")
  }

  /** The delta-funnel gate over EXPLICIT corpus frames — the shared
    * kernel of funnelDeltaIndexed (frames = the persisted FunnelIndex)
    * and streaming.FunnelStream (frames = index ∪ the arrivals seen in
    * earlier micro-batches). `delta` carries (doc_id, source, text);
    * `corpusHashes` (h); `corpusShingles` (doc_id, sh, blk, pblk);
    * `benchGrams` (g). Within-batch first-writer-wins (earlier doc_id
    * beats later) is batch-local here; history-beats-arrival is
    * whatever the caller put in the corpus frames.
    */
  private[graft] def funnelGate(spark: SparkSession, delta: DataFrame,
                                corpusHashes: DataFrame, corpusShingles: DataFrame,
                                benchGrams: DataFrame, benchMod: Int,
                                minPass: Int, threshold: Double,
                                nBuckets: Int,
                                pruneBuckets: Boolean = true): DataFrame = {
    val scored = TextAnalysis.gopherScored(
        delta.select("doc_id", "source", "text"), Seq("doc_id", "source"))
      .select("doc_id", "source", "n_pass")
    val deltaHashed = delta.select(col("doc_id"), md5(col("text")).as("h"))
    val oldTwin = deltaHashed
      .join(corpusHashes, Seq("h"), "left_semi")
      .select("doc_id")
    val earlierTwin = deltaHashed.as("n")
      .join(deltaHashed.as("o"),
        col("n.h") === col("o.h") && col("o.doc_id") < col("n.doc_id"))
      .select(col("n.doc_id").as("doc_id"))
    val exactDup = oldTwin.union(earlierTwin).distinct()
      .withColumn("is_exact_dup", lit(true))
    val deltaSh = Dedup.docShinglesOn(spark, delta)
      .withColumn("blk", element_at(col("sh"), 1))
    // the delta's shingle buckets decide which index partitions the
    // probe reads ([[CellProbe.read]]). `pruneBuckets = false` skips
    // the collect: the filter is an IO-only optimization (pblk is a
    // function of blk, so pruned rows can never match the blk-keyed
    // join), and against a CACHED corpus side (the stream's per-batch
    // gate) the pruning job costs more than the filter saves — a
    // micro-batch delta touches most buckets anyway.
    val corpusSh =
      (if (pruneBuckets)
        CellProbe.read(deltaSh.select(pmod(xxhash64(col("blk")), lit(nBuckets)).cast("int").as("pblk"))
          .distinct(), "pblk", corpusShingles, "pblk")._2
      else corpusShingles).select("doc_id", "sh", "blk")
    val dprobe = deltaSh
      .select(col("blk"), col("doc_id").as("d"), col("sh").as("dsh"))
    val oldNear = corpusSh.join(dprobe, "blk")
    val deltaNear = deltaSh.join(dprobe, "blk")
      .filter(col("doc_id") < col("d"))
    val nearDup = oldNear.select(col("d"), col("sh"), col("dsh"))
      .unionByName(deltaNear.select(col("d"), col("sh"), col("dsh")))
      // Jaccard length filter (PPJoin's size bound, q40's discipline):
      // jac(A,B) ≤ min/max, so jac ≥ t requires min(|A|,|B|) ≥
      // t·max(|A|,|B|) — a codegen'd two-size compare that drops the
      // bulk of the hot-block candidate pairs (first-shingle blocks
      // collide heavily: ~230 pairs/delta doc at sf0.1) before the
      // O(|A|+|B|) string-merge intersect pays for them. The 0.5
      // slack keeps the bound strictly conservative under the gate's
      // 6dp-rounded comparison (a pair whose exact jac sits just
      // below t can round UP to t; sizes are integers, so half a
      // shingle of slack covers any representable rounding gap).
      .filter(least(size(col("sh")), size(col("dsh"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh")), size(col("dsh"))) - lit(0.5))
      .withColumn("c", expr("intersect_count_sorted(sh, dsh)"))
      .withColumn("jac", round(col("c").cast("double") /
        (size(col("sh")) + size(col("dsh")) - col("c")), 6))
      .filter(col("jac") >= threshold)
      .select(col("d").as("doc_id")).distinct()
      .withColumn("is_near_dup", lit(true))
    // membership in (benchGrams ∪ benchNew) tested as TWO broadcast
    // left joins instead of union+distinct+join: the old spelling
    // re-shuffled the FULL bench gram set per call to dedup the union,
    // which a streaming caller pays per micro-batch. g ∈ A∪B ⟺
    // (g ∈ A) ∨ (g ∈ B), and with both right sides gram-distinct a
    // left join cannot multiply rows, so count(coalesce(h1,h2)) is
    // exactly the old count(hit). PRECONDITION: benchGrams arrives
    // distinct — both callers guarantee it (FunnelIndex.build and
    // DecontamStream.benchFrame end in .distinct()); benchNew is
    // delta-sized, deduped here.
    val benchNew = grams3(
        delta.filter(col("doc_id") % benchMod === 0).select("doc_id", "text"))
      .select(explode(col("g3")).as("g")).distinct()
    // 0.3 = decontaminate's default threshold (the gate funnelDelta
    // composes); funnelDelta's `threshold` param is the NEAR-DUP knob
    val contam = grams3(
        delta.filter(col("doc_id") % benchMod =!= 0).select("doc_id", "text"))
      .select(col("doc_id"), size(col("g3")).as("n_grams"),
        explode_outer(col("g3")).as("g"))
      .join(broadcast(benchGrams.withColumn("h1", lit(1))), Seq("g"), "left")
      .join(broadcast(benchNew.withColumn("h2", lit(1))), Seq("g"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(count(coalesce(col("h1"), col("h2"))).as("n_overlap"))
      .withColumn("rate", try_divide(col("n_overlap").cast("double"), col("n_grams")))
      .select(col("doc_id"),
        coalesce(col("rate") >= lit(0.3), lit(false)).as("contaminated"))
    scored
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_pass"),
        (col("doc_id") % benchMod === 0).as("is_bench"),
        coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
        coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .withColumn("stage",
        when(col("is_bench"), "benchmark")
          .when(col("n_pass") < minPass, "quality")
          .when(col("is_exact_dup"), "exact_dup")
          .when(col("is_near_dup"), "near_dup")
          .when(col("contaminated"), "contaminated")
          .otherwise("admitted"))
    // no orderBy here: the stream path (gateBatch) joins MORE columns
    // onto this frame — a sort at this altitude is destroyed two
    // operators later and re-paid per micro-batch. The batch entries
    // that present ordered results (funnelDeltaIndexed) order at the
    // call site instead.
  }

  private val emailPat = "[a-z0-9._]+@[a-z0-9.]+"
  private val phonePat = "\\+[0-9]{5,}"
  private val urlPat   = "https://[a-z0-9./]+"

  /** q55: PII scrubbing — regex redaction of emails/phones/URLs with
    * per-doc counts. The testdata corpus is synthetic (no real PII),
    * so the entry PLANTS deterministic PII by doc_id residue — the
    * same make-the-check-non-vacuous derivation q44 uses for planted
    * duplicates — then scrubs it. Patterns are restricted to syntax
    * with identical Java-regex/RE2 semantics (character classes +
    * bounded repetition; no backrefs or lookarounds, which RE2 lacks).
    * One projection pass; counts come from the pre-scrub text.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = concat(col("text"),
      when(id % 7 === 0, concat(lit(" contact user"), id, lit("@mail.example.com for details"))).otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" call +1555"), id, lit(" now"))).otherwise(lit("")),
      when(id % 13 === 0, concat(lit(" see https://ex.example.org/p/"), id, lit(" page"))).otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(id, planted.as("t2"))
      .select(id,
        size(regexp_extract_all(col("t2"), lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t2"), lit(phonePat), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("t2"), lit(urlPat), lit(0))).as("n_urls"),
        regexp_replace(regexp_replace(regexp_replace(col("t2"),
          emailPat, "<EMAIL>"), urlPat, "<URL>"), phonePat, "<PHONE>").as("clean_text"))
      .orderBy("doc_id")
  }

  /** q82: deterministic, consistent author pseudonymization + template
    * text rewrite — the reference's export anonymizer
    * (scripts/animal_message_transformer.py:122-151: per-message
    * author → pseudonym map, text → length-bucketed replacement
    * phrase) grafted as a corpus operator over `events` (user_id is
    * the author analog, props the text). Its serious core is the
    * reversible-mapping complement of q55's redaction: every author
    * gets ONE stable pseudonym across the whole corpus, no two
    * authors share one, and the mapping is reproducible run-to-run.
    *
    * Two deliberate divergences from the reference, both because an
    * engine that promises deterministic replays has no business
    * calling random.choice at transform time (the q59/McpTools rule):
    *   - pseudonym choice is HASH-KEYED (Knuth multiplicative hash of
    *     user_id picks the base name; a per-base ordinal makes the
    *     full pseudonym collision-free even with more authors than
    *     base names — the reference's fixed dict + random fallback
    *     can collide and is irreproducible);
    *   - replacement-phrase choice is hash-keyed by event_id. The
    *     LENGTH-BUCKET rule replays transform_message_text exactly:
    *     empty → question (its get_random_animal_message(10) branch),
    *     trailing '?' → question, len < 20 → short ack, len < 50 →
    *     question, else → long phrase. Phrase POOLS are original
    *     placeholder text (the reference's strings are its own corpus;
    *     only the selection structure is replayed).
    *
    * Scale shape: one distinct over user_id (the authors dim — tiny
    * next to events), a per-base row_number window over that dim only,
    * then ONE broadcast-joined projection pass over events. Nothing
    * event-sized shuffles; the phrase pick is pure per-row arithmetic.
    */
  /** The q82 phrase pools — shared with the DuckDB oracle builder
    * (SparkEntry splices these exact strings into SQL list literals,
    * so pool edits can never drift the two sides apart).
    */
  private[graft] object Pseudonyms {
    val basePool = Seq("Falcon", "Otter", "Lynx", "Heron", "Marmot", "Ibis", "Badger", "Newt")
    val shortPool = Seq("Noted.", "Agreed.", "Sounds good.", "Nice.",
      "Got it.", "Sure thing.", "Great.", "Thanks.")
    val questionPool = Seq("What do you think about this?", "Shall we pick this up later?",
      "Could you share more details?", "Does that work for everyone?",
      "When would be a good time?", "Have you seen the latest update?",
      "Is there anything else to add?", "Where should we go from here?")
    val longPool = Seq(
      "Here is a longer placeholder note standing in for the original message content.",
      "This message was replaced with neutral text while keeping its position in the thread.",
      "The original content of this message has been rewritten for the anonymized export.",
      "A substitute paragraph fills this slot so conversation structure stays intact.",
      "This entry keeps the timing and ordering of the thread without the source text.",
      "Replacement body text preserves the shape of the discussion for downstream tools.",
      "The anonymizer swapped this message for boilerplate of a comparable length class.",
      "Longer filler content appears here in place of the author's original writing.")
  }

  def pseudonymize(spark: SparkSession, dir: String): DataFrame = {
    import Pseudonyms._
    def pick(pool: Seq[String], idx: org.apache.spark.sql.Column) =
      element_at(array(pool.map(lit): _*), (idx % pool.size).cast("int") + 1)
    // Knuth multiplicative hash, identical arithmetic on both engines.
    // The input is PRE-MASKED to 2^31 before the multiply so the BIGINT
    // product stays under 2^63 for ANY id: DuckDB raises on BIGINT
    // overflow (it does not wrap), so an unmasked multiply would make
    // Spark (wrapping) and the oracle (error) diverge once ids reach
    // ~3.47e9 (ADVICE r13). 2^31·2654435761 ≈ 5.7e18 < Long.Max, and
    // the mask is the identity for every id below 2^31 — same
    // pre-mod trick as tokenBudget's hkey (doc_id % 1048576).
    def khash(c: org.apache.spark.sql.Column) =
      pmod(pmod(c, lit(2147483648L)) * lit(2654435761L), lit(4294967296L))
    val authors = Tables.events(spark, dir).select("user_id").distinct()
      .withColumn("base", (khash(col("user_id")) % basePool.size).cast("int"))
      .withColumn("ord", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("base").orderBy("user_id")))
      .withColumn("pseudonym",
        concat(element_at(array(basePool.map(lit): _*), col("base") + 1), lit("-"), col("ord")))
      .select("user_id", "pseudonym")
    // the reference checks emptiness on the STRIPPED text but lengths
    // and the trailing-'?' on the RAW text — replayed as-is
    val raw = col("props")
    val len = length(raw)
    val idx = khash(col("event_id"))
    val rewritten =
      when(raw.isNull || length(trim(raw)) === 0, pick(questionPool, idx))
        .when(raw.endsWith("?"), pick(questionPool, idx))
        .when(len < 20, pick(shortPool, idx))
        .when(len < 50, pick(questionPool, idx))
        .otherwise(pick(longPool, idx))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("props"))
      .join(broadcast(authors), "user_id")
      .select(col("event_id"), col("pseudonym"), rewritten.as("text"))
      .orderBy("event_id")
  }

  private[operators] case class DocTok(lang: String, doc_id: Long, wc: Long)

  /** q57: greedy sequence packing — fill fixed token-budget training
    * sequences with documents in (lang, doc_id) order; a doc that
    * would overflow the open pack starts the next one (an oversized
    * doc owns a pack alone). The greedy fold's state (open-pack fill)
    * makes it inexpressible as a window function — it is a sorted
    * per-partition fold, the same physical shape as sessionize-by-
    * sort: one shuffle on lang, one sort within partitions, one
    * streaming pass. At 100 TB you pack per (lang, shard) — drop the
    * doc_id sort key down to shard granularity and the fold
    * parallelizes arbitrarily with identical per-shard semantics; the
    * global per-lang order here exists so the DuckDB recursive-CTE
    * oracle can replay the exact fold.
    */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 256): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), TextAnalysis.wordCount.cast("long").as("wc"))
      .as[DocTok]
      .repartition(col("lang"))
      .sortWithinPartitions("lang", "doc_id")
      .mapPartitions { it =>
        // langs are contiguous after the sort; reset the fold on a
        // lang boundary. State is two longs — constant memory.
        var curLang: String = null
        var pack = 0L
        var acc = 0L
        it.map { d =>
          if (d.lang != curLang) { curLang = d.lang; pack = 0L; acc = d.wc }
          else if (acc + d.wc > budget) { pack += 1; acc = d.wc }
          else acc += d.wc
          (d.lang, d.doc_id, d.wc, pack)
        }
      }
      .toDF("lang", "doc_id", "wc", "pack_id")
      .orderBy("lang", "doc_id")
  }

  private[operators] case class DocTokS(lang: String, shard: Long, doc_id: Long, wc: Long)

  /** q57b: SHARDED sequence packing — the 100 TB spelling of q57
    * (VERDICT r06: `repartition(lang)` packs each language in ONE
    * task; any real pretraining corpus is one dominant language).
    * Shard = doc_id DIV shardWidth — a fixed-width, data-independent
    * range bucket, so the fold key becomes (lang, shard) and the
    * dominant language parallelizes across ⌈|lang|/shardWidth⌉ tasks
    * while the fold inside a shard is IDENTICAL to the global fold
    * run on that shard's documents alone (spec-pinned law: packing is
    * a per-key streaming fold, so restricting the input restricts the
    * output). Pack ids are per-(lang, shard) — at training time a
    * pack is addressed (lang, shard, pack_id), which is exactly how a
    * sharded corpus addresses its sequences anyway. Oracle-EXACT: the
    * DuckDB twin replays the same fold as a recursive CTE partitioned
    * by (lang, shard).
    */
  def packSequencesSharded(spark: SparkSession, dir: String, budget: Long = 256,
                           shardWidth: Long = 128): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("lang"), expr(s"doc_id DIV $shardWidth").as("shard"),
        col("doc_id"), TextAnalysis.wordCount.cast("long").as("wc"))
      .as[DocTokS]
      .repartition(col("lang"), col("shard"))
      .sortWithinPartitions("lang", "shard", "doc_id")
      .mapPartitions { it =>
        // (lang, shard) runs are contiguous after the sort; reset the
        // fold on either boundary. State is two longs — constant memory.
        var curLang: String = null
        var curShard = Long.MinValue
        var pack = 0L
        var acc = 0L
        it.map { d =>
          if (d.lang != curLang || d.shard != curShard) {
            curLang = d.lang; curShard = d.shard; pack = 0L; acc = d.wc
          }
          else if (acc + d.wc > budget) { pack += 1; acc = d.wc }
          else acc += d.wc
          (d.lang, d.shard, d.doc_id, d.wc, pack)
        }
      }
      .toDF("lang", "shard", "doc_id", "wc", "pack_id")
      .orderBy("lang", "shard", "doc_id")
  }

  /** q58: distinctive terms per language — tf weighted by integer
    * df-rarity (n_langs − df + 1), the exact-arithmetic analog of
    * tf-idf: ln-idf would hinge on libm bit-parity across engines
    * (Java Math.log vs DuckDB std::log can differ in the last ulp),
    * so the weight stays in ℤ and the result stays hash-EXACT.
    * tf and df shuffle on the word key (hash-derived, skew-safe);
    * n_langs is a broadcast scalar.
    */
  def distinctiveTerms(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs.select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nLangs = docs.select(countDistinct(col("lang")).as("n_langs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("score").desc, col("word"))
    tf.join(dfc, "word")
      .crossJoin(broadcast(nLangs))
      .withColumn("score", col("tf") * (col("n_langs") - col("df") + 1))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select("lang", "word", "tf", "df", "score", "rk")
      .orderBy("lang", "rk")
  }

  /** q59: balanced stratified sampling — downsample every
    * (lang, source) stratum to ≈ the smallest stratum's size, keyed
    * by a deterministic multiplicative hash of doc_id (Knuth's
    * 2654435761) so the sample is reproducible run-over-run and
    * engine-independent (pure integer arithmetic — no RNG, no
    * engine-internal hash). doc_id is reduced mod 2^20 BEFORE the
    * multiply — same value mod 2^20, but the product peaks at ~2^51
    * instead of overflowing signed 64-bit past doc_id ≈ 3.47e9
    * (ADVICE r07: the unreduced spelling silently dropped such docs).
    * Two linear passes: tiny strata-count
    * frame (broadcast back), then one scan with a per-row threshold
    * test — no shuffle of the data itself, which is what makes this
    * the 100 TB spelling (sampling must never need a global sort).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "source")
    val strata = docs.groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
    val minCnt = strata.agg(min("cnt").as("min_cnt"))
    val thr = strata.crossJoin(broadcast(minCnt))
      .withColumn("thr", expr("(min_cnt * 1048576) div cnt"))
      .select("lang", "source", "thr")
    docs.join(broadcast(thr), Seq("lang", "source"))
      .withColumn("hkey", expr("((doc_id % 1048576) * 2654435761) % 1048576"))
      .filter(col("hkey") < col("thr"))
      .select("doc_id", "lang", "source", "hkey")
      .orderBy("doc_id")
  }

  /** q65: TEMPERATURE data mixing (α = 0.5) — the standard
    * multilingual/multi-source rebalancing step between "curated
    * corpus" and "training batches": source s keeps rate
    * √min_cnt / √cnt_s, so post-mix shares follow p_s^α instead of
    * p_s (a 1:4 source imbalance flattens to 1:2; the smallest
    * source is kept whole). q59 is the α→0 extreme (full
    * equalization); this is the tunable-in-between the pretraining
    * recipes actually use.
    *
    * ORACLE-EXACT despite the real-valued rates: sqrt is IEEE-754
    * correctly rounded in BOTH engines (unlike ln/exp, which is why
    * q58 avoids idf), the rate arithmetic is a fixed left-assoc
    * chain of exact IEEE ops, and the keep rule is the same
    * deterministic multiplicative doc_id hash as q59 — no RNG, no
    * engine-internal hashing, reproducible run-over-run. Same scale
    * shape as q59: tiny strata frame broadcast back, one scan, ZERO
    * shuffle of the data itself.
    */
  /** q69: robust LENGTH-OUTLIER screen — per-source exact median and
    * MAD (median absolute deviation) over word counts, flagging docs
    * beyond k·MAD: the classic heavy-tail clip (truncation artifacts,
    * concatenation bugs, boilerplate walls) that mean/stddev screens
    * miss because the outliers they're hunting drag the mean.
    *
    * EXACT medians at 100 TB without a global sort (the q68
    * discipline): word counts are small integers, so each source's
    * entire order statistics live in its (wc → count) histogram — a
    * frame bounded by |distinct wc| per source. The lower median is
    * the value whose cumulative range covers position ⌈n/2⌉ (a pure
    * positional law — no tie ambiguity, engines can't disagree), and
    * MAD is the same law over the |wc − med| histogram. Every value
    * in the output is an INTEGER ⇒ ORACLE-EXACT with no float
    * caveats at all.
    */
  def lengthOutliers(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextAnalysis.wordCount.cast("long").as("wc"))
    def medianOf(vals: DataFrame, valCol: String): DataFrame = {
      // vals: (source, <valCol>) one row per doc — positional lower
      // median via the per-source histogram's running sum
      val h = vals.groupBy("source", valCol).agg(count(lit(1)).as("c"))
      val cumW = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(valCol)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val tot = vals.groupBy("source").agg(count(lit(1)).as("n"))
      h.withColumn("cum", coalesce(sum("c").over(cumW), lit(0L)))
        .join(broadcast(tot), "source")
        .withColumn("pos", expr("(n + 1) DIV 2"))
        .filter(col("cum") < col("pos") && col("cum") + col("c") >= col("pos"))
        .select(col("source"), col(valCol).as("m"))
    }
    val med = medianOf(docs, "wc").withColumnRenamed("m", "med")
    val withMed = docs.join(broadcast(med), "source")
      .withColumn("dev", abs(col("wc") - col("med")))
    val mad = medianOf(withMed.select(col("source"), col("dev")), "dev")
      .withColumnRenamed("m", "mad")
    withMed.join(broadcast(mad), "source")
      .withColumn("is_outlier", col("dev") > col("mad") * k)
      .select("doc_id", "source", "wc", "med", "mad", "dev", "is_outlier")
      .orderBy("doc_id")
  }

  /** q68: MIXTURE-DRIFT report — per-(source, global length-decile)
    * observed vs expected counts with a χ² contribution: the
    * monitoring check a training-data pipeline runs when a new crawl
    * batch or re-weighted mix lands ("did source X's length
    * distribution move?"). Sources whose documents concentrate in
    * extreme deciles light up; the per-cell contributions ARE the
    * report (no global χ² sum — summing doubles across rows is
    * order-undefined in BOTH engines, per-cell values are exact
    * fixed-order arithmetic on integer counts ⇒ ORACLE-EXACT).
    *
    * Global deciles without a global sort (the q08/q63b discipline):
    * word counts are small integers, so the exact quantile structure
    * lives in the (wc → count) aggregate — a frame bounded by
    * |distinct wc| rows, NOT corpus size. One unpartitioned running
    * sum over that tiny frame assigns each wc VALUE a bin via the
    * positional law bin = ⌊cum_before · bins / N⌋ (ties share a bin
    * by construction — no doc_id tie-split, so the binning is
    * value-deterministic); docs then pick up bins by a broadcast
    * join on wc. Two data shuffles total (wc histogram, source×bin
    * rollup) — the corpus is never globally sorted.
    */
  def mixDrift(spark: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextAnalysis.wordCount.as("wc"))
    val wcs = docs.groupBy("wc").agg(count(lit(1)).as("c"))
    val cumW = org.apache.spark.sql.expressions.Window.orderBy("wc")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val total = docs.agg(count(lit(1)).as("n_total"))
    val binOf = wcs
      .withColumn("cum", coalesce(sum("c").over(cumW), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("bin",
        least(lit(bins - 1), floor(col("cum") * bins / col("n_total"))).cast("int"))
      .select("wc", "bin")
    val binned = docs.join(broadcast(binOf), "wc")
    val bySrc = binned.groupBy("source").agg(count(lit(1)).as("n_src"))
    val byBin = binned.groupBy("bin").agg(count(lit(1)).as("n_bin"))
    binned.groupBy("source", "bin").agg(count(lit(1)).as("n_obs"))
      .join(broadcast(bySrc), "source")
      .join(broadcast(byBin), "bin")
      .crossJoin(broadcast(total))
      .withColumn("expected",
        col("n_src").cast("double") * col("n_bin").cast("double") / col("n_total").cast("double"))
      .withColumn("chi",
        round((col("n_obs").cast("double") - col("expected")) *
          (col("n_obs").cast("double") - col("expected")) / col("expected"), 6))
      .withColumn("expected", round(col("expected"), 6))
      .select("source", "bin", "n_obs", "n_src", "n_bin", "n_total", "expected", "chi")
      .orderBy("source", "bin")
  }

  /** q70: IMPORTANCE-WEIGHTED data selection — the n-gram
    * likelihood-ratio selector a pretraining pipeline runs to upweight
    * corpus documents that "look like" a small high-quality target set
    * (the DSIR recipe of Xie et al. 2023, arXiv:2302.03169: score raw
    * docs by how much more probable their n-gram features are under
    * the target distribution than the raw distribution, then select /
    * resample by that weight). Two departures keep it ORACLE-EXACT
    * (this file's no-transcendentals rule):
    *
    *   - DSIR's per-doc score is Σ log p_t(g)/p_r(g); ln is not
    *     bit-portable across engines, so the score here is the
    *     ARITHMETIC likelihood ratio (Σ c_t(g) / N_t) / (Σ c_r(g) /
    *     N_r) — integer occurrence sums with ONE final double
    *     expression (two products, one division — exact IEEE both
    *     engines). Same ordering intuition: grams common in the
    *     target and rare in the raw pool push w above 1.
    *   - DSIR pools grams into 10⁴ hash buckets for density; bucket
    *     pooling under OUR 64-bit fnv is irreproducible in the
    *     DuckDB oracle, so statistics stay per-gram (the unpooled
    *     limit of the same estimator).
    *
    * Target set = doc_id ≡ 0 (mod targetMod), the q54 derivation
    * trick. Plan shape is q66's end-to-end string-free discipline:
    * bigram OCCURRENCE hashes (kgram_hashes, 8 bytes) ride the one
    * gram-keyed shuffle; per-gram class counts come from a
    * count-over-Window on the exploded frame (no groupBy+join-back
    * double shuffle); the per-doc rollup is the second shuffle. The
    * slim per-doc frame (5 numeric cols) is persisted and serves both
    * the class totals and the output — at 100 TB that persist replaces
    * a second full text scan (the DupGraph persist-before-double-read
    * rule). explode_outer keeps gram-less docs through the rollup with
    * n_grams 0 / NULL weight (q54's sentinel discipline). Output
    * carries only gram-equality counts ⇒ the DuckDB oracle runs the
    * identical statistics on string bigrams (hash ≡ string grouping
    * pinned by KGramHashParitySpec).
    */
  def importanceSelect(spark: SparkSession, dir: String,
                       targetMod: Int = 7, thr: Double = 1.0): DataFrame = {
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % targetMod === 0).as("tgt"),
        expr("kgram_hashes(text, 2)").as("gs"))
      .select(col("doc_id"), col("tgt"), explode_outer(col("gs")).as("g"))
    val wG = org.apache.spark.sql.expressions.Window.partitionBy("g")
    // per-gram class occurrence counts; the isNotNull guard zeroes the
    // shared NULL-gram partition (gram-less docs) so its ct/cr are 0
    val stats = ex
      .withColumn("ct", sum(when(col("tgt") && col("g").isNotNull, 1L).otherwise(0L)).over(wG))
      .withColumn("cr", sum(when(!col("tgt") && col("g").isNotNull, 1L).otherwise(0L)).over(wG))
    val perdoc = Shared.persist(spark, "importanceSelect",
      stats.groupBy("doc_id", "tgt")
        .agg(sum(when(col("g").isNotNull, 1L).otherwise(0L)).as("n_grams"),
          sum(when(col("g").isNotNull, col("ct")).otherwise(0L)).as("sum_t"),
          sum(when(col("g").isNotNull, col("cr")).otherwise(0L)).as("sum_r")))
    val totals = perdoc.groupBy().agg(
      sum(when(col("tgt"), col("n_grams")).otherwise(0L)).as("nt"),
      sum(when(!col("tgt"), col("n_grams")).otherwise(0L)).as("nr"))
    // w = (sum_t/nt)/(sum_r/nr) = sum_t·nr / (sum_r·nt); sum_r ≥
    // n_grams ≥ 1 here (a raw doc's own occurrences count in c_r),
    // so the only guarded case is the gram-less NULL row
    perdoc.filter(!col("tgt"))
      .crossJoin(broadcast(totals))
      .withColumn("w", when(col("n_grams") > 0,
        round(col("sum_t").cast("double") * col("nr") /
          (col("sum_r").cast("double") * col("nt")), 6)))
      .withColumn("selected", coalesce(col("w") >= thr, lit(false)))
      .select("doc_id", "n_grams", "sum_t", "sum_r", "w", "selected")
      .orderBy("doc_id")
  }

  /** q72: cross-source OVERLAP matrix — the contamination diagnostic
    * a curation pipeline runs when sources are acquired separately
    * (two crawls, a crawl + a curated set): for every source pair,
    * the count of shared distinct bigrams and the vocabulary Jaccard.
    * High overlap means one source largely re-crawls another and
    * deduplication must run ACROSS them, not per-source; near-zero
    * overlap licenses per-source sharding of the expensive dedups.
    *
    * String-free (q66's discipline): distinct occurrence
    * `kgram_hashes` per (source, gram) ride the shuffles; the output
    * carries only gram-equality counts, so the DuckDB oracle runs the
    * identical statistics on string bigrams (hash ≡ string grouping
    * pinned by KGramHashParitySpec). Shape: one distinct over
    * (source, gram-hash), a self-equijoin on gram restricted to
    * source_a < source_b (per-gram fanout bounded by C(|sources|, 2)
    * — sources are a CATALOG dimension, not a data dimension), and a
    * broadcast of the tiny per-source totals onto the full ordered
    * pair domain so zero-overlap pairs surface explicitly. Jaccard is
    * ONE long/long double division (exact IEEE both engines);
    * try_divide guards the empty-vocabulary degenerate pair.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ex = Shared.persist(spark, "sourceOverlap",
      Tables.documents(spark, dir)
        .select(col("source"), explode(expr("array_distinct(kgram_hashes(text, 2))")).as("g"))
        .distinct())
    val perSource = ex.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    broadcast(perSource.select(col("source").as("source_a"), col("n").as("n_a")))
      .crossJoin(broadcast(perSource.select(col("source").as("source_b"), col("n").as("n_b"))))
      .filter(col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("jaccard", try_divide(col("n_shared").cast("double"),
        (col("n_a") + col("n_b") - col("n_shared")).cast("double")))
      .select("source_a", "source_b", "n_a", "n_b", "n_shared", "jaccard")
      .orderBy("source_a", "source_b")
  }

  /** q73: corpus-boilerplate SPAN REMOVAL — the C4/CCNet span-dedup
    * rewrite stage (C4, arXiv:1910.10683 §2.2, cuts any three-
    * sentence span that repeats across the crawl; CCNet drops shared
    * paragraphs). This corpus has no sentence/line structure
    * (TESTDATA: single-line token streams), so the unit is the token
    * k-gram: a k-gram appearing in ≥ minDocs DISTINCT documents is
    * boilerplate, and every token position it covers is cut from
    * every document. q64 DETECTS pairwise shared spans (≥ 2 docs,
    * report-only); q73 is the complementary REWRITE: a corpus-
    * frequency threshold plus the cleaned text itself — the pii-scrub
    * shape (q55) driven by corpus statistics instead of regexes.
    *
    * Scale shape (q64's slim-gram discipline):
    *   1. one scan hashes each doc's grams natively (`kgram_hashes`,
    *      codegen) into a slim (doc_id, pos, g) frame — 8-byte FNV
    *      hashes ride every shuffle, never gram strings — persisted
    *      spill-safe because BOTH consumers (the df-aggregation and
    *      the semi-join probe) need it and their exchanges don't
    *      canonicalize equal (partial agg sits below one), so
    *      unpersisted it would re-scan + re-hash the corpus;
    *   2. boilerplate = grams whose DISTINCT-doc count ≥ minDocs —
    *      partial agg collapses per-doc repeats map-side, keys are
    *      content-derived and near-uniform;
    *   3. a left-semi join keeps covered START positions; one
    *      groupBy(doc_id) collects them (bounded by doc length) and
    *      a single array expression expands starts → covered
    *      position SET per doc — no per-position explode, no window;
    *   4. the rewrite is a per-row indexed filter of the token array
    *      against that set (O(len · covered), bounded by doc
    *      length²) — zero shuffles beyond the one groupBy(doc_id).
    *
    * Output carries integers and rewritten strings only (no floats,
    * no hash bits): ORACLE-EXACT vs a string-gram DuckDB CTE (hash ≡
    * string blocking pinned corpus-wide by KGramHashParitySpec; q66
    * precedent for the collision-free gate corpora, verified at both
    * gate scales).
    */
  def boilerplateSpans(spark: SparkSession, dir: String, k: Int = 3,
      minDocs: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val grams = Shared.persist(spark, "boilerplateSpans",
      docs.select(col("doc_id"),
        posexplode(expr(s"kgram_hashes(text, $k)")).as(Seq("pos", "g"))))
    val boiler = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select("g")
    val starts = grams.join(boiler, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("starts"))
    val covered = array_sort(array_distinct(flatten(
      transform(col("starts"), s => sequence(s, s + lit(k - 1))))))
    docs.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col("doc_id"), col("source"), col("toks"), covered.as("cov"))
      .select(
        col("doc_id"), col("source"),
        size(col("toks")).cast("int").as("n_tokens"),
        size(col("cov")).cast("int").as("n_covered"),
        concat_ws(" ",
          filter(col("toks"), (t, i) => !array_contains(col("cov"), i))).as("clean_text"))
      .orderBy("doc_id")
  }

  /** q74: TOKEN-BUDGET quality fill — the "data recipe" selection
    * stage that follows quality gating in a pretraining pipeline:
    * given a per-source token budget (budgetPct of each source's
    * tokens), fill it from the BEST quality bins down and resolve
    * the partially-affordable boundary bin by deterministic hash
    * sampling at the exact rate that meets the budget in
    * expectation. Quality = the Gopher rule-pass count (0..7, q71's
    * integer rules via the shared gopherFlags projection — one
    * definition, both operators), so ranking needs no floats and no
    * per-doc ordering.
    *
    * Scale shape — a budgeted selection with NO global (or even
    * per-source) sort over documents:
    *   1. one zero-shuffle scan computes wc, the 7 rule flags, and
    *      the q59/q65 bounded multiplicative hash key;
    *   2. the only aggregation shuffles (source, n_pass) — a frame
    *      bounded by |sources| × 8, NOT by corpus size; the two
    *      windows (cumulative better-bin tokens, per-source total)
    *      run over that tiny frame (the q68/q69 histogram
    *      discipline);
    *   3. the 160-row fill plan broadcasts back onto the doc scan:
    *      bins that fit entirely are kept outright, the boundary
    *      bin keeps doc iff hkey·bin_wc < remaining·2^20 — the
    *      q59 keep-rule shape, in decimal(38,0) so the product can
    *      never overflow long at 100 TB bin sizes (a 1.5e13-token
    *      bin × 2^20 hkey exceeds 2^63; the r08 hkey lesson).
    * Every doc appears in the output with its keep decision —
    * integers and booleans only, ORACLE-EXACT.
    */
  def tokenBudget(spark: SparkSession, dir: String, budgetPct: Int = 50,
      minWords: Long = TextAnalysis.Gopher.MinWords,
      maxWords: Long = TextAnalysis.Gopher.MaxWords,
      meanLenMin10: Long = TextAnalysis.Gopher.MeanLenMin10,
      meanLenMax10: Long = TextAnalysis.Gopher.MeanLenMax10,
      stopwords: Seq[String] = TextAnalysis.Gopher.Stopwords,
      minStopwords: Long = TextAnalysis.Gopher.MinStopwords): DataFrame = {
    require(budgetPct >= 0 && budgetPct <= 100, s"budgetPct in [0,100]: $budgetPct")
    // BOTH consumers (the fill histogram and the final keep join)
    // need the scored frame, and the rule pass is the expensive part
    // (regex flags over text) — persist the SLIM projection (five
    // integers per doc, text already dropped) so the corpus text is
    // scanned and scored exactly once (q73's persist-for-two-readers
    // discipline; measured 1.46s → ~0.6s at sf0.1)
    val scored = Shared.persist(spark, "tokenBudget",
      budgetScoredFrame(spark, dir, minWords, maxWords,
        meanLenMin10, meanLenMax10, stopwords, minStopwords))
    tokenBudgetOn(scored, budgetPct)
  }

  /** The (doc_id, source, wc, n_pass, hkey) scored projection the
    * budget fill reads — factored out so q77 can derive it ONCE and
    * share the persisted copy with the canonical-pick gate.
    */
  private def budgetScoredFrame(spark: SparkSession, dir: String,
      minWords: Long, maxWords: Long, meanLenMin10: Long, meanLenMax10: Long,
      stopwords: Seq[String], minStopwords: Long): DataFrame = {
    val flags = TextAnalysis.Gopher.FlagCols
    TextAnalysis.gopherFlags(
        Tables.documents(spark, dir).select("doc_id", "source", "text"),
        Seq("doc_id", "source"),
        minWords, maxWords, meanLenMin10, meanLenMax10, stopwords, minStopwords)
      .select(col("doc_id"), col("source"), col("n_words").as("wc"),
        flags.map(c => col(c).cast("int")).reduce(_ + _).as("n_pass"),
        expr("((doc_id % 1048576) * 2654435761) % 1048576").as("hkey"))
  }

  /** The budget fill + keep rule over an already-derived (and ideally
    * persisted) scored frame — tokenBudget's second half, single
    * definition shared with q77's funnel.
    */
  private[graft] def tokenBudgetOn(scored: DataFrame, budgetPct: Int = 50): DataFrame = {
    val wSrc = Window.partitionBy("source")
    val wCum = wSrc.orderBy(col("n_pass").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val fill = scored.groupBy("source", "n_pass")
      .agg(sum("wc").as("bin_wc"))
      .withColumn("cum_hi", coalesce(sum("bin_wc").over(wCum), lit(0L)))
      .withColumn("tot", sum("bin_wc").over(wSrc))
      .withColumn("budget", expr(s"(tot * $budgetPct) div 100"))
      .withColumn("keep_all", col("cum_hi") + col("bin_wc") <= col("budget"))
      .withColumn("remaining", greatest(col("budget") - col("cum_hi"), lit(0L)))
      .select("source", "n_pass", "bin_wc", "keep_all", "remaining")
    scored.join(broadcast(fill), Seq("source", "n_pass"))
      .withColumn("kept", col("keep_all") ||
        col("hkey").cast("decimal(38,0)") * col("bin_wc").cast("decimal(38,0)") <
          col("remaining").cast("decimal(38,0)") * lit(1048576L).cast("decimal(38,0)"))
      .select("doc_id", "source", "wc", "n_pass", "kept")
      .orderBy("doc_id")
  }

  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "source")
    val strata = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
    val minCnt = strata.agg(min("cnt").as("min_cnt"))
    val thr = strata.crossJoin(broadcast(minCnt))
      .withColumn("thr",
        floor(sqrt(col("min_cnt").cast("double")) / sqrt(col("cnt").cast("double")) * 1048576)
          .cast("long"))
      .select("source", "thr")
    docs.join(broadcast(thr), Seq("source"))
      .withColumn("hkey", expr("((doc_id % 1048576) * 2654435761) % 1048576"))
      .filter(col("hkey") < col("thr"))
      .select("doc_id", "lang", "source", "hkey", "thr")
      .orderBy("doc_id")
  }
}
