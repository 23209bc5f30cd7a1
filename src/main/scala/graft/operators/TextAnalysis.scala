package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis family for LLM-pipeline workloads (SURVEY.md §2 E)
  * plus the reference's word-count analytics.
  *
  * Word counting follows the reference's SQL formula exactly
  * (analyze_dialogues.py:268-277: trimmed length minus space-stripped
  * length + 1) so oracle results agree symbol-for-symbol.
  * All scoring arithmetic is fixed-order double math on exact integer
  * inputs — identical bits on any engine.
  */
object TextAnalysis {

  /** Reference word-count formula (analyze_dialogues.py:273). */
  private[operators] val wordCount: Column =
    when(trim(col("text")) === "", 0)
      .otherwise(length(trim(col("text"))) - length(regexp_replace(trim(col("text")), " ", "")) + 1)

  private val stopwords = Seq("the", "a", "and", "of", "to")

  /** q07: word-count quantile summary (analyze_word_quantiles —
    * min/q25/median/q75/q90/q95/q99.7/max/mean over per-doc counts).
    */
  def wordQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(wordCount.as("wc"))
      .agg(
        min("wc").as("min_wc"),
        expr("percentile(wc, 0.25)").as("q25"),
        expr("percentile(wc, 0.5)").as("median"),
        expr("percentile(wc, 0.75)").as("q75"),
        expr("percentile(wc, 0.9)").as("q90"),
        expr("percentile(wc, 0.95)").as("q95"),
        expr("percentile(wc, 0.997)").as("q997"),
        max("wc").as("max_wc"),
        (sum("wc").cast("double") / count(lit(1))).as("mean_wc"))

  /** q30: token/char stats per language. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("text"), wordCount.as("wc"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("wc").as("total_tokens"),
        sum(length(col("text"))).as("total_chars"),
        (sum(length(regexp_replace(col("text"), " ", ""))).cast("double") / sum("wc"))
          .as("avg_word_len"),
        (sum("wc").cast("double") / count(lit(1))).as("avg_tokens_per_doc"))
      .orderBy("lang")

  /** Per-doc quality WITHOUT the presentation sort — the join-ready
    * internal shape shared by q31 (which only adds the ORDER BY) and
    * the multimodal quality join (q34d), which must not pay a global
    * sort on its build side. Carries `lang` so downstream dims don't
    * need a second `documents` scan.
    */
  def qualityPerDoc(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), wordCount.as("wc"), nStop.as("n_stop"))
      // try_divide: a zero-word doc must yield NULL (DuckDB's double/0
      // semantics), not an ANSI DIVIDE_BY_ZERO abort of the whole job
      .withColumn("stop_ratio", try_divide(col("n_stop").cast("double"), col("wc")))
      .withColumn("len_score", least(lit(1.0), length(col("text")).cast("double") / 500.0))
      .withColumn("quality", round(col("stop_ratio") * 0.5 + col("len_score") * 0.5, 6))
  }

  /** q31: per-doc quality score — stopword ratio + length score,
    * the length/punct/stopword heuristic family used for pretraining
    * data filtering. Fixed-order double arithmetic.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityPerDoc(spark, dir)
      .select("doc_id", "wc", "n_stop", "stop_ratio", "len_score", "quality")
      .orderBy("doc_id")

  /** q32: n-gram-heuristic language ID vs the labeled `lang` —
    * stopword-hit voting with a deterministic tie order, reported as
    * a confusion matrix. (Synthetic corpus shares one vocabulary, so
    * the interesting part is the declarative voting plan, not the
    * accuracy.)
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    def hits(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
    Tables.documents(spark, dir)
      // one split instead of three (one per language's hit counter)
      .select(col("lang"), split(col("text"), " ").as("toks"))
      .select(col("lang"),
        hits(Seq("the", "a", "and")).as("h_en"),
        hits(Seq("el", "la", "de", "y")).as("h_es"),
        hits(Seq("le", "et", "un", "du")).as("h_fr"))
      .withColumn("pred_lang",
        when(col("h_en") >= col("h_es") && col("h_en") >= col("h_fr"), "en")
          .when(col("h_es") >= col("h_fr"), "es")
          .otherwise("fr"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** q35: BPE-ish regex tokenization — the pretraining-pipeline token
    * counter: runs of letters, runs of digits, or single
    * non-alphanumeric symbols (the GPT-2 pre-tokenizer shape).
    * Compared per lang against whitespace tokens.
    */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe"),
        wordCount.as("wc"))
      .groupBy("lang")
      .agg(
        sum("bpe").as("total_bpe_tokens"),
        sum("wc").as("total_ws_tokens"),
        (sum("bpe").cast("double") / count(lit(1))).as("avg_bpe_per_doc"),
        (sum("bpe").cast("double") / sum("wc")).as("bpe_per_word"))
      .orderBy("lang")

  /** q36: top words per language — the reference TUI's word-analysis
    * display (analyze_dialogues.py:311-335, word frequency views).
    * Count-desc with word tie-break, top 5 per lang.
    */
  def topWords(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("word"))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .orderBy("lang", "rk")
  }

  /** q38: document chunking — overlapping token windows (size 32,
    * stride 24), the training-sample prep step of an LLM pipeline.
    * One generate-and-explode pass; chunk starts at 1, 25, 49, …
    * while a full-or-partial window remains.
    */
  def docChunks(spark: SparkSession, dir: String, size: Int = 32, stride: Int = 24): DataFrame = {
    val toks = col("toks")
    Tables.documents(spark, dir)
      // materialize the split: inlined in the slice lambda it would
      // re-tokenize the document once per chunk (HOFs are interpreted,
      // no CSE — same trap as the shingle pipeline)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("lang"),
        posexplode(transform(
          sequence(lit(1), greatest(org.apache.spark.sql.functions.size(toks) - (size - 1), lit(1)), lit(stride)),
          i => slice(toks, i, lit(size)))).as(Seq("chunk_idx", "chunk_toks")))
      .select(col("doc_id"), col("lang"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("chunk_toks")).as("n_tokens"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q39: composed corpus prep — the end-to-end pretraining filter
    * chain: quality gate → exact-dup survivors → near-dup removal →
    * per-lang corpus stats. Each stage is one of the standalone
    * operators; this is the composition a 100TB data pipeline runs
    * nightly.
    *
    * The near-dup leg runs with the degenerate-clique belt ON
    * (`maxBlock` = Dedup.ComposedMaxBlock, VERDICT r17 item 4): this
    * composed spelling runs near-dup over the FULL corpus (exact-dup
    * only filters afterwards), so a verbatim mega-clique would land
    * in one min-shingle block — the star guard bounds it, and for a
    * verbatim clique the doc_b drop set is IDENTICAL (every member
    * pairs with the min-id anchor at jac 1.0). Gate-scale blocks are
    * two orders below the default, so the oracle is untouched.
    * q39b (exact-first) remains the primary scale prescription.
    */
  def corpusPrep(spark: SparkSession, dir: String, minQuality: Double = 0.3,
                 maxBlock: Int = Dedup.ComposedMaxBlock): DataFrame = {
    val quality = qualityScore(spark, dir)
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("wc"))
    val exactSurvivors = Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val nearDupDrop = Dedup.dedupNgramPairs(spark, Dedup.docShingles(spark, dir),
        maxBlock = maxBlock)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(quality, "doc_id")
      .join(exactSurvivors, Seq("doc_id"), "left_semi")
      .join(nearDupDrop, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("wc").as("total_tokens"))
      .orderBy("lang")
  }

  /** q39b: corpus prep in the SCALE composition order (VERDICT r15
    * item 4 made the prescription a measured rule; this makes it a
    * certified operator): the near-dup leg runs over EXACT-DEDUP
    * SURVIVORS instead of the full corpus, so min-shingle blocking
    * never sees a verbatim clique — the r16 mega-dup probe measured
    * the difference as Θ(C²) vs no-op (8.1s at +2k copies raw vs
    * 0.63s composed at +20k; SURVEY §4).
    *
    * Output ≡ q39 exactly, by this argument: a doc d's exact-group
    * minimum d0 carries IDENTICAL shingles (same text ⇒ same blocks,
    * same Jaccard), and d0 < d ≤ any doc d collides with — so for
    * every full-corpus pair (d, s) that drops a SURVIVOR s, the
    * survivor pair (d0, s) exists with the same block and jac and
    * drops s too, while non-survivor doc_bs were already dropped by
    * the exact gate. Pinned by spec AND by its own DuckDB oracle
    * (the near-dup CTE written over survivors).
    */
  def corpusPrepDedupFirst(spark: SparkSession, dir: String,
                           minQuality: Double = 0.3,
                           maxBlock: Int = Dedup.ComposedMaxBlock): DataFrame = {
    val quality = qualityScore(spark, dir)
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("wc"))
    val exactSurvivors = Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"), first(col("text")).as("text"))
      .select("doc_id", "text")
    // belt also on here (survivor blocks are never verbatim cliques,
    // but near-identical — non-equal — mega-groups can still exist)
    val nearDupDrop = Dedup.dedupNgramPairs(spark,
        Dedup.docShinglesOn(spark, exactSurvivors), maxBlock = maxBlock)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(quality, "doc_id")
      .join(exactSurvivors.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(nearDupDrop, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("wc").as("total_tokens"))
      .orderBy("lang")
  }

  /** q60: intra-document repetition signals — the Gopher/C4-family
    * quality rules that catch boilerplate and degenerate generation:
    * duplicate-word fraction, duplicate-bigram fraction, and the
    * character share of the single most frequent bigram. Every
    * counter — including the per-doc top-bigram multiplicity — is a
    * pure per-row function of the text, so the whole query is ONE
    * scan through the native `repetition_stats` codegen expression
    * (functions.RepetitionStats): no HOF chain, no explode, no
    * aggregation shuffle (VERDICT r06: the declarative spelling paid
    * an interpreted-HOF bigram build plus an avoidable explode +
    * two-level agg — 6.1s for 5k docs on a value computable per row).
    * All fractions are exact long/long IEEE divisions ⇒ ORACLE-EXACT.
    */
  def repetition(spark: SparkSession, dir: String,
                 topFracThr: Double = 0.125, dupWordThr: Double = 0.55): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr("repetition_stats(text)").as("r"))
      .select(col("doc_id"),
        col("r.n_words").as("n_words"),
        col("r.n_uniq_words").as("n_uniq_words"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.n_uniq_bigrams").as("n_uniq_bigrams"),
        col("r.top_bigram_cnt").as("top_bigram_cnt"))
      .withColumn("dup_word_frac",
        try_divide((col("n_words") - col("n_uniq_words")).cast("double"), col("n_words")))
      .withColumn("dup_bigram_frac",
        try_divide((col("n_bigrams") - col("n_uniq_bigrams")).cast("double"), col("n_bigrams")))
      .withColumn("top_bigram_frac",
        try_divide(col("top_bigram_cnt").cast("double"), col("n_bigrams")))
      // the top-bigram rule fires only when the top bigram actually
      // repeats — 1/n_bigrams alone would flag every short doc
      .withColumn("repetitive",
        coalesce(col("dup_word_frac") >= dupWordThr, lit(false)) ||
          (col("top_bigram_cnt") >= 2 &&
            coalesce(col("top_bigram_frac") >= topFracThr, lit(false))))
      .select("doc_id", "n_words", "n_uniq_words", "n_bigrams", "n_uniq_bigrams",
        "top_bigram_cnt", "dup_word_frac", "dup_bigram_frac", "top_bigram_frac", "repetitive")
      .orderBy("doc_id")
  }

  /** q63: quality-decile binning — ntile(10) per language over the
    * q31 quality score (the curriculum/sampling step that follows
    * quality scoring in a pretraining pipeline), rolled up to
    * per-(lang, bin) counts and score ranges. The ntile window
    * shuffles on lang with a total (quality desc, doc_id) order —
    * deterministic tie-breaks, identical bucket-boundary arithmetic
    * in both engines.
    */
  def qualityBins(spark: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(qualityScore(spark, dir).select("doc_id", "quality"), "doc_id")
      .withColumn("bin", ntile(bins).over(w))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        min("quality").as("min_q"), max("quality").as("max_q"))
      .orderBy("lang", "bin")
  }

  /** q63b: SKEW-SAFE quality binning — identical bins to q63 (same
    * oracle), but the per-lang ntile window is decomposed the way
    * q01b decomposes sessionization: Window.partitionBy(lang) alone
    * serializes a dominant language into one task, and ntile is
    * purely positional, so the global rank is rebuilt from
    * per-(lang, RANGE-BUCKET) pieces:
    *
    *   1. bucket = floor(quality·buckets) — monotone in the ORDER key
    *      (quality DESC ⇔ bucket DESC; equal qualities share a
    *      bucket; NULL quality → bucket −1, which sorts last under
    *      DESC exactly like ntile's default null placement);
    *   2. local rank within (lang, bucket) — the skew-split window:
    *      the hot language spreads over up to `buckets`+1 tasks;
    *   3. offset = rows in strictly-higher buckets (a window over the
    *      tiny |lang|×|buckets| count frame), rn = offset + local;
    *   4. bin from ntile's positional law: with c rows, q = c div n,
    *      r = c mod n, the first r bins hold q+1 rows.
    *
    * Identical-rn ⇒ identical-bin, so the result is bit-equal to q63
    * (spec-pinned on a planted 10×-skewed lang). Residual limit: a
    * corpus where one lang's quality mass concentrates in ONE bucket
    * re-serializes that bucket — the same residual q01b documents for
    * single-burst users; more buckets or a second split key fix it.
    */
  def qualityBinsChunked(spark: SparkSession, dir: String, bins: Int = 10,
                         buckets: Int = 64): DataFrame = {
    val scored = Tables.documents(spark, dir).select("doc_id", "lang")
      .join(qualityScore(spark, dir).select("doc_id", "quality"), "doc_id")
      .withColumn("bucket",
        when(col("quality").isNull, lit(-1))
          .otherwise(floor(col("quality") * buckets).cast("int")))
    val wLocal = Window.partitionBy("lang", "bucket").orderBy(col("quality").desc, col("doc_id"))
    val local = scored.withColumn("r", row_number().over(wLocal))
    val wOff = Window.partitionBy("lang").orderBy(col("bucket").desc)
    val offs = scored.groupBy("lang", "bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum("cnt").over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bucket", "off")
    val totals = scored.groupBy("lang").agg(count(lit(1)).as("c"))
    local.join(offs, Seq("lang", "bucket"))
      .join(broadcast(totals), "lang")
      .withColumn("rn", col("off") + col("r"))
      .withColumn("nq", expr(s"c DIV $bins"))
      .withColumn("rem", expr(s"c % $bins"))
      .withColumn("bin",
        when(col("rn") <= col("rem") * (col("nq") + 1),
          expr("(rn - 1) DIV (nq + 1) + 1"))
          .otherwise(expr("rem + (rn - rem * (nq + 1) - 1) DIV nq + 1"))
          .cast("int"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        min("quality").as("min_q"), max("quality").as("max_q"))
      .orderBy("lang", "bin")
  }

  /** q66: corpus-frequency RARITY score — the LM-free perplexity
    * proxy: per document, the mean and min corpus document-frequency
    * of its distinct bigram shingles. Template/boilerplate docs score
    * high-mean (their n-grams are everywhere); garbage/OCR noise
    * scores min=1 and low-mean (n-grams nobody else has) — the two
    * tails a curation pipeline clips when no language model is
    * available (the integer-exact cousin of a KenLM perplexity
    * filter; ln is not bit-portable across engines, plain counts
    * are).
    *
    * Scale spelling mirrors q64's r08 lesson END-TO-END string-free:
    * shingle HASHES (array_distinct over the native kgram_hashes —
    * distinct-of-hashes ≡ hashes-of-distinct modulo 64-bit
    * collisions) ride both shuffles at 8 bytes; df comes from a
    * count-over-Window on the exploded frame (ONE shuffle by gram,
    * q40's shape — a groupBy+join-back would shuffle the grams
    * twice), per-doc rollup is the second shuffle. Output carries
    * only counts ⇒ ORACLE-EXACT vs a string-shingle DuckDB CTE
    * (mean_df = exact integer sum / count in double — bit-equal
    * division on both engines).
    */
  def rarityScore(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), array_distinct(expr("kgram_hashes(text, 2)")).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    val wDf = Window.partitionBy("g")
    sh.withColumn("df", count(lit(1)).over(wDf))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        (sum("df").cast("double") / count(lit(1))).as("mean_df"),
        min("df").as("min_df"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("uniq_frac",
        round(col("n_unique").cast("double") / col("n_shingles"), 6))
      .select("doc_id", "n_shingles", "mean_df", "min_df", "n_unique", "uniq_frac")
      .orderBy("doc_id")
  }

  /** q33: content fingerprinting via the one-pass rolling-hash
    * expression; dup-group id = min doc_id per fingerprint.
    * GRADUATED to ORACLE-EXACT in r15: fingerprint64 is a pure
    * integer recurrence (h = h·31 + byte, wrapping 64-bit), replayed
    * verbatim in DuckDB as a HUGEINT byte fold mod 2^64 — the fp
    * column itself is oracle-checked, not just the group structure
    * (which q33b already anchored).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("fingerprint64(text)").as("fp"))
    val groups = fp.groupBy("fp").agg(min("doc_id").as("group_min"), count(lit(1)).as("group_n"))
    fp.join(groups, "fp").select("doc_id", "fp", "group_min", "group_n").orderBy("doc_id")
  }

  /** q33b: the ORACLE-EXACT twin of q33 (its structure surface, the
    * q28b graduation pattern): fingerprint GROUPS over documents plus
    * planted verbatim copies — group id (min doc_id) and size per
    * doc, WITHOUT the hash bits. fingerprint64 is a pure function of
    * the text, so equal texts always share a group (planted recovery
    * certain); unequal texts sharing a group would be a 64-bit
    * polynomial collision — deterministic for fixed texts, absent on
    * the gate corpora (verified bit-exact by the driver gate both
    * sf). The DuckDB oracle groups by the TEXT itself: identical
    * structure, no hash in sight. The 8-byte fingerprint is what
    * rides the shuffle at 100 TB, not the document text — q33 keeps
    * the raw-fingerprint surface, itself hash-EXACT via the
    * wrapping-integer fingerprint64 replay in its DuckDB oracle.
    */
  def fingerprintGroups(spark: SparkSession, dir: String,
                        every: Int = 20, idOffset: Long = 1000000L): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(explode(when(col("doc_id") % every === 0,
          array(col("doc_id"), col("doc_id") + idOffset))
        .otherwise(array(col("doc_id")))).as("doc_id"),
        col("text"))
      .select(col("doc_id"), expr("fingerprint64(text)").as("fp"))
    val groups = fp.groupBy("fp").agg(min("doc_id").as("group_min"), count(lit(1)).as("group_n"))
    fp.join(groups, "fp").select("doc_id", "group_min", "group_n").orderBy("doc_id")
  }

  /** q71: the GOPHER quality-filter rule set (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) — the per-document heuristic gate most
    * pretraining pipelines run before any model-based scoring: word
    * count in range, mean word length in range, bounded symbol ratio
    * (# / "..."), bounded bullet-start and ellipsis-end line rates, a
    * minimum alphabetic-word share, and a minimum count of distinct
    * function words. Every rule is stated on INTEGER counts with
    * cross-multiplied comparisons (10·n_sym ≤ n_words rather than
    * n_sym/n_words ≤ 0.1) so the output is ORACLE-EXACT with no float
    * anywhere — and every counter is emitted beside its flag so a
    * pipeline can re-threshold without rescanning text.
    *
    * Thresholds are parameters (paper defaults differ: 50 ≤ words ≤
    * 100k, mean len 3-10, Gopher's 8 English stopwords); the driver
    * entry tunes them to the synthetic corpus (lowercase, 10-99-word,
    * single-line docs) so each corpus-expressible rule is
    * non-vacuous — the stop list becomes the corpus's two function
    * words and the word/mean-length windows sit inside the observed
    * range. Line-shape and symbol rules are vacuously true here
    * (single-line, symbol-free corpus) and are exercised by planted
    * multi-line/symbol docs in the spec instead.
    *
    * Scale shape: a pure per-row map over (doc_id, text) — zero
    * shuffles, zero joins; only doc_id+text are read (column-pruned
    * scan) and the final orderBy is the output contract's range sort.
    * At 100 TB this is the cheapest possible pass: one codegen'd
    * projection per partition.
    */
  /** The corpus-default Gopher thresholds and the flag list — ONE
    * definition for every consumer (q71's gate, q74's budget fill,
    * the funnel family's quality spine, clusterReps' quality pick):
    * retuning a threshold in one gate must not silently
    * desynchronize n_pass between gates (the no-paste-drift rule;
    * these values were previously copy-pasted at four call sites).
    */
  private[graft] object Gopher {
    val MinWords = 30L; val MaxWords = 100000L
    val MeanLenMin10 = 42L; val MeanLenMax10 = 100L
    val Stopwords: Seq[String] = Seq("the", "a"); val MinStopwords = 2L
    val FlagCols: Seq[String] = Seq("r_words", "r_meanlen", "r_symbol", "r_alpha",
      "r_stop", "r_bullet", "r_ellipsis")
  }

  /** gopherFlags under the corpus defaults with the summed n_pass
    * appended — the spelling every default-threshold consumer shares.
    */
  private[graft] def gopherScored(in: DataFrame, keep: Seq[String]): DataFrame =
    gopherFlags(in, keep, Gopher.MinWords, Gopher.MaxWords,
      Gopher.MeanLenMin10, Gopher.MeanLenMax10, Gopher.Stopwords, Gopher.MinStopwords)
      .withColumn("n_pass", Gopher.FlagCols.map(c => col(c).cast("int")).reduce(_ + _))

  def gopherRules(spark: SparkSession, dir: String,
                  minWords: Long = Gopher.MinWords, maxWords: Long = Gopher.MaxWords,
                  meanLenMin10: Long = Gopher.MeanLenMin10,
                  meanLenMax10: Long = Gopher.MeanLenMax10,
                  stopwords: Seq[String] = Gopher.Stopwords,
                  minStopwords: Long = Gopher.MinStopwords): DataFrame =
    gopherFlags(Tables.documents(spark, dir).select("doc_id", "text"), Seq("doc_id"),
      minWords, maxWords, meanLenMin10, meanLenMax10, stopwords, minStopwords)
      .orderBy("doc_id")

  /** The q71 counter + flag projection over any frame carrying a
    * `text` column, preserving `keep` pass-through columns — shared
    * by q71 (keep = doc_id) and q74's budget fill (keep = doc_id,
    * source) so the rule arithmetic exists exactly once and both
    * stay a single zero-shuffle scan.
    */
  private[graft] def gopherFlags(in: DataFrame, keep: Seq[String],
                  minWords: Long, maxWords: Long,
                  meanLenMin10: Long, meanLenMax10: Long,
                  stopwords: Seq[String],
                  minStopwords: Long): DataFrame = {
    // escape embedded quotes: a stopword like "don't" would otherwise
    // break (or silently mis-parse) the interpolated SQL literal
    val stopArr = s"array(${stopwords.map(w => s"'${w.replace("\\", "\\\\").replace("'", "\\'")}'").mkString(", ")})"
    val k = keep.map(col)
    in
      .select(k ++ Seq(
        split(col("text"), " ").as("ws"),
        split(col("text"), "\n").as("ls"),
        col("text")): _*)
      .select(k ++ Seq(
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, 0L, (acc, x) -> acc + length(x))").as("n_chars"),
        ((length(col("text")) - length(expr("replace(text, '#', '')"))) +
          expr("(length(text) - length(replace(text, '...', ''))) div 3"))
          .cast("long").as("n_sym"),
        expr("size(filter(ws, x -> x rlike '[a-zA-Z]'))").cast("long").as("n_alpha"),
        expr(s"size(filter($stopArr, s -> array_contains(ws, s)))").cast("long").as("n_stop"),
        size(col("ls")).cast("long").as("n_lines"),
        expr("size(filter(ls, l -> substring(l, 1, 2) = '- ' OR substring(l, 1, 2) = '* '))")
          .cast("long").as("n_bullet"),
        expr("size(filter(ls, l -> right(l, 3) = '...'))").cast("long").as("n_ellipsis")): _*)
      .withColumn("r_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_meanlen",
        col("n_chars") * 10L >= col("n_words") * meanLenMin10 &&
          col("n_chars") * 10L <= col("n_words") * meanLenMax10)
      .withColumn("r_symbol", col("n_sym") * 10L <= col("n_words"))
      .withColumn("r_alpha", col("n_alpha") * 5L >= col("n_words") * 4L)
      .withColumn("r_stop", col("n_stop") >= minStopwords)
      .withColumn("r_bullet", col("n_bullet") * 10L <= col("n_lines"))
      .withColumn("r_ellipsis", col("n_ellipsis") * 10L <= col("n_lines") * 3L)
      .withColumn("pass_gopher",
        col("r_words") && col("r_meanlen") && col("r_symbol") && col("r_alpha") &&
          col("r_stop") && col("r_bullet") && col("r_ellipsis"))
  }
}
