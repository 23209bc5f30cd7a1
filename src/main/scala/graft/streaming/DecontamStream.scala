package graft.streaming

import graft.operators.Curation
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming decontamination gate — the online twin of q54/q54b: a
  * crawl/ingest stream is screened against a FROZEN benchmark gram
  * set before anything lands in the training corpus (the point in the
  * pipeline where decontamination actually wants to run: at ingest,
  * not as a nightly batch over data already mixed in).
  *
  * Same two-phase exactness as the batch q54b
  * (operators/Curation.decontaminateBloom):
  *
  *   1. SCREEN (map-side, zero state): every arriving gram tests
  *      against the benchmark's broadcast Bloom filter — no false
  *      negatives, so nothing contaminated can slip; the clean bulk
  *      of the stream dies in the stateless projection.
  *   2. VERIFY (exact): bloom-positive grams stream-static join the
  *      exact gram frame; counts come from verified hits only, so
  *      the fpp sliver of false positives is eliminated and the
  *      output is EXACT — identical to running batch q54 over the
  *      same documents (spec-pinned).
  *
  * The per-doc rollup is a flatMapGroupsWithState keyed by doc_id
  * (the corpusGate pattern): documents arrive whole within a
  * micro-batch (the ingest contract), state is ONE boolean seen-guard
  * per doc_id — constant bytes, evictable by timeout in a production
  * deployment. The same code path runs on a batch frame (Spark
  * executes mapGroupsWithState statelessly there), which is what the
  * stream ≡ batch spec leans on.
  */
object DecontamStream {

  /** Frozen benchmark side: the exact distinct-gram frame (persisted
    * — it is read by every micro-batch's verify join) plus its Bloom
    * sketch for the map-side screen.
    */
  case class BenchIndex(bench: DataFrame, bloom: Array[Byte])

  case class DecontamOut(doc_id: Long, n_grams: Int, n_overlap: Long,
                         rate: Option[Double], contaminated: Boolean)

  /** The frozen bench gram frame — ONE definition of "the bench set"
    * for every ingest gate (loadBench here, FunnelStream.load): the
    * bench slice rule is semantic glue between the exact gate, the
    * fuzzy gate and the funnel, so it must not be able to drift
    * between spellings. Persisted: every micro-batch's broadcast
    * reads it.
    */
  private[graft] def benchFrame(spark: SparkSession, dir: String,
                                benchMod: Int): DataFrame = {
    // registry-managed (one live copy per (dir, mod); same-plan
    // reloads reuse it) — the bare per-call persist stacked a cached
    // bench-gram copy per loadBench/FunnelStream.load in long-lived
    // sessions, the exact leak class ADVICE r12 flagged in Dedup
    graft.Shared.persist(spark, s"decontamStream.bench|$dir|$benchMod",
      Curation.docGrams3(spark, dir)
        .filter(col("doc_id") % benchMod === 0)
        .select(explode(col("g3")).as("g")).distinct())
  }

  def loadBench(spark: SparkSession, dir: String,
                benchMod: Int = 97, fpp: Double = 0.01): BenchIndex = {
    val bench = benchFrame(spark, dir, benchMod)
    BenchIndex(bench, Curation.bloomBytesFor(bench, fpp))
  }

  /** Frozen benchmark side for the FUZZY gate (the q76 screen at
    * ingest time): band buckets → bench ids, plus each bench doc's
    * sorted shingle set for the exact verify. Driver-collected —
    * eval suites are tiny by construction (the same asymmetry the
    * batch q76 leans on), and a broadcast Scala map is the cheapest
    * spelling of "probe a frozen tiny side from a stream".
    */
  case class FuzzyBenchIndex(buckets: Map[(Int, String), Array[Long]],
                             shingles: Map[Long, Array[String]],
                             k: Int, bands: Int)

  case class FuzzyOut(doc_id: Long, n_bench_matches: Long,
                      max_jac: Option[Double], best_bench_id: Option[Long],
                      contaminated: Boolean)

  /** The LSH banding layout over a `sig` column — delegates to the
    * batch definition (graft.operators.Dedup.bandCols): a stream
    * bucket must keep matching the batch operators' buckets, so
    * there is exactly ONE spelling of the layout in the codebase.
    */
  private[streaming] def bandCols(k: Int, bands: Int) =
    graft.operators.Dedup.bandCols(k, bands)

  /** One live FuzzyBenchIndex per (context, params) in
    * [[graft.Shared]], under the documents source token: the index is
    * a pure function of the documents source, and the build's driver
    * collect was re-paid on every FunnelStream.load / bench pass.
    * Keyed by SparkCONTEXT, not session — foreachBatch hands each
    * batch a clone session sharing the context, and a session-keyed
    * entry would rebuild the collected index per clone.
    */
  def loadBenchFuzzy(spark: SparkSession, dir: String, benchMod: Int = 97,
                     k: Int = 32, bands: Int = 8): FuzzyBenchIndex =
    graft.Shared.get[FuzzyBenchIndex](spark, "decontam.fuzzy", s"$dir|$benchMod|$k|$bands",
      graft.Tables.sourceToken(spark, dir, "documents")) {
      buildBenchFuzzy(spark, dir, benchMod, k, bands)
    }

  private def buildBenchFuzzy(spark: SparkSession, dir: String, benchMod: Int,
                              k: Int, bands: Int): FuzzyBenchIndex = {
    require(bands > 0 && k % bands == 0, s"k ($k) must be a positive multiple of bands ($bands)")
    val bench = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % benchMod === 0 && size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), expr("shingles(text)").as("sh"))
      .withColumn("sig", expr(s"minhash(sh, $k)"))
      .select(col("doc_id"), col("sh"), bandCols(k, bands).as("buckets"))
      .collect()
    val buckets = bench.flatMap { r =>
      r.getSeq[String](2).zipWithIndex.map { case (b, i) => (i, b) -> r.getLong(0) }
    }.groupBy(_._1).map { case (kk, vs) => kk -> vs.map(_._2).sorted }
    val shs = bench.map(r => r.getLong(0) -> r.getSeq[String](1).toArray).toMap
    FuzzyBenchIndex(buckets, shs, k, bands)
  }

  /** q76 at ingest time — batch or stream, one code path, and unlike
    * the exact gate it needs NO state at all: shingling, MinHash and
    * banding run in the stateless (codegen) projection, and the
    * candidate probe + exact-Jaccard verify are a pure per-row
    * function of the broadcast index — a contaminated doc is flagged
    * in the micro-batch it arrives in, clean docs pass through with
    * zero matches. Verify math is bit-identical to the batch q76
    * (sorted-merge intersect, one long/long IEEE division, HALF_UP
    * round at 6dp; ties → min bench_id), so stream ≡ batch is an
    * equality, not an approximation (spec-pinned).
    */
  def gateFuzzy(idx: FuzzyBenchIndex, docs: DataFrame,
                threshold: Double = 0.5): Dataset[FuzzyOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val empty = array().cast("array<string>")
    val projected = docs
      .select(col("doc_id"),
        when(size(split(col("text"), " ")) >= 2, expr("shingles(text)"))
          .otherwise(empty).as("sh"))
      .withColumn("sig", when(size(col("sh")) > 0, expr(s"minhash(sh, ${idx.k})")))
      .select(col("doc_id"), col("sh"),
        when(col("sig").isNotNull, bandCols(idx.k, idx.bands)).otherwise(empty).as("buckets"))
      .as[(Long, Array[String], Array[String])]
    val bIdx = spark.sparkContext.broadcast(idx)
    projected.map { case (docId, sh, buckets) =>
      val ix = bIdx.value
      val cands = buckets.iterator.zipWithIndex
        .flatMap { case (b, i) => ix.buckets.getOrElse((i, b), Array.empty[Long]) }
        .toArray.distinct.sorted
      val hits = cands.flatMap { bid =>
        val bsh = ix.shingles(bid)
        var i = 0; var j = 0; var c = 0
        while (i < sh.length && j < bsh.length) {
          val cmp = sh(i).compareTo(bsh(j))
          if (cmp == 0) { c += 1; i += 1; j += 1 } else if (cmp < 0) i += 1 else j += 1
        }
        val jac = BigDecimal(c.toDouble / (sh.length + bsh.length - c))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (jac >= threshold) Some((bid, jac)) else None
      }
      if (hits.isEmpty) FuzzyOut(docId, 0L, None, None, contaminated = false)
      else {
        val maxJ = hits.map(_._2).max
        FuzzyOut(docId, hits.length.toLong, Some(maxJ),
          Some(hits.filter(_._2 == maxJ).map(_._1).min), contaminated = true)
      }
    }
  }

  /** Gate a (doc_id, text) frame — batch or stream, one code path. */
  def gate(idx: BenchIndex, docs: DataFrame,
           threshold: Double = 0.3): Dataset[DecontamOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val withG = Curation.grams3(docs)
    // every doc carries one NULL-gram sentinel row that passes the
    // screen unconditionally, so an all-clean doc still reaches the
    // rollup with n_overlap 0 (q54b's sentinel discipline)
    val screened = withG
      .select(col("doc_id"), size(col("g3")).as("n_grams"),
        explode_outer(concat(col("g3"), array(lit(null).cast("string")))).as("g"))
      .filter(col("g").isNull ||
        call_function("bloom_might_contain", lit(idx.bloom), xxhash64(col("g"))))
      .join(broadcast(idx.bench.withColumn("hit", lit(1))), Seq("g"), "left")
    screened
      .groupByKey(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_grams")))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Int), it: Iterator[org.apache.spark.sql.Row],
         state: GroupState[Boolean]) =>
          if (state.exists) { it.foreach(_ => ()); Iterator.empty }
          else {
            state.update(true)
            val nOverlap = it.count(r => !r.isNullAt(r.fieldIndex("hit"))).toLong
            val rate = if (key._2 > 0) Some(nOverlap.toDouble / key._2) else None
            Iterator.single(DecontamOut(key._1, key._2, nOverlap,
              rate, rate.exists(_ >= threshold)))
          }
      }
  }
}
