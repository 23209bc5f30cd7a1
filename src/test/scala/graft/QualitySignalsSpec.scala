package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-6 quality-signal operators: q60 repetition
  * (hand-computed fractions on planted degenerate docs, the
  * short-doc guard on the top-bigram rule), q63 quality bins
  * (bucket sizes + monotone score ranges), q61 embedding outliers
  * (a planted far-from-centroid vector must rank first), and q62
  * hard negatives (cross-label only, planted near-identical
  * different-label vector wins).
  */
class QualitySignalsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("repetition computes exact fractions on planted degenerate docs") {
    val dir = "/fake/quality_repetition"
    Tables.registerOverride(spark, dir, "documents", Seq(
      (0L, "spam spam spam spam"),        // 4 words, 1 uniq; 3 bigrams all "spam spam"
      (1L, "a b c d e"),                  // fully distinct, 4 bigrams
      (2L, "solo"),                       // 1 word -> no bigrams, NULL fracs
      (3L, "go go stop go go stop go go") // top bigram "go go" repeats
    ).toDF("doc_id", "text"))
    val r = operators.TextAnalysis.repetition(spark, dir)
      .collect().map(x => x.getLong(0) -> x).toMap

    val d0 = r(0L)
    assert(d0.getInt(1) == 4 && d0.getInt(2) == 1, "4 words, 1 unique")
    assert(d0.getInt(3) == 3 && d0.getInt(4) == 1 && d0.getLong(5) == 3L)
    assert(d0.getDouble(6) == 0.75 && d0.getDouble(8) == 1.0)
    assert(d0.getBoolean(9), "pure repetition is flagged")

    val d1 = r(1L)
    assert(d1.getDouble(6) == 0.0 && d1.getLong(5) == 1L)
    assert(!d1.getBoolean(9),
      "a short fully-distinct doc is NOT flagged even though 1/n_bigrams > threshold")

    val d2 = r(2L)
    assert(d2.getInt(3) == 0 && d2.isNullAt(7) && d2.isNullAt(8) && !d2.getBoolean(9),
      "a bigram-less doc has NULL bigram fractions and is not flagged")

    val d3 = r(3L)
    assert(d3.getLong(5) == 3L, "top bigram 'go go' occurs 3 times")
    assert(d3.getBoolean(9), "3/7 top-bigram share is flagged")
  }

  test("repetition_stats matches the declarative split/HOF spelling bit-for-bit") {
    // edge cases: empty string (split -> [""]), multi-space runs
    // (empty tokens), single token, unicode, heavy repetition
    val docs = Seq("", " ", "a", "a  b", "x y x y x y", "héllo wörld héllo wörld",
      "the the the", "a b", "trailing space ", " leading").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    df.createOrReplaceTempView("rs_parity")
    val got = spark.sql(
      """SELECT doc_id, repetition_stats(text) AS r FROM rs_parity""")
      .selectExpr("doc_id", "r.n_words", "r.n_uniq_words", "r.n_bigrams",
        "r.n_uniq_bigrams", "r.top_bigram_cnt")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4), x.getLong(5)))
      .sortBy(_._1)
    val want = spark.sql(
      """SELECT doc_id, toks, CASE WHEN size(toks) >= 2
        |  THEN transform(sequence(1, size(toks) - 1),
        |       i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
        |  ELSE CAST(array() AS ARRAY<STRING>) END AS bi
        |FROM (SELECT doc_id, split(text, ' ') AS toks FROM rs_parity)""".stripMargin)
      .selectExpr("doc_id", "size(toks)", "size(array_distinct(toks))", "size(bi)",
        "size(array_distinct(bi))",
        // per-doc mode multiplicity via a per-row fold over the sorted array
        """CAST(coalesce(aggregate(array_sort(bi), struct(CAST(NULL AS STRING) AS p, 0L AS run, 0L AS best),
          |  (s, g) -> named_struct('p', g,
          |     'run', CASE WHEN s.p IS NOT NULL AND g = s.p THEN s.run + 1 ELSE 1L END,
          |     'best', greatest(s.best, CASE WHEN s.p IS NOT NULL AND g = s.p THEN s.run + 1 ELSE 1L END)),
          |  s -> s.best), 0L) AS BIGINT)""".stripMargin)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4), x.getLong(5)))
      .sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("qualityBins fills every lang with balanced, score-monotone deciles") {
    val dir = "/root/testdata/sf0.001"
    val rows = operators.TextAnalysis.qualityBins(spark, dir).collect()
    val langs = rows.map(_.getString(0)).distinct
    assert(langs.nonEmpty)
    langs.foreach { l =>
      val bins = rows.filter(_.getString(0) == l).sortBy(_.getInt(1))
      assert(bins.map(_.getInt(1)).toSeq == (1 to bins.length), s"contiguous bins for $l")
      // ntile balance: sizes differ by at most one
      val sizes = bins.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"ntile balance for $l: ${sizes.toSeq}")
      // bin 1 holds the best scores: each bin's min >= the next bin's max
      bins.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getDouble(3) >= lo.getDouble(4),
            s"$l bin ${hi.getInt(1)} min_q must be >= bin ${lo.getInt(1)} max_q")
        case _ => ()
      }
    }
  }

  test("qualityBinsChunked equals qualityBins on a planted 10x-skewed lang") {
    val dir = "/fake/quality_bins_skew"
    // one dominant lang (1000 docs) vs two small ones (100 each),
    // with repeated quality values so bucket-boundary ties exercise
    // the positional-rank reconstruction, plus an empty-text doc for
    // the NULL-quality path
    val docs = (0L until 1000L).map(i => (i, "en", Seq.fill((i % 37 + 1).toInt)("the word").mkString(" "))) ++
      (1000L until 1100L).map(i => (i, "fr", Seq.fill((i % 11 + 1).toInt)("le mot").mkString(" "))) ++
      (1100L until 1200L).map(i => (i, "es", Seq.fill((i % 7 + 1).toInt)("la palabra").mkString(" "))) ++
      Seq((1200L, "en", ""))
    Tables.registerOverride(spark, dir, "documents", docs.toDF("doc_id", "lang", "text"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3), if (r.isNullAt(4)) null else r.getDouble(4))
    val base = operators.TextAnalysis.qualityBins(spark, dir).collect().map(key).toSeq
    val chunked = operators.TextAnalysis.qualityBinsChunked(spark, dir).collect().map(key).toSeq
    assert(base.nonEmpty && chunked == base,
      "the skew-split decomposition must be bit-identical to the single-window ntile")
  }

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private def deleteIndex(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("embeddingOutliers ranks a planted far-from-centroid vector first") {
    val dir = "/fake/quality_outliers"
    Tables.registerOverride(spark, dir, "embeddings", Seq(
      (0, 0, vec(1.0, 0.05)), (1, 0, vec(1.0, -0.05)), (2, 0, vec(0.95, 0.0)),
      (3, 0, vec(-1.0, 0.0)), // label-0 outlier: opposite the cluster
      (10, 1, vec(0.0, 1.0)), (11, 1, vec(0.05, 1.0)), (12, 1, vec(-0.05, 1.0))
    ).toDF("vec_id", "label", "embedding"))
    val r = operators.EmbeddingQuality.embeddingOutliers(spark, dir, bottomK = 2).collect()
    assert(r.length == 4, "bottom-2 per label over 2 labels")
    val lbl0 = r.filter(_.getInt(1) == 0).sortBy(_.getInt(3))
    assert(lbl0.head.getInt(0) == 3, "the planted opposite vector is the #1 outlier")
    assert(lbl0.head.getDouble(2) < 0, "...with negative centroid similarity")
    assert(lbl0(1).getDouble(2) >= lbl0.head.getDouble(2), "rank order follows csim")
  }

  test("hardNegatives returns only cross-label results, nearest first") {
    val dir = "/fake/quality_hardneg"
    Tables.registerOverride(spark, dir, "embeddings", Seq(
      (0, 0, vec(1.0, 0.0)),          // anchor (0 % anchorMod == 0)
      (1, 0, vec(0.99, 0.01)),        // same label: must NOT appear
      (2, 1, vec(0.999, 0.01)),       // planted near-identical, other label
      (3, 1, vec(0.0, 1.0)),
      (4, 2, vec(0.5, 0.5))
    ).toDF("vec_id", "label", "embedding"))
    val r = operators.EmbeddingQuality.hardNegatives(spark, dir, k = 2).collect()
    assert(r.forall(_.getInt(0) == 0), "only vec 0 is an anchor here")
    assert(r.forall(x => x.getInt(3) != x.getInt(1)), "negatives never share the anchor's label")
    val byRank = r.sortBy(_.getInt(5))
    assert(byRank.head.getInt(2) == 2, "the planted near-duplicate is the hardest negative")
    assert(byRank.map(_.getDouble(4)).toSeq == byRank.map(_.getDouble(4)).sortBy(-(_: Double)).toSeq)
  }

  test("hardNegativesIvf recovers a planted exact-dup cross-label negative") {
    val dir = "/fake/quality_hardneg_ivf"
    Tables.registerOverride(spark, dir, "embeddings", Seq(
      (0, 0, vec(1.0, 0.0)),          // anchor
      (1, 0, vec(0.99, 0.01)),        // same label: must NOT appear
      (2, 1, vec(1.0, 0.0)),          // planted EXACT dup, other label
      (3, 1, vec(0.0, 1.0)),
      (4, 2, vec(0.5, 0.5)),
      (5, 2, vec(-0.2, 0.9))
    ).toDF("vec_id", "label", "embedding"))
    // never serve a stale index from a previous test-warehouse run
    deleteIndex(operators.VectorIndex.miningPath(spark, dir))
    val r = operators.EmbeddingQuality.hardNegativesIvf(spark, dir, k = 2).collect()
    assert(r.nonEmpty && r.forall(_.getInt(0) == 0), "only vec 0 is an anchor here")
    assert(r.forall(x => x.getInt(3) != x.getInt(1)), "negatives never share the anchor's label")
    val byRank = r.sortBy(_.getInt(5))
    assert(byRank.head.getInt(2) == 2,
      "an identical vector ranks cells identically, so the anchor's top probe IS its cell")
    assert(byRank.head.getDouble(4) == 1.0)
  }

  test("q62c planted twin: every anchor recovers its verbatim cross-label copy at sim 1.0") {
    val dir = "/root/testdata/sf0.001"
    val r = operators.EmbeddingQuality.hardNegativesIvfPlanted(spark, dir).collect()
    val anchors = Tables.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 101 === 0).count()
    assert(r.length == anchors, "exactly one top-1 row per anchor")
    r.foreach { x =>
      assert(x.getLong(2) == x.getLong(0) + 1000000L,
        "the top negative IS the planted twin (assignment purity makes recovery certain)")
      assert(x.getInt(3) == x.getInt(1) + 100, "twin label = anchor label + 100")
      assert(x.getDouble(4) == 1.0, "identical vectors score exactly 1.0 at 6dp")
    }
  }

  test("hardNegativesIvf pairs are a high-recall subset of the brute-force twin") {
    val dir = "/root/testdata/sf0.001"
    deleteIndex(operators.VectorIndex.miningPath(spark, dir))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("anchor_id", "vec_id").collect()
        .map(x => (x.getAs[Number](0).longValue(), x.getAs[Number](1).longValue())).toSet
    val brute = pairs(operators.EmbeddingQuality.hardNegatives(spark, dir))
    val ivf = pairs(operators.EmbeddingQuality.hardNegativesIvf(spark, dir))
    assert(brute.nonEmpty)
    // every IVF pair is cross-label and scored identically, but the
    // candidate pool is pruned — the result must stay a meaningful
    // fraction of the exact top-k set (deterministic, no RNG)
    // sf0.001 is the pessimistic extreme: 50 vectors over 16 cells =
    // 3-vector inverted lists, so nProbe=3 sees only ~19% of the
    // corpus yet keeps 0.48 of the exact top-k (deterministic — no
    // RNG; the q29b IVF dedup precedent measured the same ~0.5 at
    // this scale). Corpus-scale recall/cost is tools.NegMineProbe's
    // job; this pins the floor and the subset property.
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.4, f"IVF recall vs brute top-k: $recall%.3f")
  }

  test("a build-parameter change invalidates the mining index (ADVICE r07)") {
    val dir = "/root/testdata/sf0.001"
    val path = operators.VectorIndex.miningPath(spark, dir)
    deleteIndex(path)
    operators.EmbeddingQuality.hardNegativesIvf(spark, dir).collect()
    val autoCells = operators.VectorIndex.centroids(spark, path).count()
    assert(autoCells == 16, s"auto sizing at 50 vectors gives max(16, n/125) cells: $autoCells")
    // same source, DIFFERENT nLists: the index on disk is fresh by
    // source snapshot alone — the param must force a rebuild, or
    // nLists silently has no effect
    operators.EmbeddingQuality.hardNegativesIvf(spark, dir, nLists = 4).collect()
    val cells4 = operators.VectorIndex.centroids(spark, path).count()
    assert(cells4 == 4, s"nLists=4 must rebuild the index: got $cells4 cells")
    // and back: the nLists=4 watermark must not satisfy the auto call
    operators.EmbeddingQuality.hardNegativesIvf(spark, dir).collect()
    assert(operators.VectorIndex.centroids(spark, path).count() == 16)
    deleteIndex(path)
  }

  test("q62b stored coarse structure: probe reads it back, equals the re-derive path") {
    // sf0.01 (500 vectors) with nLists=100: autoCoarse(100)=10 forces
    // the two-level regime, and every one of the 100 seed residues is
    // populated so the derive fallback (autoCoarse of the centroid
    // COUNT) agrees with the build's group rule — the comparison
    // isolates stored-vs-derived, not the count-vs-lists drift the
    // stored path exists to close
    val dir = "/root/testdata/sf0.01"
    val path = operators.VectorIndex.miningPath(spark, dir)
    deleteIndex(path)
    val stored = operators.EmbeddingQuality.hardNegativesIvf(spark, dir, nLists = 100)
      .collect().toSeq
    assert(operators.VectorIndex.storedCoarse(spark, path).isDefined,
      "a two-level build must persist its coarse structure")
    val derived = operators.EmbeddingQuality.hardNegativesIvf(spark, dir, nLists = 100,
      useStored = false).collect().toSeq
    assert(stored == derived,
      "stored-structure probe must equal the coarseStructure re-derive probe row-for-row")
    deleteIndex(path)
    // flat regime (sf0.001 default 16 lists): no structure on disk,
    // the fallback path serves
    val fdir = "/root/testdata/sf0.001"
    val fpath = operators.VectorIndex.miningPath(spark, fdir)
    deleteIndex(fpath)
    operators.EmbeddingQuality.hardNegativesIvf(spark, fdir).collect()
    assert(operators.VectorIndex.storedCoarse(spark, fpath).isEmpty,
      "a flat build (nCoarse == 1) stores no structure")
    deleteIndex(fpath)
  }

  test("gopherRules: each rule fires on exactly its planted violation") {
    val dir = "/fake/quality_gopher"
    val good = (Seq.fill(28)("alpha") ++ Seq("the", "a")).mkString(" ")
    Tables.registerOverride(spark, dir, "documents", Seq(
      (0L, good),                                                   // passes every rule
      (1L, "the a b c d e f g h i"),                                // 10 words: r_words
      (2L, (Seq.fill(25)("gammas") ++ Seq.fill(5)("#") ++ Seq("the", "a")).mkString(" ")), // r_symbol
      (3L, good + "\n- bullet one\n- bullet two\nxxx...\nyyy..."),  // r_bullet + r_ellipsis
      (4L, Seq.fill(30)("123").mkString(" ")),                      // r_alpha (no letters)
      (5L, Seq.fill(30)("delta").mkString(" ")),                    // r_stop (no function words)
      (6L, (Seq.fill(28)("abcdefghijkl") ++ Seq("the", "a")).mkString(" ")) // r_meanlen (mean 11.3 > 10)
    ).toDF("doc_id", "text"))
    val r = operators.TextAnalysis.gopherRules(spark, dir).collect()
      .map(x => x.getLong(0) -> x).toMap
    def flag(id: Long, name: String): Boolean = r(id).getAs[Boolean](name)

    assert(flag(0L, "pass_gopher"), "the clean doc passes the whole gate")
    assert(r(0L).getAs[Long]("n_words") == 30 && r(0L).getAs[Long]("n_chars") == 144)
    assert(!flag(1L, "r_words") && !flag(1L, "pass_gopher"))
    assert(!flag(2L, "r_symbol") && flag(2L, "r_alpha") && flag(2L, "r_stop") &&
      flag(2L, "r_meanlen") && !flag(2L, "pass_gopher"))
    assert(r(2L).getAs[Long]("n_sym") == 5)
    assert(r(3L).getAs[Long]("n_lines") == 5 && r(3L).getAs[Long]("n_bullet") == 2 &&
      r(3L).getAs[Long]("n_ellipsis") == 2)
    assert(!flag(3L, "r_bullet") && !flag(3L, "r_ellipsis"))
    assert(!flag(4L, "r_alpha") && r(4L).getAs[Long]("n_alpha") == 0)
    assert(!flag(5L, "r_stop") && flag(5L, "r_words") && flag(5L, "r_meanlen"))
    assert(!flag(6L, "r_meanlen") && flag(6L, "r_stop") && !flag(6L, "pass_gopher"))
  }

  test("gopherRules laws on the real corpus") {
    val rows = operators.TextAnalysis.gopherRules(spark, TestSpark.dir).collect()
    assert(rows.nonEmpty)
    // the synthetic corpus is single-line, symbol-free, all-alphabetic
    assert(rows.forall(x => x.getAs[Long]("n_lines") == 1 && x.getAs[Long]("n_sym") == 0))
    assert(rows.forall(x => x.getAs[Long]("n_alpha") == x.getAs[Long]("n_words")))
    // the tuned word-count and stopword rules are non-vacuous here
    assert(rows.exists(_.getAs[Boolean]("pass_gopher")) &&
      rows.exists(x => !x.getAs[Boolean]("pass_gopher")))
    assert(rows.exists(x => !x.getAs[Boolean]("r_words")))
    assert(rows.exists(x => !x.getAs[Boolean]("r_stop")))
  }
}
