package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the corpus preconditions the graduated replay oracles stand
  * on (ADVICE r15): the gate corpora are pure ASCII (q28/q33/q49
  * byte-vs-codepoint replay equivalence), no true Jaccard pair sits
  * in the banding-recall danger band [0.5, 0.9) (q27's perfect-
  * recall requirement), and the bench-gram seams funnelGate's
  * two-broadcast-join rewrite relies on really are gram-distinct.
  */
class GateInvariantsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("gate corpus invariants hold at sf0.001 (ASCII + no danger-band pairs)") {
    val msgs = GateInvariants.check(spark, dir)
    assert(msgs.isEmpty, msgs.mkString("\n"))
  }

  test("a planted non-ASCII doc is flagged with doc-level attribution") {
    val fake = "/fake/gate_nonascii"
    Tables.registerOverride(spark, fake, "documents", Seq(
      (1L, "plain ascii text"),
      (2L, "café au lait")   // é: 2 UTF-8 bytes, 1 codepoint
    ).toDF("doc_id", "text"))
    val bad = GateInvariants.nonAsciiDocs(spark, fake).collect().map(_.getLong(0))
    assert(bad.toSeq == Seq(2L))
    val msgs = GateInvariants.check(spark, fake)
    assert(msgs.exists(_.contains("non-ASCII")), msgs.mkString("\n"))
  }

  test("a planted mid-band pair (0.5 <= jac < 0.9) is flagged") {
    val fake = "/fake/gate_midband"
    // 10-token vs 8-token overlap of 8 shingles... build two texts
    // whose 3-shingle sets overlap at jac ~ 0.6: 12 tokens shared
    // prefix (10 shingles), one adds 4 distinct tokens (4 shingles),
    // the other adds 2 (2 shingles): jac = 10/16 = 0.625.
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    Tables.registerOverride(spark, fake, "documents", Seq(
      (1L, s"$shared xa xb xc xd"),
      (2L, s"$shared yb yc")
    ).toDF("doc_id", "text"))
    val pairs = GateInvariants.jaccardDangerPairs(spark, fake).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) >= 0.5 &&
      pairs.head.getDouble(2) < 0.9,
      pairs.mkString(","))
    val msgs = GateInvariants.check(spark, fake)
    assert(msgs.exists(_.contains("[0.5,0.9)")), msgs.mkString("\n"))
  }

  test("vector check: the gate corpus has no duplicate planted vectors; a planted dup is flagged") {
    // q92b's oracle rests on the planted copy's sim-1.0 partner being
    // unique — holds on the real corpus…
    assert(GateInvariants.dupPlantedVectors(spark, dir).count() == 0)
    // …and a planted recurrence is flagged with id-level attribution
    val fake = "/fake/gate_dupvec"
    Tables.registerOverride(spark, fake, "embeddings", Seq(
      (0L, Array(1.0f, 2.0f, 3.0f), 0),
      (1L, Array(4.0f, 5.0f, 6.0f), 0),
      (7L, Array(1.0f, 2.0f, 3.0f), 1) // vec 0's vector recurs
    ).toDF("vec_id", "embedding", "label"))
    val dups = GateInvariants.dupPlantedVectors(spark, fake, nPlanted = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(dups == Seq(0L), s"planted original 0 must be flagged: $dups")
    val rep = GateInvariants.Report(asciiChecked = false, nonAsciiIds = Nil,
      bandingChecked = false, dangerPairs = Nil, missedPairs = Nil,
      screenMissedPairs = Nil, dir = fake, vectorChecked = true,
      dupPlantedIds = dups)
    assert(rep.messages.exists(_.contains("q92b")), rep.messages.mkString("\n"))
    assert(rep.json.contains("\"dup_planted_ids\":[0]"))
  }

  test("sf0.1 danger-band pairs are recovered by the banding (q27's oracle precondition)") {
    // the sf0.1 corpus holds true pairs in [0.5, 0.9) (j=0.889 and
    // j=0.818 as of r16) — q27's oracle only stays exact there while
    // the fixed 8x4 banding recovers them. check() verifies recovery
    // directly; a datagen regeneration that flips it fails HERE with
    // the missed pairs named, a round before the driver gate reads
    // as an opaque row-count mismatch. Environment-dependent (an
    // all-pairs join over the full sf0.1 corpus): skipped, not
    // failed, on machines without the sf0.1 testdata (ADVICE r16).
    assume(new java.io.File("/root/testdata/sf0.1/documents.parquet").exists(),
      "sf0.1 testdata not present on this machine")
    val rep = GateInvariants.run(spark, "/root/testdata/sf0.1")
    assert(rep.messages.isEmpty, rep.messages.mkString("\n"))
    // the r16 finding must stay visible: the corpus HAS danger-band
    // pairs and they are all recovered (missed empty, danger not) —
    // by the banding AND (r17) by q83c's signature screen
    assert(rep.dangerPairs.nonEmpty && rep.missedPairs.isEmpty &&
      rep.screenMissedPairs.isEmpty,
      s"expected recovered danger-band pairs, got ${rep.dangerPairs} " +
        s"(screen-missed: ${rep.screenMissedPairs})")
  }

  test("bench-gram seams are gram-distinct (funnelGate's broadcast-join precondition)") {
    // funnelGate counts A-union-B membership as two broadcast LEFT
    // joins; a duplicate gram on either right side would multiply
    // rows and overcount n_overlap. The precondition is enforced by
    // the producers — pin it on both seams.
    val bench = streaming.DecontamStream.benchFrame(spark, dir, benchMod = 97)
    assert(bench.count() == bench.distinct().count(),
      "DecontamStream.benchFrame must be gram-distinct")

    // the persisted FunnelIndex seam: build into a scratch index root
    val root = java.nio.file.Files.createTempDirectory("graft_gate_idx").toString
    val prev = spark.conf.getOption("spark.graft.index.root")
    spark.conf.set("spark.graft.index.root", root)
    try {
      val path = operators.Curation.FunnelIndex.path(spark, dir)
      operators.Curation.FunnelIndex.index(deltaMod = 16, benchMod = 97, nBuckets = 8)
        .build(spark, dir, path)
      val g = spark.read.parquet(s"$path/benchgrams")
      assert(g.count() == g.distinct().count(),
        "FunnelIndex benchgrams must be gram-distinct")
    } finally {
      prev.fold(spark.conf.unset("spark.graft.index.root"))(
        spark.conf.set("spark.graft.index.root", _))
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
