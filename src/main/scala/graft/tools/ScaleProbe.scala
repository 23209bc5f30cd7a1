package graft.tools

import graft.operators.{Curation, Dedup, Messages, Multimodal, PQ, Sessions, VectorIndex, Vectors}
import org.apache.spark.sql.functions._

/** Dev tool: measure scaling slope 1x -> 10x for representative
  * operators by synthesizing a 10x dataset from sf0.1 (ids offset per
  * copy; document tokens and embeddings perturbed per copy so dedup
  * and vector workload characteristics stay comparable instead of
  * exploding with cross-copy duplicates).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32)
      // aggressive periodic driver GC so the ContextCleaner retires
      // finished rounds' shuffle files promptly: the iterative 100×
      // probes (descent rounds, CC rounds) each shuffle tens of GB,
      // and with the default 30min interval the files of ALREADY
      // LINEAGE-CUT rounds accumulated until the probe host's disk
      // filled (r19). Probe-host hygiene only — on a cluster the
      // external shuffle service owns this lifecycle.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val dst = "/tmp/graft_scale10"

    val ev = spark.read.parquet(s"$src/events.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val copies = spark.range(10).select(col("id").cast("int").as("copy"))
    ev.crossJoin(copies)
      .select((col("event_id") + col("copy") * 10000000L).as("event_id"), col("ts"),
        (col("user_id") + col("copy") * 100000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    docs.crossJoin(copies)
      .select((col("doc_id") + col("copy") * 1000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, col("copy").cast("string"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    emb.crossJoin(copies)
      .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + col("copy").cast("float") * lit(0.01f)).cast("array<float>").as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    def time(name: String, dir: String)(f: String => org.apache.spark.sql.DataFrame): Unit = {
      f(dir).write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      f(dir).write.format("noop").mode("overwrite").save()
      println(f"$name @ $dir: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // `r15` arg: skip the long-established 10× section and run only
    // the r15 additions (GRID decode / media join / IVF replay at
    // 10×, plus the 100× dedup-core spot check below).
    // `r16` arg: run only the r16 additions (two-decade CC/funnel
    // spine + mega-duplication stress).
    val only22 = args.contains("r22")
    val only15 = args.contains("r15")
    val only16 = args.contains("r16")
    // `r17` arg: run only the r17 addition (the dedupNgram maxBlock
    // mega-dup rows) plus the mega-corpus setup it needs.
    val only17 = args.contains("r17")
    // `r18` arg: run only the r18 additions — the vector family's
    // two-decade (100x) slope rows (VERDICT r17 item 3) and the
    // composed-pipeline belt rows at +20k verbatim copies (item 4).
    val only18 = args.contains("r18")
    // `r19` arg: run only the r19 additions — the q92 k-NN-graph
    // family's two-decade slope rows (VERDICT r18 item 1) on the
    // in-group scoring rewrite + adaptive lists.
    val only19 = args.contains("r19")
    val only19c = args.contains("r19c")
    // `r20` arg: run only the r20 additions — the q92 family re-measured
    // on the new-flag descent, the three 100x cells r19 left open
    // (walk / increment steady state over the 2M persisted graph, then
    // the descent BUILD row itself), and the new q92g indexed-clusters
    // steady state.
    val only20 = args.contains("r20") || args.contains("r20b")
    // `r20b`: only the 100x section of r20 (the 1x/10x rows of an
    // earlier same-binary invocation stand; re-running them costs
    // ~15 min of an idle window)
    val only20b = args.contains("r20b")
    if (!only15 && !only16 && !only17 && !only18 && !only19 && !only19c && !only20 && !only22) Seq(src, dst).foreach { d =>
      time("q01 sessionize ", d)(Sessions.temporalSessions(spark, _))
      time("q01b chunked   ", d)(Sessions.sessionizedChunked(spark, _))
      time("q26 ngram dedup", d)(Dedup.dedupNgram(spark, _))
      time("q27 minhash    ", d)(Dedup.dedupMinHash(spark, _))
      time("q40 allpairs   ", d)(Dedup.dedupAllPairs(spark, _))
      time("q16 vector topk", d)(Vectors.vectorTopK(spark, _))
      time("q41 kmeans     ", d)(Vectors.kmeansIvf(spark, _))
      time("q12 recipients ", d)(Messages.recipients(spark, _))
      time("q46 range win  ", d)(Messages.rangeJoinCounts(spark, _))
      time("q47 sliding    ", d)(Vectors.slidingSegments(spark, _))
      time("q48 ivf persist", d)(VectorIndex.buildAndProbe(spark, _))
      // adaptive nLists keeps cells ~constant-size ⇒ candidate count
      // linear in the corpus (run at t=0.5 so the random-data OUTPUT
      // stays tiny and wall time measures the plan, not the print)
      time("q29b ivf dedup ", d)(Dedup.dedupEmbeddingIvf(spark, _, threshold = 0.5))
      // r08 families (VERDICT r08 item 7): PQ build+scan is linear in
      // the corpus (encode = N·m·kCodes distances collapsing map-side,
      // ADC scan = N·m lookups); the q67d probe must stay FLAT-ish —
      // nLists grows with N so each probed cell stays ~125 vectors and
      // the pruned read is (nProbe/nLists)·N ≈ constant rows
      time("q67 pq topk    ", d)(PQ.pqTopK(spark, _))
      time("q67d ivfpq idx ", d)(PQ.ivfPqTopKIndexed(spark, _))
      // q64b: the delta scan is N/16 docs against the persisted gram
      // index — slope should track DELTA size, not corpus size
      time("q64b substr inc", d)(Dedup.substringDupIncremental(spark, _))
      // q68/q69: exact order statistics over the (wc -> count)
      // HISTOGRAM — the window frame is bounded by distinct word
      // counts (sub-linear in N), so 10x rows must not 10x the
      // unpartitioned-window work
      time("q68 mix drift  ", d)(Curation.mixDrift(spark, _))
      time("q69 len outlier", d)(Curation.lengthOutliers(spark, _))
      // r09 families: q73's df agg moves one slim hashed-gram row
      // per occurrence with map-side combine; q74 is a map pass plus
      // a histogram-sized fill plan; q75 = q53's CC spine + a
      // map-side struct max; q76's corpus side never shuffles (the
      // bench side broadcasts end-to-end); q70/q72 ride one
      // gram-keyed shuffle each
      time("q70 dsir select", d)(Curation.importanceSelect(spark, _))
      time("q72 src overlap", d)(Curation.sourceOverlap(spark, _))
      time("q73 boilerplate", d)(Curation.boilerplateSpans(spark, _))
      time("q74 token budgt", d)(Curation.tokenBudget(spark, _))
      time("q75 cluster rep", d)(graft.operators.DupGraph.clusterReps(spark, _))
      time("q76 fuzzy decon", d)(Curation.decontamFuzzy(spark, _))
      // q79/q79b: the warm pass builds the FunnelIndex, so the timed
      // pass is the STEADY-STATE probe — its slope must track the
      // delta (N/16 docs probing pruned buckets), never corpus text
      time("q79 funnel dlt ", d)(Curation.funnelDelta(spark, _))
      time("q79b funnel idx", d)(Curation.funnelDeltaIndexed(spark, _))
    }
    // Sign-LSH bucket width must TRACK corpus density: with fixed
    // 8-bit bands, random-data collisions per bucket grow linearly
    // with the corpus, so candidates grow quadratically — widening
    // the bands (same total nBits budget family) restores bounded
    // buckets, exactly like growing nLists for IVF cells. Measure
    // the cliff and the remedy at 10x.
    if (!only15 && !only16 && !only17 && !only18 && !only19 && !only19c && !only20 && !only22) {
      time("q44 4x8bit     ", src)(Dedup.dedupEmbeddingLshPlanted(spark, _))
      time("q44 4x8bit     ", dst)(Dedup.dedupEmbeddingLshPlanted(spark, _))
      time("q44 4x12bit    ", dst)(Dedup.dedupEmbeddingLshPlanted(spark, _, nBits = 48, bands = 4))
      // q12's 10x slope is dominated by its OUTPUT semantics: the
      // synthesized copies share (day, k) buckets, so co-user lists
      // grow 10x for 10x the users — ~100x output cells (measured 25x
      // wall). The maxBucket cap is the production knob for exactly
      // this blowup:
      time("q12 capped @200", dst)(Messages.recipients(spark, _, maxBucket = 200))
    }

    // ---- r15 additions (VERDICT r14 item 6) ----
    // GRID decode + the composed media-quality join: decode is a
    // per-row byte scan (embarrassingly parallel, must be ~linear in
    // docs with a task-wave floor); q34d adds a doc_id hash join +
    // bounded agg on top — slope must track the decode, not the join.
    // q19's IVF ANN (the r14 replay-graduated Spark side): probe cost
    // is bounded by nQueries·nProbe cells, so 10× corpus with
    // nLists ∝ N must stay ~flat after the assignment pass.
    if (!only16 && !only17 && !only18 && !only19 && !only19c && !only20 && !only22) Seq(src, dst).foreach { d =>
      time("q34b grid decode", d)(Multimodal.mediaDecodeFeatures(spark, _))
      time("q34d media joinQ", d)(Multimodal.mediaQualityJoin(spark, _))
      time("q19 ivf ann     ", d)(Vectors.annIvf(spark, _))
    }

    // 100× dedup-core spot check (documents only): turns the 10×
    // "sub-linear" claim into a two-decade slope for the exact-hash,
    // banded-minhash and PPJoin all-pairs paths. Copies perturb
    // tokens per copy (as above) so cross-copy rows are NOT dups and
    // the workload's duplicate density stays comparable.
    val dst100 = "/tmp/graft_scale100"
    val copies100 = spark.range(100).select(col("id").cast("int").as("copy"))
    docs.crossJoin(copies100)
      .select((col("doc_id") + col("copy") * 1000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, col("copy").cast("string"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$dst100/documents.parquet")
    if (!only16 && !only17 && !only18 && !only19 && !only19c && !only20 && !only22) Seq(src, dst, dst100).foreach { d =>
      time("q25 exact dedup", d)(Dedup.dedupExact(spark, _))
      time("q27b minhash pl", d)(Dedup.dedupMinHashPlanted(spark, _))
      time("q40 allpairs   ", d)(Dedup.dedupAllPairs(spark, _))
    }

    // ---- r18 additions (VERDICT r17 items 3 & 4) ----
    // (3) Vector-family two-decade slopes: the deepest prior evidence
    // was 10x (q19 2.02s, q29b 8.58s, q67d ~1.3x). 100x embeddings
    // (200k x 64f, per-copy perturbed so near-dup density stays
    // comparable) probe the three claims that carry the family's
    // 100 TB posture: the IVF assignment pass (assignCells — q19
    // rides it) is linear; adaptive nLists keeps cells ~125 vectors
    // so candidate counts stay linear (q29b); and the PERSISTED
    // IVF-PQ steady-state probe (q67d timed pass after the warm pass
    // builds the index) tracks nProbe cells, not the corpus.
    if (only18) {
      emb.crossJoin(copies100)
        .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => x + col("copy").cast("float") * lit(0.01f)).cast("array<float>").as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$dst100/embeddings.parquet")
      Seq(src, dst, dst100).foreach { d =>
        time("q19 ivf ann     ", d)(Vectors.annIvf(spark, _))
        time("q29b ivf dedup  ", d)(Dedup.dedupEmbeddingIvf(spark, _, threshold = 0.5))
        time("q67d ivfpq idx  ", d)(PQ.ivfPqTopKIndexed(spark, _))
      }
      // (4) The composed pipelines with their new default belts at
      // +20k verbatim copies: before r18 these rode unguarded
      // dedupNgram (the r16 probe measured q39 at mega2k only,
      // 8.1s raw — mega20k raw would be a 2e8-pair block). Bounded
      // wall time here IS the item's done-criterion.
      val mega20k = {
        val d = "/tmp/graft_mega20000"
        val one = docs.orderBy("doc_id").limit(1)
          .select(col("text"), col("lang"), col("source"), col("n_chars"))
        docs.select("doc_id", "text", "lang", "source", "n_chars")
          .unionByName(
            spark.range(20000).select((col("id") + 2000000L).as("doc_id"))
              .crossJoin(one))
          .write.mode("overwrite").parquet(s"$d/documents.parquet")
        d
      }
      time("q39 mega20k BELT", mega20k)(graft.operators.TextAnalysis.corpusPrep(spark, _))
      time("q53 mega20k BELT", mega20k)(graft.operators.DupGraph.dupClusters(spark, _))
      // q77 vs q77b at 1x and 10x: at sf0.1 both are spine-bound
      // (pairs+CC+pick dominates — see SURVEY §4 r18); the one-scan
      // advantage is the per-gate text scans, which grow with the
      // corpus. The warm pass caches each spelling's shared frame —
      // the timed number is the steady state, like the bench.
      Seq(src, dst).foreach { d =>
        time("q77 composed    ", d)(Curation.curationFunnel(spark, _))
        time("q77b one-scan   ", d)(Curation.curationFunnelOneScan(spark, _))
      }
    }

    // ---- r19 additions (VERDICT r18 items 1, 3, 4, 7) ----
    // The q92 k-NN-graph family's two-decade slopes, on the in-group
    // scoring rewrite (arrays once per membership) + adaptive lists
    // (N/125 — cells stay ~125 vectors as the corpus grows). q92
    // exact is the quadratic-by-design correctness twin (q40's
    // treatment): measured to 10× only, never the scale path.
    // q92b/q92e are timed as ONE pass — a descent is a multi-minute
    // job at 100× and the slope is the claim, not a steady-state
    // microbenchmark. q93/q92f use time()'s warm+timed split: the
    // warm pass builds the shared persisted graph (the nightly
    // build; identical params ⇒ one build serves both), so the timed
    // pass is the bounded steady-state probe (beam walk / delta
    // merge) — those must stay ~FLAT across the decades.
    if (only19) {
      import graft.operators.KnnGraph
      emb.crossJoin(copies100)
        .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => x + col("copy").cast("float") * lit(0.01f)).cast("array<float>").as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$dst100/embeddings.parquet")
      def once(name: String, d: String)(f: String => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        f(d).write.format("noop").mode("overwrite").save()
        println(f"$name @ $d: ${(System.nanoTime() - t0) / 1e9}%.2fs (one pass)")
      }
      // `noexact`: skip the quadratic twin rows on a re-run (20 min of
      // wall whose numbers are already recorded)
      if (!args.contains("noexact")) {
        time("q92 exact twin ", src)(KnnGraph.knnGraphExact(spark, _))
        time("q92 exact twin ", dst)(KnnGraph.knnGraphExact(spark, _))
      }
      // idOffset 1e9: the synthetic copies live at copy·1e6, so the
      // default planted offset (1e6) would collide with copy 1's ids
      val off = 1000000000L
      Seq(src, dst, dst100).foreach { d =>
        once("q92b descent   ", d)(KnnGraph.nnDescentGate(spark, _, idOffset = off))
        once("q92e clusters  ", d)(KnnGraph.semanticClustersDescentGate(spark, _, idOffset = off))
        time("q93 walk       ", d)(KnnGraph.graphWalkGate(spark, _, idOffset = off))
        time("q92f increment ", d)(KnnGraph.knnIncrementGate(spark, _, idOffset = off))
      }
    }

    // `r19c`: the two-decade descent row at a DISK-FEASIBLE candidate
    // budget. At the operator defaults (sampleR = 2k = 20) one
    // iteration's scored-candidate rows are ~1.4B at the 100× corpus
    // — ~60 GB through the single prune exchange, beyond this probe
    // host's scratch (trivial across a cluster's executor disks; the
    // single-host probe is the artificial bound — see §4 r19).
    // sampleR = 10 halves B(v) and quarters the pair volume, keeping
    // the PER-NODE budget a constant while the DATA scales 1×/10×/
    // 100× — which is exactly the slope claim under test.
    if (only19c) {
      import graft.operators.KnnGraph
      val off = 1000000000L
      def once19(name: String, d: String)(f: String => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        f(d).write.format("noop").mode("overwrite").save()
        println(f"$name @ $d: ${(System.nanoTime() - t0) / 1e9}%.2fs (one pass)")
      }
      Seq(src, dst, dst100).foreach { d =>
        once19("q92b descent sR10", d)(
          KnnGraph.nnDescentGate(spark, _, idOffset = off, sampleR = 10))
      }
    }

    // ---- r16 additions (VERDICT r15 items 1 & 4) ----
    if (!only15 && !only18 && !only19 && !only19c && !only20 && !only22) {
      // (1) Two-decade slope for the graph/funnel spine: CC round
      // count grows with component DIAMETER, which copy-scaling holds
      // constant while component COUNT grows 100x -- the claim these
      // rows test is that pointer-jumping work is linear in edges at
      // fixed diameter, and that q79b's steady-state probe keeps
      // tracking the delta (N/16 docs against pruned index buckets),
      // never corpus text. Warm pass builds the per-corpus
      // FunnelIndex, so the timed q79b pass is the nightly
      // steady-state read.
      if (!only17) Seq(src, dst, dst100).foreach { d =>
        time("q53 dup clusters", d)(graft.operators.DupGraph.dupClusters(spark, _))
        time("q75 cluster reps", d)(graft.operators.DupGraph.clusterReps(spark, _))
        time("q79b funnel idx ", d)(Curation.funnelDeltaIndexed(spark, _))
      }
      // (2) Mega-duplication stress: SURVEY section 4 prescribes
      // composition order (q25 exact collapse BEFORE near-dup)
      // because pair output is quadratic under massive verbatim
      // duplication. Plant the degenerate corpus and give the
      // prescription numbers: sf0.1 plus C verbatim copies of doc 0.
      // The RAW minhash point is measured at C=2000 (C(2k,2) = 2e6
      // pairs per band bucket -- minutes); at C=20000 it would be
      // 2e8 pairs in ONE group, so only the guarded and composed
      // spellings run there -- that asymmetry IS the finding.
      def megadup(nCopies: Int): String = {
        val d = s"/tmp/graft_mega$nCopies"
        val base = docs.select("doc_id", "text", "lang", "source", "n_chars")
        val one = docs.orderBy("doc_id").limit(1)
          .select(col("text"), col("lang"), col("source"), col("n_chars"))
        base.unionByName(
            spark.range(nCopies).select((col("id") + 2000000L).as("doc_id"))
              .crossJoin(one))
          .write.mode("overwrite").parquet(s"$d/documents.parquet")
        d
      }
      val mega2k = megadup(2000)
      val mega20k = megadup(20000)
      // q25 on the worst corpus: the hash groupBy collapses the
      // clique map-side -- must stay at the sf0.1 decade
      if (!only17) time("q25 mega20k     ", mega20k)(Dedup.dedupExact(spark, _))
      // raw banding at C=2000: the measured quadratic point
      if (!only17) time("q27 mega2k RAW  ", mega2k)(Dedup.dedupMinHash(spark, _))
      // the guard at C=20000: oversized buckets emit anchor stars
      if (!only17) time("q27 mega20k CAP ", mega20k)(Dedup.dedupMinHash(spark, _, maxBucket = 1000))
      // the prescription at C=20000: exact collapse, then banding
      // over survivors only
      if (!only17) time("q25->q27 mega20k", mega20k) { dd =>
        val surv = spark.read.parquet(s"$dd/documents.parquet")
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
          .select("doc_id", "text")
        Dedup.dedupMinHashOn(spark, Dedup.docShinglesOn(spark, surv), 0.5, 32, 8)
      }
      // q39/q53 ride dedupNgram on the FULL corpus, so they carry the
      // same quadratic block at C=2000 -- the end-to-end numbers the
      // composition prescription is priced against
      if (!only17) {
        time("q39 mega2k      ", mega2k)(graft.operators.TextAnalysis.corpusPrep(spark, _))
        time("q53 mega2k      ", mega2k)(graft.operators.DupGraph.dupClusters(spark, _))
      }
      // the ngram maxBlock star (r17): dedupNgram's min-shingle twin
      // of the q27 maxBucket guard -- raw at C=2000 for the quadratic
      // point, guarded at C=20000 to show the belt holds where the
      // raw listing would be 2e8 pairs in one block
      time("q26 mega2k RAW  ", mega2k)(Dedup.dedupNgram(spark, _))
      time("q26 mega20k CAP ", mega20k)(Dedup.dedupNgram(spark, _, maxBlock = 1000))
    }
    // ---- r22 additions (VERDICT r21 item 1) ----
    // The r20 row set re-run on the r22 binary (new-flag descent +
    // the autoBuckets edge-store law: blk = N/1250, i.e. 16 at the
    // certified SFs and 1,600 at the 2M-node corpus), PLUS the
    // pruned-read evidence the verdict asks for: a task-metrics
    // listener sums INPUT BYTES over the timed steady-state walk and
    // increment passes, printed next to the edge store's on-disk
    // size — "hop-join read bytes ≪ full edge store at 100×" becomes
    // a measured number instead of a plan claim. Ordering mirrors
    // r20: steady-state rows first (their warm pass builds the
    // shared graph), the expensive 100× descent BUILD row last so a
    // disk/deadline kill cannot lose the steady rows.
    if (args.contains("r22")) {
      import graft.operators.KnnGraph
      emb.crossJoin(copies100)
        .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => x + col("copy").cast("float") * lit(0.01f)).cast("array<float>").as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$dst100/embeddings.parquet")
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      })
      def timeBytes(name: String, d: String)(f: String => org.apache.spark.sql.DataFrame): Unit = {
        val ledgerBefore = graft.BuildLedger.snapshot().toMap
        f(d).write.format("noop").mode("overwrite").save() // warm (builds the shared graph)
        // one-time builds the warm pass paid (the graph's ensure at this
        // corpus — the "descent build time at 2M nodes" cell)
        graft.BuildLedger.snapshot().foreach { case (k, v) =>
          if (math.abs(ledgerBefore.getOrElse(k, 0.0) - v) > 0.01)
            println(f"  build during warm: $k ${v - ledgerBefore.getOrElse(k, 0.0)}%.1fs")
        }
        Thread.sleep(1500); bytes.set(0)
        val t0 = System.nanoTime()
        f(d).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // let straggling task-end events drain
        val path = KnnGraph.graphPath(spark, d)
        val edgesSz = try org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(new org.apache.hadoop.fs.Path(s"$path/edges")).getLength
        catch { case _: Throwable => -1L }
        println(f"$name @ $d: $dt%.2fs, input bytes read ${bytes.get / 1e6}%.1f MB " +
          f"(edge store on disk ${edgesSz / 1e6}%.1f MB)")
      }
      def once22(name: String, d: String)(f: String => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        f(d).write.format("noop").mode("overwrite").save()
        println(f"$name @ $d: ${(System.nanoTime() - t0) / 1e9}%.2fs (one pass)")
      }
      val off = 1000000000L
      // `r22b`: only the 100× cells (an earlier same-binary run's
      // 1×/10× rows stand; the probe host killed two full attempts on
      // memory pressure mid-100×, so the expensive leg is resumable
      // on its own)
      val only100 = args.contains("r22b")
      ((if (only100) Seq(dst100) else Seq(src, dst, dst100))).foreach { d =>
        timeBytes("q93 walk       ", d)(KnnGraph.graphWalkGate(spark, _, idOffset = off))
        timeBytes("q92f increment ", d)(KnnGraph.knnIncrementGate(spark, _, idOffset = off))
        timeBytes("q92g idx clust ", d)(KnnGraph.semanticClustersIndexedGate(spark, _, idOffset = off))
      }
      (if (only100) Seq.empty[String] else Seq(src, dst)).foreach { d =>
        once22("q92b descent   ", d)(KnnGraph.nnDescentGate(spark, _, idOffset = off))
        once22("q92e clusters  ", d)(KnnGraph.semanticClustersDescentGate(spark, _, idOffset = off))
      }
      // the headline cell: the 100x descent BUILD at operator
      // defaults on the new-flag algorithm (r19's three-attempt DNF,
      // r20's deadline cut)
      once22("q92b descent   ", dst100)(KnnGraph.nnDescentGate(spark, _, idOffset = off))
      spark.stop()
      return
    }

    // ---- r20 additions (VERDICT r19 items 1 & 6) ----
    // The descent's new-flag optimization (score only pairs with a
    // new endpoint — the WWW'11 algorithm's own incremental step)
    // lands this round: re-measure the family's 1x/10x slopes on the
    // new algorithm and fill the 100x cells r19 left open. Ordering
    // is deliberate: the steady-state rows run FIRST (their warm pass
    // builds the shared persisted graph once per corpus), so a
    // disk/deadline kill on the expensive final build row cannot lose
    // them. q92e's 100x cell stays open by design — it re-runs a full
    // descent BY GATE DESIGN (planted corpus differs from the indexed
    // base), so its 100x cost is the q92b row plus the CC marginal
    // already priced linear by the r16 q53 100x rows.
    if (only20) {
      import graft.operators.KnnGraph
      emb.crossJoin(copies100)
        .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => x + col("copy").cast("float") * lit(0.01f)).cast("array<float>").as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$dst100/embeddings.parquet")
      def once20(name: String, d: String)(f: String => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        f(d).write.format("noop").mode("overwrite").save()
        println(f"$name @ $d: ${(System.nanoTime() - t0) / 1e9}%.2fs (one pass)")
      }
      val off = 1000000000L
      (if (only20b) Seq(dst100) else Seq(src, dst, dst100)).foreach { d =>
        time("q93 walk       ", d)(KnnGraph.graphWalkGate(spark, _, idOffset = off))
        time("q92f increment ", d)(KnnGraph.knnIncrementGate(spark, _, idOffset = off))
        time("q92g idx clust ", d)(KnnGraph.semanticClustersIndexedGate(spark, _, idOffset = off))
      }
      (if (only20b) Seq.empty[String] else Seq(src, dst)).foreach { d =>
        once20("q92b descent   ", d)(KnnGraph.nnDescentGate(spark, _, idOffset = off))
        once20("q92e clusters  ", d)(KnnGraph.semanticClustersDescentGate(spark, _, idOffset = off))
      }
      // the round's headline cell: the 100x descent BUILD at operator
      // defaults (r19's three-attempt DNF)
      once20("q92b descent   ", dst100)(KnnGraph.nnDescentGate(spark, _, idOffset = off))
    }
    spark.stop()
  }
}
