package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the PLAN SHAPE claims the scale design rests on (SURVEY §4):
  * shuffle counts, broadcast choices, scan pruning and pushdown are
  * asserted on the physical plan string (which includes the plan
  * inside AdaptiveSparkPlanExec), so a refactor that silently adds an
  * exchange or drops a broadcast fails here rather than at cluster
  * scale.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: DataFrame): String = {
    // other suites cache() intermediate results on the shared session;
    // a cached InMemoryRelation embeds its own exchanges in the plan
    // string and would distort the counts below
    spark.sharedState.cacheManager.clearCache()
    df.queryExecution.executedPlan.toString
  }

  private def count(s: String, needle: String): Int =
    s.sliding(needle.length).count(_ == needle)

  test("q40 runs on exactly 3 data shuffles (+1 for the output sort)") {
    val p = plan(operators.Dedup.dedupAllPairs(spark, dir))
    val n = count(p, "Exchange hashpartitioning") + count(p, "Exchange rangepartitioning")
    assert(n == 4, s"df-window, per-doc regroup, prefix-token group, orderBy — got $n in:\n$p")
  }

  test("sessionization is a single shuffle (+1 for the output sort)") {
    val p = plan(operators.Sessions.temporalSessions(spark, dir))
    val n = count(p, "Exchange hashpartitioning") + count(p, "Exchange rangepartitioning")
    assert(n == 2, s"got $n in:\n$p")
  }

  test("q46 range join is a single window shuffle (+1 for the output sort)") {
    val p = plan(operators.Messages.rangeJoinCounts(spark, dir))
    val n = count(p, "Exchange hashpartitioning") + count(p, "Exchange rangepartitioning")
    assert(n == 2, s"one user-partitioned range window + orderBy — got $n in:\n$p")
    assert(!p.contains("Join"), s"the window form must not materialize a join:\n$p")
  }

  test("q08 and dictionary upsert have no unpartitioned window (single-task sort)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def globalWindows(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globalWindows(operators.Sessions.longGroups(spark, dir)).isEmpty,
      "q08's ordinal must use the two-pass numbering, not Window.orderBy")
    import spark.implicits._
    val existing = Seq(("a", 1L), ("b", 2L)).toDF("name", "id")
    val names = Seq("a", "c", "d").toDF("n")
    val up = operators.Incremental.upsertDictionary(existing, names, "n")
    assert(globalWindows(up).isEmpty, "dictionary delta ids must not globally sort in one task")
    assert(up.orderBy("id").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)))
  }

  test("vector top-k broadcasts the query side") {
    assert(count(plan(operators.Vectors.vectorTopK(spark, dir)), "BroadcastExchange") >= 1)
  }

  test("region-volume joins broadcast the dimension tables") {
    assert(count(plan(operators.Relational.regionVolume(spark, dir)), "BroadcastExchange") >= 2)
  }

  test("parquet scan prunes columns and pushes filters for q11") {
    val p = plan(operators.Messages.messageFilter(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(event_type), IsNotNull(value), Not(EqualTo(event_type,error)), IsNotNull(props)"),
      s"filters must push to the scan:\n$p")
    // ts's PHYSICAL type tracks the testdata generation (bigint for
    // TIMESTAMP(NANOS)+legacy conf, timestamp_ntz since 2026-08-13);
    // the pruning claim is about the COLUMN SET, so accept either.
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(Seq("bigint", "timestamp_ntz", "timestamp").exists(t =>
      readSchema.contains(s"ReadSchema: struct<event_id:bigint,ts:$t,user_id:bigint,event_type:string,value:double,props:string>")),
      s"scan must read exactly the six needed columns:\n$readSchema")
  }

  test("q66 rarity score runs on two data shuffles (+1 output sort)") {
    val p = plan(operators.TextAnalysis.rarityScore(spark, dir))
    val n = count(p, "Exchange hashpartitioning") + count(p, "Exchange rangepartitioning")
    assert(n == 3, s"gram window, per-doc rollup, orderBy — got $n in:\n$p")
  }

  test("q01c native session_window is a single shuffle (+1 output sort)") {
    val p = plan(operators.Sessions.sessionStatsNative(spark, dir))
    val n = count(p, "Exchange hashpartitioning") + count(p, "Exchange rangepartitioning")
    assert(n == 2, s"user partition + orderBy — got $n in:\n$p")
  }

  test("q71 gopher gate is a pure map pass: zero data shuffles (+1 output sort)") {
    val p = plan(operators.TextAnalysis.gopherRules(spark, dir))
    assert(count(p, "Exchange hashpartitioning") == 0,
      s"no groupBy/join/window may appear in the gate pass:\n$p")
    assert(count(p, "Exchange rangepartitioning") == 1, s"only the output sort:\n$p")
    // only doc_id + text leave the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning must reach the parquet scan:\n$p")
  }

  test("q64's gram shuffles carry 8-byte hashes, not gram strings") {
    val p = plan(operators.Dedup.substringDup(spark, dir))
    assert(p.contains("kgram_hashes"), s"the hashed expression must feed the plan:\n$p")
    // the exploded gram column is LONG end-to-end: no string gram
    // survives into either exchange
    assert(!p.contains("kgrams("), "string grams must not appear in the default q64 plan")
  }

  test("q73's gram shuffles carry hashes, and the rewrite has no window") {
    val p = plan(operators.Curation.boilerplateSpans(spark, dir))
    assert(p.contains("kgram_hashes"), s"the hashed expression must feed the plan:\n$p")
    assert(!p.contains("kgrams("), "string grams must not appear in the q73 plan")
    // span expansion + token filter are per-row array expressions:
    // the whole rewrite runs on aggs and joins, never a window sort
    assert(!p.contains("Window"), s"q73 must not window over positions:\n$p")
  }

  test("q74's fill plan broadcasts back; the only windows sit on the histogram") {
    val p = plan(operators.Curation.tokenBudget(spark, dir))
    // the (source, n_pass) fill frame must come back as a broadcast,
    // never a shuffled join of the doc-level scan
    assert(count(p, "BroadcastExchange") >= 1, s"fill frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no doc-sized join shuffle in q74:\n$p")
    // doc-level data crosses exactly the histogram agg boundary: the
    // groupBy(source, n_pass) partial agg plus the window re-exchange
    // on source (both over the ≤ |sources|×8-row frame) + output sort
    val n = count(p, "Exchange hashpartitioning") + count(p, "Exchange rangepartitioning")
    assert(n == 3, s"histogram agg, window repartition, orderBy — got $n in:\n$p")
  }

  test("q76 keeps the bench side broadcast end-to-end: no sort-merge join anywhere") {
    val p = plan(operators.Curation.decontamFuzzy(spark, dir))
    // bench band rows, candidate ids, and bench shingle arrays each
    // come in as a broadcast — the corpus scan joins map-side three
    // times and its shingle arrays never shuffle
    assert(count(p, "BroadcastExchange") >= 3, s"three broadcast joins expected:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-sized join shuffle in q76:\n$p")
  }

  test("q47 repeat calls reuse the registry-cached distance frame") {
    // the former local put-then-unpersist cache had the plan-keyed
    // self-eviction bug (a repeat call "re-persisted" the identical
    // canonicalized plan — a no-op — then unpersisted the previous
    // handle, evicting the entry it had just reused), so every call
    // after the first ran the dominant multi-lag window pass twice.
    // Registry-routed, the SECOND call must still read the cache.
    operators.Vectors.slidingSegments(spark, dir).collect()
    val second = operators.Vectors.slidingSegments(spark, dir)
    assert(second.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      "second slidingSegments call must serve the distance frame from the persisted copy")
    // and the registry self-heals after EXTERNAL eviction: clear the
    // cache behind its back, call again — the frame must be re-cached,
    // not served from a handle whose entry is gone
    spark.sharedState.cacheManager.clearCache()
    val healed = operators.Vectors.slidingSegments(spark, dir)
    assert(healed.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      "after clearCache the registry must re-persist, not reuse the evicted handle")
  }

  test("top-10 bench entries keep their plan shape (VERDICT r15 item 6)") {
    // The ten most expensive batch entries, pinned against the shapes
    // measured when each was perf-audited, so a refactor can't
    // regress a shape the bench noise band would hide. Polarity:
    // upper bounds on the shapes regressions ADD (cartesians, global
    // windows, sort-merge joins, shuffles), lower bounds on the ones
    // they DROP (broadcasts). Counts are stable at the fixed spec SF.
    //            name                 maxSmj maxBnlj maxHashEx minBcast
    val pins = Seq(
      ("q12_recipients",       1, 0,  9, 2), // 1 SMJ: the FullOuter pair-merge (no broadcast variant exists)
      // the union-find's rows, sized on the driver, fold with their
      // projection and sort into one local relation: no exchange and
      // no join (the size join and its broadcast are gone)
      ("q53_dup_clusters",     0, 0,  0, 0),
      ("q75_cluster_reps",     1, 0,  3, 2),
      ("q77_curation_funnel",  0, 0,  6, 5), // every gate leg broadcasts; a corpus-sized SMJ is a regression
      ("q73_boilerplate_spans",0, 0,  3, 2),
      // r18: in-group verify dropped the two candidate re-join
      // broadcasts (candidates no longer exist as rows); what remains
      // broadcast is the centroid catalog + the probed-assignment join
      ("q29b_dedup_emb_ivf",   0, 1,  5, 2),
      // r21: cells/books/codes come from shared leaf frames
      // (Shared.leafFrame) — the build's broadcasts live in
      // the one-time leaf computation, so the benched probe plan
      // keeps 3 (probe assignment + LUT + books)
      ("q67b_ivfpq_topk",      2, 2, 10, 3),
      ("q40_dedup_allpairs",   0, 0,  3, 0),
      ("q26_dedup_ngram",      0, 0,  2, 0),
      ("q86c_source_pipeline", 0, 0,  1, 0))
    val report = pins.flatMap { case (name, maxSmj, maxBnlj, maxHashEx, minBcast) =>
      val df = SparkEntry.queries(name)(spark, dir)
      spark.sharedState.cacheManager.clearCache()
      val p = df.queryExecution.executedPlan.toString
      val globalWins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }.size
      val checks = Seq(
        ("cartesian", count(p, "CartesianProduct"), 0),
        ("globalWindow", globalWins, 0),
        ("sortMergeJoin", count(p, "SortMergeJoin"), maxSmj),
        ("nestedLoopJoin", count(p, "BroadcastNestedLoopJoin"), maxBnlj),
        ("hashExchange", count(p, "Exchange hashpartitioning"), maxHashEx))
        .collect { case (what, got, max) if got > max => s"$name: $what $got > $max" } ++
        (if (count(p, "BroadcastExchange") < minBcast)
           Seq(s"$name: broadcasts ${count(p, "BroadcastExchange")} < $minBcast") else Nil)
      checks
    }
    assert(report.isEmpty, report.mkString("\n"))
  }

  test("q75's canonical pick is a struct max, not a per-cluster window sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = operators.DupGraph.clusterReps(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.isEmpty,
      "the canonical member must come from groupBy(rep).max(struct), not first_value over a window")
  }

  test("q77b reads documents through the shared signal cache only (one scan)") {
    // the one-scan contract: every gate consumes the persisted signal
    // frame — any parquet scan of documents in the executed plan must
    // sit UNDER an InMemoryRelation (the cached one-scan), never as a
    // direct per-gate read. (No clearCache here: the registry-cached
    // signals ARE the operator's contract.)
    val df = operators.Curation.curationFunnelOneScan(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val docScans = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("documents"))
    val imr = count(p, "InMemoryRelation")
    assert(docScans <= imr,
      s"documents scanned outside the signal cache ($docScans scans, $imr cached relations):\n$p")
    assert(count(p, "InMemoryTableScan") >= 3,
      s"the gates must read the shared signal frame:\n$p")
  }

  test("q92d: query side broadcasts, argmax is windowless, no cartesian") {
    // the planted-query probe: corpus scans once against a broadcast
    // query set; the per-query rank-1 is a groupBy struct-max (no
    // per-query window sort), and nothing may plan as a cartesian
    val df = operators.KnnGraph.knnTextTwins(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side must broadcast:\n$p")
    assert(count(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "rank-1 must come from groupBy(max(struct)), not a window")
  }

  test("q92e never broadcasts the corpus: no exact-graph (knnOn) join shape in the plan") {
    // q92c's certified path consumes knnOn — an Inner
    // BroadcastNestedLoopJoin whose broadcast side is the CORPUS
    // (legitimate for the correctness twin, fatal at 100 TB). q92e is
    // the deployment composition: the descent graph feeds the
    // clustering, and the only nested-loop broadcasts allowed are the
    // bounded-centroid CROSS joins of cell assignment (16 rows). An
    // Inner-typed BNLJ is exactly knnOn's non-equi corpus join — its
    // absence is the "no corpus broadcast" claim, structurally.
    val df = operators.KnnGraph.semanticClustersDescentGate(spark, dir)
    val p = plan(df)
    val badLines = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && l.contains("Inner")).toSeq
    assert(badLines.isEmpty,
      s"corpus-broadcast non-equi join in the descent clustering plan:\n${badLines.mkString("\n")}")
  }

  test("q92g never runs a descent or corpus-broadcast join: index-read composition") {
    // the nightly clustering reads the persisted graph + the delta's
    // touched cells; like q92e, an Inner-typed BNLJ (knnOn's non-equi
    // corpus join) must not appear — the only nested-loop broadcasts
    // allowed are the bounded-centroid CROSS joins of cell assignment
    val df = operators.KnnGraph.semanticClustersIndexedGate(spark, dir)
    val p = plan(df)
    val badLines = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && l.contains("Inner")).toSeq
    assert(badLines.isEmpty,
      s"corpus-broadcast non-equi join in the indexed clustering plan:\n${badLines.mkString("\n")}")
  }

  test("graph edge store: bounded node sets read via partition-pruned pblk buckets (r20)") {
    // the scaladoc's bucketing promise, structurally: walk hop joins
    // and increment merge reads go through edgesForNodes, whose scan
    // must carry a PartitionFilter on the pblk layout column — the
    // pruned read opens only the frontier's buckets
    val path = operators.KnnGraph.graphPath(spark, dir)
    operators.KnnGraph.graph().ensure(spark, dir, path)
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    assertStaticPrune(operators.KnnGraph.edgesForNodes(spark, path, nodes, "node")
      .queryExecution.executedPlan.toString, "pblk")
  }

  test("q92 exact graph: broadcast corpus side, one per-node window shuffle + output sort") {
    // the exact graph is the correctness twin (the scale path is
    // nnDescent) — but even the twin should scan the corpus ONCE
    // partition-parallel against a broadcast copy, not sort-merge an
    // N² join
    val p = plan(operators.KnnGraph.knnGraphExact(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), s"corpus side must broadcast:\n$p")
    val n = count(p, "Exchange hashpartitioning") + count(p, "Exchange rangepartitioning")
    assert(n == 2, s"per-node top-k window + orderBy — got $n in:\n$p")
  }

  test("break-and-number entries keep their Window and lag counts") {
    // every caller of plans.Runs lags each input of its break rule once;
    // a lag written inline twice in a break condition plans a second,
    // identical lag column in the same Window node. Counted on the
    // optimized plan with the cache cleared, so q47's uncached plan
    // holds its 5-lag distance pass twice (the mean and the segment
    // pass read it); q08's windows sit under its ordinal's RDD, so
    // none are visible there.
    import org.apache.spark.sql.catalyst.expressions.Lag
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    //          name                   windows lags
    val pins = Seq(
      ("q01_temporal_sessions", 2, 1),
      ("q01b_sessions_chunked", 6, 3),
      ("q02_session_stats",     2, 1),
      ("q03_concat_runs",       2, 2),
      ("q04_largest_sessions",  2, 1),
      ("q08_long_groups",       0, 0),
      ("q13_semantic_segments", 2, 1),
      ("q47_sliding_segments",  3, 10),
      ("q50_cluster_details",   5, 2),
      ("q51_chats_overview",    2, 1),
      ("q86c_source_pipeline",  4, 3),
      ("q87_resessionize",      4, 2))
    val got = pins.map { case (name, _, _) =>
      val df = SparkEntry.queries(name)(spark, dir)
      spark.sharedState.cacheManager.clearCache()
      val opt = df.queryExecution.optimizedPlan
      (name, opt.collect { case w: LWindow => w }.size,
        opt.collect { case n => n.expressions.flatMap(_.collect { case l: Lag => l }) }.flatten.size)
    }
    assert(got == pins, got.zip(pins).filter { case (g, p) => g != p }.mkString("\n"))
  }
}
