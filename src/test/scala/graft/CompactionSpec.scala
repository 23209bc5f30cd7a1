package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the incremental-index family's COMPACTION lifecycle (VERDICT
  * r11 item 4): after N appends/absorbs, each index can fold its
  * delta state into its base layout, and
  *   1. results are value-identical before and after the fold,
  *   2. the delta directories are gone (file counts bounded again),
  *   3. re-running the append path after a compaction is a no-op,
  *      never a duplication.
  */
class CompactionSpec extends AnyFunSuite {
  import TestSpark._

  private def deleteIndex(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("flat PQ incr: compact folds codes_delta into codes; append becomes a no-op") {
    val dm = 4 // distinct index path from the q67e driver entry's deltaMod=16
    val path = operators.PQ.incrIndexPath(spark, dir, dm)
    deleteIndex(path)
    operators.PQ.appendDelta(spark, dir, deltaMod = dm)
    def codes() = operators.PQ.incrCodes(spark, dir, deltaMod = dm)
      .select(col("vec_id"), to_json(col("codes")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pre = codes()
    assert(exists(s"$path/codes_delta/_SUCCESS"), "append must leave a delta dir")
    operators.PQ.compactIncr(spark, dir, deltaMod = dm)
    assert(!exists(s"$path/codes_delta"), "compaction must remove the delta dir")
    assert(codes() == pre, "folded base must hold exactly the pre-compaction codes")
    // the post-compaction append must recognize the folded state
    operators.PQ.appendDelta(spark, dir, deltaMod = dm)
    assert(!exists(s"$path/codes_delta"),
      "append after compaction must no-op, not re-duplicate the delta")
    assert(codes() == pre)
    deleteIndex(path)
  }

  test("ivf-pq incr: probe results identical across compaction; delta dir gone") {
    val dm = 4
    val path = operators.PQ.ivfPqIncrPath(spark, dir, dm)
    deleteIndex(path)
    def probe() = operators.PQ.ivfPqIncrTopK(spark, dir, k = 5, nQueries = 3, deltaMod = dm)
      .collect().map(_.toString).sorted.toSeq
    val pre = probe()
    assert(pre.nonEmpty)
    assert(exists(s"$path/codes_delta/_SUCCESS"))
    operators.PQ.compactIvfPqIncr(spark, dir, deltaMod = dm)
    assert(!exists(s"$path/codes_delta"), "compaction must remove the delta dir")
    val post = probe() // must NOT trigger a re-append either
    assert(post == pre, "base ∪ delta and folded base must probe identically")
    assert(!exists(s"$path/codes_delta"),
      "a probe after compaction must not resurrect the delta dir")
    deleteIndex(path)
  }

  test("gram index: absorbed generations sum into the view; compact folds and bounds") {
    import spark.implicits._
    val fdir = "/fake/compaction_grams"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val t2 = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"
    Tables.registerOverride(spark, fdir, "documents",
      Seq((1L, "s", t1), (2L, "s", t2)).toDF("doc_id", "source", "text"))
    val path = operators.Dedup.GramIndex.path(spark, fdir)
    deleteIndex(path)
    operators.Dedup.GramIndex.index(k = 8, deltaMod = 16).build(spark, fdir, path)
    def view() = operators.Dedup.GramIndex.grams(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = view()
    // gen 0 re-ships t1 (sums with the base count), gen 1 ships t1 again
    operators.Dedup.GramIndex.absorb(spark, path,
      Seq((100L, t1)).toDF("doc_id", "text"), k = 8, gen = 0L)
    // idempotence: re-absorbing the SAME generation replaces, never doubles
    operators.Dedup.GramIndex.absorb(spark, path,
      Seq((100L, t1)).toDF("doc_id", "text"), k = 8, gen = 0L)
    operators.Dedup.GramIndex.absorb(spark, path,
      Seq((200L, t1)).toDF("doc_id", "text"), k = 8, gen = 1L)
    val summed = view()
    val t1Grams = base.keySet.filter(g => summed.getOrElse(g, 0L) == base(g) + 2)
    assert(t1Grams.nonEmpty, "t1's grams must count base + gen0 + gen1 = 3 (1+2 absorbed)")
    assert(base.exists { case (g, c) => summed(g) == c },
      "t2's grams (absorbed by no generation) must keep their base count")
    operators.Dedup.GramIndex.compact(spark, path)
    assert(!exists(s"$path/grams_delta"), "compaction must remove all generation dirs")
    assert(view() == summed, "the folded table must equal the summed view exactly")
    deleteIndex(path)
  }

  test("PQ fold crash windows: a lingering or re-appended delta never double-counts; re-compact converges") {
    val dm = 4
    val path = operators.PQ.incrIndexPath(spark, dir, dm)
    deleteIndex(path)
    operators.PQ.appendDelta(spark, dir, deltaMod = dm)
    val deltaRows = spark.read.parquet(s"$path/codes_delta").collect()
    val deltaSchema = spark.read.parquet(s"$path/codes_delta").schema
    def codes() = operators.PQ.incrCodes(spark, dir, deltaMod = dm)
      .select(col("vec_id"), to_json(col("codes")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val pre = codes().toMap
    operators.PQ.compactIncr(spark, dir, deltaMod = dm)
    // crash window: the fold published (codes carries the _folded
    // marker) but the delta dir survived — recreate it verbatim
    spark.createDataFrame(java.util.Arrays.asList(deltaRows: _*), deltaSchema)
      .write.mode("overwrite").parquet(s"$path/codes_delta")
    val seen = codes()
    assert(seen.length == seen.toMap.size && seen.toMap == pre,
      "a folded base + lingering delta must read each vec_id exactly ONCE")
    // appendDelta in this state must recognize the fold and not
    // re-encode; compactIncr must converge (delete, not re-fold)
    operators.PQ.compactIncr(spark, dir, deltaMod = dm)
    assert(!exists(s"$path/codes_delta"), "re-compact must clean the lingering delta")
    assert(codes().toMap == pre, "convergence: same codes, no duplicates baked in")
    operators.PQ.appendDelta(spark, dir, deltaMod = dm)
    assert(!exists(s"$path/codes_delta"), "append still no-ops on the folded index")
    deleteIndex(path)
  }

  test("gram fold crash window: fold published, cleanup never ran — view unchanged, cleanup converges") {
    import spark.implicits._
    val fdir = "/fake/compaction_grams_crash"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    Tables.registerOverride(spark, fdir, "documents",
      Seq((1L, "s", t1)).toDF("doc_id", "source", "text"))
    val path = operators.Dedup.GramIndex.path(spark, fdir)
    deleteIndex(path)
    operators.Dedup.GramIndex.index(k = 8, deltaMod = 16).build(spark, fdir, path)
    def view() = operators.Dedup.GramIndex.grams(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    operators.Dedup.GramIndex.absorb(spark, path,
      Seq((100L, t1)).toDF("doc_id", "text"), k = 8, gen = 0L)
    val summed = view()
    // phase 1 only — the crashed-before-cleanup state: folded base +
    // marker live, gen dir still on disk
    operators.Dedup.GramIndex.foldPhase(spark, path)
    assert(exists(s"$path/grams_delta/gen=0"), "fixture: the gen dir survived the crash")
    assert(exists(s"$path/grams/_folded_gens"), "fixture: the fold marker is live")
    assert(view() == summed,
      "folded base + still-present folded gen must NOT double-count (marker excludes it)")
    // a partial absorb (no _SUCCESS) must not count either
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/grams_delta/gen=7"))
    assert(view() == summed, "a crashed absorb's partial gen dir is not live data")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/grams_delta/gen=7"), true)
    // a NEW generation lands while the crashed state persists: counted once
    operators.Dedup.GramIndex.absorb(spark, path,
      Seq((200L, t1)).toDF("doc_id", "text"), k = 8, gen = 1L)
    val withG1 = view()
    assert(withG1.exists { case (g, c) => summed.get(g).contains(c - 1) },
      "an unfolded new generation still sums on top of the folded base")
    // full compact() from the crashed state: fold gen 1, clean everything
    operators.Dedup.GramIndex.compact(spark, path)
    assert(!exists(s"$path/grams_delta") && !exists(s"$path/grams/_folded_gens"),
      "cleanup converges: no delta dirs, marker cleared")
    assert(view() == withG1, "the final folded table equals the live view before cleanup")
    deleteIndex(path)
  }

  test("compaction crash windows: staged leftovers are ignored; a lost component regenerates losslessly") {
    import spark.implicits._
    import streaming.FunnelStream._
    val fdir = "/fake/compaction_crash"
    val tOld = "distant mountains glowed under the pale morning light as shepherds guided " +
      "their flocks across dew covered meadows toward the stone walls of the old village"
    // the arrival text must PASS the quality gate (stage ordering puts
    // quality before the dup stages) — the harbor text is the proven
    // quality-passing fixture of the funnel tests
    val tArr = "the quiet harbor sheltered a small fleet of wooden boats during rough " +
      "weather while fishermen mended their heavy nets beside tall stacks of salted crates"
    Tables.registerOverride(spark, fdir, "documents",
      Seq((1L, "s", tOld)).toDF("doc_id", "source", "text"))
    val ipath = operators.Curation.FunnelIndex.path(spark, fdir)
    deleteIndex(ipath)
    val state = java.nio.file.Files.createTempDirectory("crash_state").toString
    val ctx = load(spark, fdir, state)
    val b0 = Seq((160L, "s", tArr)).toDF("doc_id", "source", "text")
    gateBatch(ctx, b0, Some(0L)).count(); absorb(ctx, b0, 0L)
    val probe = Seq((300L, "s", tArr), (301L, "s", tOld)).toDF("doc_id", "source", "text")
    def verdicts(c: Ctx) = gateBatch(c, probe, Some(9L))
      .select("doc_id", "stage").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = verdicts(ctx)
    assert(want(300L) == "exact_dup",
      "the absorbed arrival's history must flag its twin (the folded row under test)")
    // crash window A: died mid-WRITE — a half-written staging dir
    // sits next to the live component; the next compact must ignore
    // and overwrite it, never read it as live data
    val fs = new org.apache.hadoop.fs.Path(ipath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ipath/hashes__compact"))
    Seq("garbage").toDF("h").write.mode("overwrite")
      .parquet(s"$ipath/hashes__compact")
    compact(spark, ctx)
    assert(!exists(s"$ipath/hashes__compact"), "staging dir must be consumed by the swap")
    assert(verdicts(ctx) == want, "a leftover staging dir must not corrupt the fold")
    assert(spark.read.parquet(s"$ipath/hashes")
      .filter(col("h") === "garbage").count() == 0,
      "the half-written staging content must never be read as live data")
    // crash window B: died BETWEEN the two renames — the live hashes
    // component is parked as __old, dst is absent. The freshness
    // probe must heal it (restoreDir) so the index reads FRESH and no
    // rebuild happens: the folded component carries the absorbed
    // arrival's md5, which is extra-corpus — a rebuild would silently
    // drop it (exactly what the old delete-then-rename window did)
    val hashRows = spark.read.parquet(s"$ipath/hashes").count()
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$ipath/hashes"),
      new org.apache.hadoop.fs.Path(s"$ipath/hashes__old")), "simulated park")
    assert(operators.Curation.FunnelIndex.index(16, 97, 64).fresh(spark, fdir, ipath),
      "the freshness probe must restore the parked component and read fresh")
    assert(exists(s"$ipath/hashes/_SUCCESS") && !exists(s"$ipath/hashes__old"),
      "restore renames the parked copy back")
    val ctx2 = load(spark, fdir, state)
    assert(spark.read.parquet(s"$ipath/hashes").count() == hashRows,
      "no rebuild: the healed component is the folded one, bit for bit")
    val after = verdicts(ctx2)
    assert(after == want,
      s"folded extra-corpus history must survive the crash untouched: $after vs $want")
    // crash window C: died after the swap-in but before dropping the
    // parked copy — a stale __old next to a live dst. The probe must
    // NOT clobber the live component with the stale parked one.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ipath/hashes__old"))
    Seq("stale").toDF("h").write.mode("overwrite").parquet(s"$ipath/hashes__old")
    assert(operators.Curation.FunnelIndex.index(16, 97, 64).fresh(spark, fdir, ipath))
    assert(spark.read.parquet(s"$ipath/hashes").count() == hashRows &&
      spark.read.parquet(s"$ipath/hashes").filter(col("h") === "stale").count() == 0,
      "a leftover parked dir must never replace the live component")
    deleteIndex(ipath)
  }

  test("funnel seen-store: N batch dirs fold into the index; gating is unchanged") {
    import spark.implicits._
    import streaming.FunnelStream._
    val fdir = "/fake/compaction_funnel"
    val textA = "the quiet harbor sheltered a small fleet of wooden boats during rough " +
      "weather while fishermen mended their heavy nets beside tall stacks of salted crates"
    val textB = "the quick brown foxes jumped gracefully over a sleeping canine beside the " +
      "quiet riverbank while autumn leaves drifted slowly downward covering narrow pathways"
    val textC = "distant mountains glowed under the pale morning light as shepherds guided " +
      "their flocks across dew covered meadows toward the stone walls of the old village"
    val textNew = "carpenters assembled long oak beams inside the workshop while apprentices " +
      "sorted polished brass fittings into labeled wooden drawers near the open furnace door"
    Tables.registerOverride(spark, fdir, "documents",
      Seq((1L, "s", textC)).toDF("doc_id", "source", "text"))
    val state = java.nio.file.Files.createTempDirectory("compact_funnel_state").toString
    deleteIndex(operators.Curation.FunnelIndex.path(spark, fdir))
    val ctx = load(spark, fdir, state)
    // three absorbed micro-batches -> three batchId-keyed dirs per store
    Seq((0L, 160L, textA), (1L, 176L, textB), (2L, 192L, textC)).foreach {
      case (id, docId, text) =>
        val b = Seq((docId, "s", text)).toDF("doc_id", "source", "text")
        gateBatch(ctx, b, Some(id)).count()
        absorb(ctx, b, id)
    }
    assert(new java.io.File(s"$state/hashes").list().count(_.startsWith("batch=")) == 3,
      "one store dir per absorbed batch — the proliferating layout under test")
    // probe: a twin of an absorbed arrival + a genuinely new doc
    val probeBatch = Seq((300L, "s", textA), (301L, "s", textNew))
      .toDF("doc_id", "source", "text")
    def verdicts() = gateBatch(ctx, probeBatch, Some(10L))
      .select("doc_id", "stage").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pre = verdicts()
    assert(pre(300L) == "exact_dup", "absorbed history must flag the twin")
    assert(pre(301L) != "exact_dup" && pre(301L) != "near_dup",
      "the new doc owes nothing to history (its own quality verdict is not under test)")
    streaming.FunnelStream.compact(spark, ctx)
    assert(!exists(s"$state/hashes") && !exists(s"$state/shingles"),
      "compaction must clear the seen-store entirely")
    assert(verdicts() == pre,
      "gating against (enriched index ∪ empty store) must equal (index ∪ full store)")
    deleteIndex(operators.Curation.FunnelIndex.path(spark, fdir))
  }
}
