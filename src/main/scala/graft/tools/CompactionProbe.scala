package graft.tools

import graft.Tables
import graft.operators.{Curation, Dedup, PQ}
import graft.streaming.FunnelStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (SURVEY §4 evidence): cost and steady-state effect of the
  * r12 compaction paths at sf0.1 —
  *   - PQ.compactIncr / compactIvfPqIncr: fold cost, and the q67e/f
  *     probe time PRE-fold (base ∪ delta scan) vs POST-fold (single
  *     store) — post must be ≤ pre (the fold exists to keep the
  *     steady-state read one flat store);
  *   - GramIndex.compact: fold cost vs NUMBER of accumulated
  *     generations (4 vs 16 — the unbounded-growth axis the fold
  *     bounds), and the q64b probe time with live gens vs after;
  *   - FunnelIndex.foldStore: fold cost vs number of absorbed
  *     micro-batch dirs (4 vs 16), on a FAKE-dir override so the real
  *     corpus index's history is never mutated (folding arrivals into
  *     the shared index would change later q79b verdicts — the
  *     watermark deliberately survives a fold).
  * Probes that mutate shared real-dir indexes (PQ incr, grams) delete
  * them afterwards so bench/verify rebuild from clean state.
  */
object CompactionProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.1"

    def del(p: String): Unit = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    def timeDf(name: String)(f: => DataFrame): Unit =
      time(name)(f.write.format("noop").mode("overwrite").save())

    // ---- flat incremental PQ (q67e family) ----
    val flatPath = PQ.incrIndexPath(spark, dir, 16)
    del(flatPath)
    time("flat-pq  base build + delta encode")(PQ.appendDelta(spark, dir))
    timeDf("flat-pq  incrCodes PRE-fold")(PQ.incrCodes(spark, dir))
    time("flat-pq  compactIncr")(PQ.compactIncr(spark, dir))
    timeDf("flat-pq  incrCodes POST-fold")(PQ.incrCodes(spark, dir))
    del(flatPath)

    // ---- composed IVF-PQ incremental (q67f) ----
    val ivfPath = PQ.ivfPqIncrPath(spark, dir, 16)
    del(ivfPath)
    time("ivfpq    base build + delta append")(PQ.appendDeltaIvfPq(spark, dir))
    timeDf("ivfpq    q67f probe PRE-fold")(PQ.ivfPqIncrTopK(spark, dir))
    time("ivfpq    compactIvfPqIncr")(PQ.compactIvfPqIncr(spark, dir))
    timeDf("ivfpq    q67f probe POST-fold")(PQ.ivfPqIncrTopK(spark, dir))
    del(ivfPath)

    // ---- GramIndex generations (q64b family) ----
    val gpath = Dedup.GramIndex.path(spark, dir)
    del(gpath)
    timeDf("grams    q64b build+probe (0 gens)")(Dedup.substringDupIncremental(spark, dir))
    val arrivals = Tables.documents(spark, dir)
      .filter(col("doc_id") % 16 === 1).select("doc_id", "text")
    def absorbGens(n: Int, offset: Int): Unit =
      (0 until n).foreach(g =>
        Dedup.GramIndex.absorb(spark, gpath, arrivals, k = 8, gen = offset + g))
    time("grams    absorb 4 gens")(absorbGens(4, 0))
    time("grams    compact (4 gens)")(Dedup.GramIndex.compact(spark, gpath))
    time("grams    absorb 16 gens")(absorbGens(16, 100))
    timeDf("grams    q64b probe (16 live gens)")(Dedup.substringDupIncremental(spark, dir))
    time("grams    compact (16 gens)")(Dedup.GramIndex.compact(spark, gpath))
    timeDf("grams    q64b probe POST-fold")(Dedup.substringDupIncremental(spark, dir))
    del(gpath)

    // ---- FunnelIndex.foldStore (q79b / FunnelStream) ----
    def funnelFold(nBatches: Int, tag: String): Unit = {
      val fdir = s"/fake/cprobe_funnel_$tag"
      Tables.registerOverride(spark, fdir, "documents", Tables.documents(spark, dir))
      val state = java.nio.file.Files.createTempDirectory(s"cprobe_state_$tag").toString
      val out = java.nio.file.Files.createTempDirectory(s"cprobe_out_$tag").toString
      val ckpt = java.nio.file.Files.createTempDirectory(s"cprobe_ckpt_$tag").toString
      val ctx = FunnelStream.load(spark, fdir, state)
      val delta = Tables.documents(spark, fdir).filter(col("doc_id") % 16 === 0)
        .select("doc_id", "source", "text").as[FunnelStream.DocIn]
        .collect().sortBy(_.doc_id)
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FunnelStream.DocIn]
      val q = FunnelStream.verdicts(ctx, stream.toDS(), out, ckpt)
      val chunk = math.max(1, math.ceil(delta.length.toDouble / nBatches).toInt)
      delta.grouped(chunk).foreach { b => stream.addData(b.toSeq: _*); q.processAllAvailable() }
      q.stop()
      // the store-reading path is the GATE (q79b reads only the
      // index): probe one small batch against index ∪ N store dirs,
      // then against the folded single-store index
      val probeBatch = Tables.documents(spark, fdir)
        .filter(col("doc_id") % 16 === 1).limit(50)
        .select("doc_id", "source", "text")
      timeDf(f"funnel   gate probe PRE-fold ($nBatches%2d batch dirs)")(
        FunnelStream.gateBatch(ctx, probeBatch))
      time(f"funnel   foldStore ($nBatches%2d batch dirs)")(
        FunnelStream.compact(spark, ctx))
      timeDf(f"funnel   gate probe POST-fold ($nBatches%2d)")(
        FunnelStream.gateBatch(ctx, probeBatch))
    }
    funnelFold(4, "b4")
    funnelFold(16, "b16")

    spark.stop()
  }
}
