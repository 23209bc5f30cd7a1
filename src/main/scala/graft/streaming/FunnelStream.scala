package graft.streaming

import graft.operators.{Curation, Dedup, PQ}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The ONLINE curation funnel — q79 at ingest time, composing the
  * three streaming families into one verdict stream: the exact +
  * fuzzy decontamination gates (DecontamStream), first-writer-wins
  * duplicate state (DedupStream.corpusGate's rule, here as a
  * persisted seen-store), and optionally PqStream's indexed ANN probe
  * for arrivals that carry embeddings.
  *
  * Architecture: a micro-batch IS a nightly delta, so the stream is
  * `Curation.funnelGate` ITERATED — each batch gates against
  * (persisted FunnelIndex ∪ the arrivals absorbed so far), then joins
  * the seen-store itself. One gate definition serves q79, q79b and
  * the stream (the no-paste-drift rule); `foreachBatch` is what makes
  * that literal, because inside it the batch is a static frame and
  * every batch operator composes freely — no multi-stateful-operator
  * restrictions, no stream-stream joins.
  *
  * Semantics (FunnelStreamSpec pins all three):
  *   - history beats arrival: FunnelIndex docs + earlier batches win
  *     over the current batch; within a batch the smaller doc_id wins
  *     (funnelGate's batch-local rule).
  *   - the bench side is FROZEN AT SETUP over the whole dir (bench
  *     suites are known up front — DecontamStream's contract, and
  *     exactly funnelDelta's bench set), so a doc is contaminated by
  *     a bench doc even when that bench doc arrives in a LATER batch.
  *   - arrivals fed in ascending doc_id order reproduce batch
  *     funnelDelta on the union EXACTLY, row for row; out-of-order
  *     arrivals resolve by arrival time — ingest-time first-writer-
  *     wins, which is what an online gate should do.
  *
  * Scale shape: per batch, every history touch is the same keyed
  * probe funnelGate makes for q79b — md5 left-semi, bucket-pruned
  * shingle read (index partitions skip; the seen-store stays slim:
  * one hash row + one shingle row per absorbed doc), broadcast bench
  * grams. Nothing corpus-sized shuffles per micro-batch.
  *
  * Delivery: foreachBatch is at-least-once on retry, so BOTH writes a
  * batch makes are keyed by batchId (the standard idempotence
  * spelling): verdicts land in `outPath/batch=<id>` and seen-store
  * rows in `statePath/{hashes,shingles}/batch=<id>`, each with
  * overwrite — a replayed batch overwrites its own directory instead
  * of duplicating rows. Gating prunes the store to `batch < id`, so a
  * retry that crashed mid-absorb re-gates against exactly the history
  * the first attempt saw (a batch must never see its own
  * partially-absorbed rows as history). FunnelStreamSpec pins the
  * replay: re-running a batch changes nothing.
  */
object FunnelStream {

  /** An arriving document — the gate's input record. */
  final case class DocIn(doc_id: Long, source: String, text: String)

  /** Frozen stream context: corpus index location, seen-store root,
    * the setup-time bench gram frame (persisted — read by every
    * batch's broadcast), the fuzzy bench index, and (optional) the
    * IVF-PQ gate index for embedding-carrying arrivals.
    */
  final case class Ctx(dir: String, statePath: String,
                       benchMod: Int, minPass: Int, threshold: Double,
                       nBuckets: Int, benchGrams: DataFrame,
                       fuzzy: DecontamStream.FuzzyBenchIndex,
                       ann: Option[PqStream.GateIndex],
                       annMaxDist: Double)

  /** Build (or reuse) the FunnelIndex, freeze the bench sides, and
    * (when withAnn) load the composed IVF-PQ index for the ANN leg.
    */
  def load(spark: SparkSession, dir: String, statePath: String,
           deltaMod: Int = 16, benchMod: Int = 97, minPass: Int = 6,
           threshold: Double = 0.5, nBuckets: Int = 64,
           withAnn: Boolean = false, annMaxDist: Double = 0.5): Ctx = {
    val path = Curation.FunnelIndex.path(spark, dir)
    Curation.FunnelIndex.index(deltaMod, benchMod, nBuckets).ensure(spark, dir, path)
    val bench = DecontamStream.benchFrame(spark, dir, benchMod)
    // warm the index-side cache: gateBatch fetches the registry's
    // CURRENT copy per batch (FunnelIndex.cached), so micro-batches
    // pay a map probe instead of a file listing, while build/fold —
    // which rewrite files under the same path — invalidate and the
    // next batch re-lists (a ctx outliving a compact stays correct)
    Curation.FunnelIndex.loadCached(spark, dir)
    Ctx(dir, statePath, benchMod, minPass, threshold, nBuckets, bench,
      DecontamStream.loadBenchFuzzy(spark, dir, benchMod),
      if (withAnn) Some(PqStream.loadIndex(spark, dir)) else None,
      annMaxDist)
  }

  private def readIfExists(spark: SparkSession, p: String, schema: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the explicit schema matters beyond the empty-frame branch: a
    // crash during the FIRST absorb can leave the store dir holding
    // only _temporary (no committed files), and a schema-less read
    // then throws "Unable to infer schema" on every replay — wedging
    // the stream the replay design exists to recover
    if (fs.exists(new org.apache.hadoop.fs.Path(p)))
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(schema)).parquet(p)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  /** Seen-store leg read: batchId-partitioned dirs surface a `batch`
    * partition column — prune to `batch < beforeBatch` (a retried
    * batch must not see its own partially-absorbed rows; partition
    * pruning makes the exclusion a directory skip) then drop it so
    * the union with the index side stays schema-identical.
    */
  private def storeRead(spark: SparkSession, p: String, schema: String,
                        beforeBatch: Option[Long]): DataFrame = {
    // `batch` is declared in the schema (an explicitly-typed read
    // must name its partition column), pruned, then dropped so the
    // union with the index side stays schema-identical
    val raw = readIfExists(spark, p, schema + ", batch BIGINT")
    beforeBatch.fold(raw)(b => raw.filter(col("batch") < b)).drop("batch")
  }

  /** Gate ONE batch (a static frame inside foreachBatch, or any
    * batch frame — same code path) against index ∪ seen-store.
    * Returns the verdict frame; does NOT absorb the batch.
    * `beforeBatch` (set by the stream) limits the store to batches
    * strictly earlier — the replay-idempotence rule.
    */
  def gateBatch(ctx: Ctx, batch: DataFrame,
                beforeBatch: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val (corpusHashes, corpusShingles) = Curation.FunnelIndex.cached(spark, ctx.dir)
    val hashes = corpusHashes
      .unionByName(storeRead(spark, s"${ctx.statePath}/hashes", "h STRING", beforeBatch))
    val shingles = corpusShingles
      .unionByName(storeRead(spark, s"${ctx.statePath}/shingles",
        "doc_id BIGINT, sh ARRAY<STRING> NOT NULL, blk STRING, pblk INT", beforeBatch))
    // pruneBuckets = false: the corpus side is CACHED (Ctx), so the
    // bucket-prune's per-batch collect job costs more than its filter
    // saves — see funnelGate's parameter doc
    val verdicts = Curation.funnelGate(spark, batch.select("doc_id", "source", "text"),
      hashes, shingles, ctx.benchGrams,
      ctx.benchMod, ctx.minPass, ctx.threshold, ctx.nBuckets,
      pruneBuckets = false)
    val fuzzy = DecontamStream.gateFuzzy(ctx.fuzzy, batch.select("doc_id", "text")).toDF()
      .select(col("doc_id"), col("contaminated").as("fuzzy_contaminated"))
    val ann = ctx.ann match {
      case Some(idx) if batch.columns.contains("embedding") =>
        PqStream.nearDupGate(idx,
            batch.select(col("doc_id").as("vec_id"), col("embedding")),
            ctx.annMaxDist)
          .filter(col("vec_id") =!= col("in_id")) // self-hits are not dups
          .select(col("in_id").as("doc_id")).distinct()
          .withColumn("ann_dup", lit(true))
      case _ => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, ann_dup BOOLEAN"))
    }
    verdicts
      .join(fuzzy, Seq("doc_id"), "left")
      .join(ann, Seq("doc_id"), "left")
      .withColumn("fuzzy_contaminated", coalesce(col("fuzzy_contaminated"), lit(false)))
      .withColumn("ann_dup", coalesce(col("ann_dup"), lit(false)))
    // no orderBy: a batch's verdicts land in their own batch=<id> dir
    // and every consumer (the harness, compaction, q79 comparisons)
    // re-orders after reading — a global sort PER MICRO-BATCH was a
    // range exchange bought for nothing (r14 harness-cost audit)
  }

  /** Absorb a batch into the seen-store: one md5 row and one shingle
    * row per doc — the slim first-writer-wins state the next batches
    * probe. Writes land in `batch=<id>` dirs with overwrite, so a
    * replayed batch replaces its own rows instead of doubling them.
    * Call AFTER the batch's verdicts are materialized.
    */
  def absorb(ctx: Ctx, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    batch.select(md5(col("text")).as("h")).distinct()
      .write.mode("overwrite").parquet(s"${ctx.statePath}/hashes/batch=$batchId")
    Dedup.docShinglesOn(spark, batch.select("doc_id", "text"))
      .withColumn("blk", element_at(col("sh"), 1))
      .withColumn("pblk", pmod(xxhash64(col("blk")), lit(ctx.nBuckets)).cast("int"))
      .select("doc_id", "sh", "blk", "pblk")
      .write.mode("overwrite").parquet(s"${ctx.statePath}/shingles/batch=$batchId")
  }

  /** Nightly COMPACTION: fold the seen-store's batchId-keyed dirs
    * (one pair per absorbed micro-batch — unbounded over a stream's
    * lifetime) into the FunnelIndex itself and clear the store. Run
    * with the stream stopped on a committed checkpoint; on restart,
    * gating resumes against the enriched index and an empty store,
    * producing identical verdicts (FunnelStreamSpec pins it).
    */
  def compact(spark: SparkSession, ctx: Ctx): Unit =
    Curation.FunnelIndex.foldStore(spark, ctx.dir, ctx.statePath, ctx.nBuckets)

  /** An arriving document WITH its embedding — the input record that
    * reaches the ANN leg (gateBatch probes the IVF-PQ index only for
    * arrivals carrying an `embedding` column, which the text-only
    * DocIn schema cannot).
    */
  final case class DocVecIn(doc_id: Long, source: String, text: String,
                            embedding: Array[Float])

  /** The verdict stream: gate each micro-batch against batches < id,
    * overwrite `outPath/batch=<id>` with its verdicts, then absorb.
    * The sink write is an action, so verdicts materialize against the
    * PRE-absorb store (the batch must never see itself as history) —
    * and because every write is batchId-keyed overwrite, an
    * at-least-once replay of any batch is a no-op, not a double-count.
    */
  def verdicts(ctx: Ctx, docs: Dataset[DocIn], outPath: String,
               checkpoint: String): StreamingQuery =
    verdictsOf(ctx, docs.toDF(), outPath, checkpoint)

  /** DataFrame spelling of `verdicts` for arrivals that carry more
    * than (doc_id, source, text) — specifically an `embedding`
    * column (DocVecIn), without which a `withAnn = true` context
    * would silently gate every arrival with ann_dup = false: the
    * typed DocIn stream can never reach the ANN leg.
    */
  def verdictsOf(ctx: Ctx, docs: DataFrame, outPath: String,
                 checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch(ctx, batch, Some(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        absorb(ctx, batch, batchId)
      }
      .start()
}
