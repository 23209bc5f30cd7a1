package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — the online counterpart of
  * operators/Dedup.dedupMinHash (and the streaming member of the
  * incremental family started by dedupMinHashIncremental): documents
  * arrive in micro-batches, and each new document is checked against
  * everything seen so far WITHOUT rescanning the corpus.
  *
  * Shape: new docs → shingle → minhash → explode LSH bands →
  * flatMapGroupsWithState keyed by (band, bucket). State per bucket
  * is the list of (doc_id, shingles) previously routed there — the
  * same blocking that makes batch LSH scale bounds the state: a
  * bucket only ever holds near-colliding documents. New docs verify
  * (exact Jaccard) against the bucket's members, then join the
  * state. A pair colliding in several bands is emitted once per
  * colliding band by construction; downstream dropDuplicates on
  * (doc_a, doc_b) dedupes within a batch, and the spec asserts
  * cross-batch equivalence to the batch operator.
  *
  * State bound: `pairs` keeps O(docs × bands) shingle arrays in
  * state — exact and self-contained, but per-doc state grows with
  * document length. `pairsBySignature` is the production variant:
  * constant k-long signatures in state, MinHash-estimator screening
  * in-stream, exact verify downstream against a keyed store.
  */
object DedupStream {

  case class DocIn(doc_id: Long, text: String)
  case class Banded(doc_id: Long, sh: Array[String], band: Int, bucket: String)
  case class BucketState(docs: List[(Long, Array[String])])
  case class DupPair(doc_a: Long, doc_b: Long, jac: Double)

  private def jaccard(x: Array[String], y: Array[String]): Double = {
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      val cmp = x(i).compareTo(y(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 } else if (cmp < 0) i += 1 else j += 1
    }
    BigDecimal(c.toDouble / (x.length + y.length - c))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Band a stream of documents exactly like the batch operator. */
  def banded(spark: SparkSession, docs: Dataset[DocIn],
             k: Int = 32, bands: Int = 8): Dataset[Banded] = {
    import spark.implicits._
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k): a non-dividing " +
        "bands silently drops the tail signature positions from banding")
    docs
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), expr("shingles(text)").as("sh"))
      .withColumn("sig", expr(s"minhash(sh, $k)"))
      .select(col("doc_id"), col("sh"),
        posexplode(DecontamStream.bandCols(k, bands)).as(Seq("band", "bucket")))
      .as[Banded]
  }

  case class GateOut(doc_id: Long, text: String, wc: Int)

  /** Streaming corpus gate — the online twin of the batch corpus-prep
    * pipeline's first two stages (TextAnalysis.corpusPrep): a
    * stateless quality filter (reference word-count formula + length
    * score) and a stateful exact-dup gate (first doc_id per content
    * hash wins, across micro-batches — the reference's INSERT OR
    * IGNORE in stream form). State per content hash is one long.
    */
  def corpusGate(spark: SparkSession, docs: Dataset[DocIn],
                 minQuality: Double = 0.1): Dataset[GateOut] = {
    import spark.implicits._
    val scored = docs
      .withColumn("t", trim(col("text")))
      .withColumn("wc",
        when(col("t") === "", 0)
          .otherwise(length(col("t")) - length(regexp_replace(col("t"), " ", "")) + 1))
      .filter(col("wc") > 0)
      .withColumn("len_score", least(lit(1.0), length(col("text")).cast("double") / 500.0))
      .filter(col("len_score") >= minQuality)
      .select(col("doc_id"), col("text"), col("wc").cast("int").as("wc"),
        md5(col("text")).as("text_hash"))
    scored
      .groupByKey(r => r.getAs[String]("text_hash"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[org.apache.spark.sql.Row], state: GroupState[Long]) =>
          if (state.exists) { it.foreach(_ => ()); Iterator.empty }
          else {
            val rows = it.toArray.sortBy(_.getAs[Long]("doc_id"))
            state.update(rows.head.getAs[Long]("doc_id"))
            Iterator.single(GateOut(rows.head.getAs[Long]("doc_id"),
              rows.head.getAs[String]("text"), rows.head.getAs[Int]("wc")))
          }
      }
  }

  case class SigBanded(doc_id: Long, sig: Array[Long], band: Int, bucket: String)
  case class SigState(docs: List[(Long, Array[Long])])
  case class EstPair(doc_a: Long, doc_b: Long, est_jac: Double)

  /** SIGNATURES-ONLY pair stream — the production-state variant of
    * `pairs` (whose state holds full shingle arrays for exact
    * in-stream verification; fine for self-contained exactness,
    * unbounded per-doc bytes at 100 TB). Here state per (band,
    * bucket) member is the k-long MinHash signature — CONSTANT size
    * per doc (k×8 bytes) regardless of document length — and
    * verification uses the standard unbiased MinHash estimator:
    * est = |{i : sigA_i = sigB_i}| / k, E[est] = jaccard,
    * σ = √(j(1−j)/k) (≈0.09 at j=0.5, k=32). Pairs at est ≥
    * threshold go downstream, where the exact verify joins a keyed
    * document store (the batch twin of that join is dedupMinHash's
    * verify stage); exact duplicates estimate exactly 1.0. Run the
    * stream threshold a margin below the batch threshold to absorb
    * estimator noise.
    */
  def pairsBySignature(spark: SparkSession, docs: Dataset[DocIn], threshold: Double = 0.5,
                       k: Int = graft.GateInvariants.screenK, bands: Int = 8): Dataset[EstPair] = {
    import spark.implicits._
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k): a non-dividing " +
        "bands silently drops the tail signature positions, and bands > k " +
        "degenerates every row to one shared bucket per band")
    val sigBanded = docs
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), expr(s"minhash(shingles(text), $k)").as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(DecontamStream.bandCols(k, bands)).as(Seq("band", "bucket")))
      .as[SigBanded]
    sigBanded
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), it: Iterator[SigBanded], state: GroupState[SigState]) =>
          val newDocs = it.toArray.sortBy(_.doc_id)
          var members = state.getOption.map(_.docs).getOrElse(Nil)
          val out = List.newBuilder[EstPair]
          // a re-delivered doc_id (duplicate input rows, source
          // replay — routine in the crawl streams this gate targets)
          // is a NO-OP: without the guard each copy would be stored
          // in state forever and every future match would emit once
          // per stored copy
          newDocs.foreach { d =>
            if (!members.exists(_._1 == d.doc_id)) {
              members.foreach { case (oldId, oldSig) =>
                var eq = 0; var i = 0
                while (i < k) { if (oldSig(i) == d.sig(i)) eq += 1; i += 1 }
                val est = BigDecimal(eq.toDouble / k)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (est >= threshold) {
                  val (a, b) = if (oldId < d.doc_id) (oldId, d.doc_id) else (d.doc_id, oldId)
                  out += EstPair(a, b, est)
                }
              }
              members ::= (d.doc_id, d.sig)
            }
          }
          state.update(SigState(members))
          out.result().iterator
      }
  }

  /** Stateful pair stream: every emitted pair has exact Jaccard ≥
    * threshold and doc_a < doc_b; each new doc is verified against
    * all prior same-bucket docs across ALL previous micro-batches.
    */
  def pairs(spark: SparkSession, docs: Dataset[DocIn], threshold: Double = 0.5,
            k: Int = 32, bands: Int = 8): Dataset[DupPair] = {
    import spark.implicits._
    banded(spark, docs, k, bands)
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), it: Iterator[Banded], state: GroupState[BucketState]) =>
          val newDocs = it.toArray.sortBy(_.doc_id)
          var members = state.getOption.map(_.docs).getOrElse(Nil)
          val out = List.newBuilder[DupPair]
          // re-delivered doc_id ⇒ no-op (see pairsBySignature)
          newDocs.foreach { d =>
            if (!members.exists(_._1 == d.doc_id)) {
              members.foreach { case (oldId, oldSh) =>
                val jac = jaccard(oldSh, d.sh)
                if (jac >= threshold) {
                  val (a, b) = if (oldId < d.doc_id) (oldId, d.doc_id) else (d.doc_id, oldId)
                  out += DupPair(a, b, jac)
                }
              }
              members ::= (d.doc_id, d.sh)
            }
          }
          state.update(BucketState(members))
          out.result().iterator
      }
  }
}
