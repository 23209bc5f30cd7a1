package graft.streaming

import graft.operators.{PQ, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN gate over the PERSISTED IVF-PQ index (q67d's layout)
  * — the piece that closes the loop between the streaming dedup
  * family and the ANN family (VERDICT r08 item 8): documents ARRIVE
  * with embeddings, and each arrival is scored against the corpus's
  * PQ codes WITHOUT touching a raw corpus vector — a read-only probe
  * of the index a nightly batch job maintains.
  *
  * Per arriving vector, entirely declaratively (the whole gate is one
  * projection + one stream-static equijoin, legal in append mode with
  * ZERO streaming state):
  *
  *   1. rank the index's coarse centroids (collected once at stream
  *      setup — nLists rows, the same boundedness argument as every
  *      IVF probe) by the SAME (round(cosine,6) desc, cell) rule the
  *      batch assignCells uses, keep nProbe cells;
  *   2. build the m×kCodes ADC LUT against the stored codebooks
  *      (collected once, flattened to an array literal — m·kCodes·dsub
  *      floats, e.g. 4 KB at the defaults);
  *   3. stream-static join on cell against the index's code lists —
  *      the static side is the slim (vec_id, codes) table; at cluster
  *      scale it would be bucketed by cell so each micro-batch's join
  *      shuffles only the arrivals;
  *   4. pq_adc scan + threshold: pairs (in_id, vec_id, adc) with
  *      adc ≤ maxDist are emitted — near-duplicate hits against the
  *      indexed corpus. No per-key aggregation, so no watermark or
  *      state store is involved; an exact duplicate of an indexed
  *      vector scores the PQ reconstruction floor and its top cell is
  *      its twin's coarse-ranking cell (PqStreamSpec pins recovery on
  *      planted twins plus stream ≡ batch equality).
  *
  * The gate body is input-agnostic (a DataFrame → DataFrame
  * function): the SAME code path runs under a MemoryStream micro-batch
  * and a static frame, which is what the spec's equivalence leans on.
  */
object PqStream {

  /** An arriving (id, embedding) row — the gate's input record. */
  final case class VecIn(vec_id: Long, embedding: Array[Float])

  /** Static gate context read from the persisted index once at
    * setup: cell literal (each fine centroid tagged with its coarse
    * group), optional coarse-centroid literal (None ⇔ the index was
    * built with FLAT assignment), flattened codebook literal, dims.
    */
  final case class GateIndex(cellsLit: Column, gcentsLit: Option[Column],
                             coarseProbe: Int, booksLit: Column,
                             codes: DataFrame, m: Int, kCodes: Int, dsub: Int)

  /** Load (and if stale, build) the composed IVF-PQ index and collect
    * its tiny structural tables into literals. The codes table stays
    * a DataFrame — it is the (possibly huge) static join side.
    *
    * The probe structure MATCHES the index's assignment rule: once
    * nLists exceeds the flat threshold, the IVF-PQ build assigns
    * corpus vectors two-level (autoCoarse groups — a vector lands on
    * the best cell within its probed GROUPS, not the global best
    * cell), so the gate must rank with the SAME group structure —
    * re-derived here via Vectors.coarseStructure, which is
    * deterministic in the persisted centroids — or an exact twin of
    * an indexed vector could sit in a cell the gate's flat top-nProbe
    * never probes (a silent false negative, exactly at the corpus
    * size where it matters).
    */
  def loadIndex(spark: SparkSession, dir: String,
                m: Int = 8, kCodes: Int = 16, iters: Int = 1,
                nLists: Int = 0): GateIndex = {
    val path = PQ.ivfPqIndexPath(spark, dir)
    PQ.ivfPqIndex(m, kCodes, iters, nLists).ensure(spark, dir, path)
    val books = PQ.readBooks(spark, s"$path/books", m, kCodes)
    // ONE Literal node per structure, not one per element (r22, guide
    // §7.3): the element-wise array(lit(x), ...) spelling built an
    // expression tree with a node per float/cell, and STREAMING
    // re-plans the whole tree per micro-batch (IncrementalExecution)
    // — q91's driver gap (1.25s vs 0.37s of job time, JobProbe) was
    // mostly Catalyst walking literal trees. typedlit embeds the
    // whole collection as a single Literal(ArrayData) node; the cast
    // renames the positional tuple fields to the schema the gate's
    // expressions address. At scale this is load-bearing: adaptive
    // lists = N/125 would put ~1M expression nodes in the plan at the
    // 2M-node corpus.
    val booksLit = typedlit(books.words.toSeq)
    val cents = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.get(0).toString.toInt, r.getSeq[Float](1)))
      .sortBy(_._1)
    // single-Literal struct arrays (see booksLit): typedlit converts
    // the tuple seq in one shot; the cast renames positional fields
    // (_1,_2,_3) to the names the gate's exprs address — a positional
    // struct cast, value-preserving by construction
    def cellsLiteral(rows: Seq[(Int, Int, Seq[Float])]) =
      typedlit(rows).cast("array<struct<grp:int,cell:int,cvec:array<float>>>")
    // group structure must mirror the BUILD's assignment rule, which
    // keyed autoCoarse on the RESOLVED list count — not on however
    // many centroid rows survived (sparse vec_id residues or n <
    // lists leave seed classes empty, so cents.length can undershoot
    // lists and silently diverge the gate's groups from the build's).
    // The build's `lists|` fact, as PQ.ivfPqTopKIndexed reads it
    // (ADVICE r12).
    val lists = PQ.storedLists(spark, path)
    val nCoarse = Vectors.autoCoarse(lists)
    val (cellsLit, gcentsLit) =
      if (nCoarse == 1)
        (cellsLiteral(cents.map { case (cell, cvec) => (0, cell, cvec) }.toSeq), None)
      else {
        val centsDf = spark.read.parquet(s"$path/centroids")
          .select(col("cell").cast("int").as("c_cell"), col("cvec"))
        val (gc, fine) = Vectors.coarseStructure(centsDf, nCoarse)
        val gcRows = gc.collect()
          .map(r => (r.get(0).toString.toInt, r.getSeq[Float](1))).sortBy(_._1)
        val fineRows = fine.collect()
          .map(r => (r.get(0).toString.toInt, r.get(1).toString.toInt, r.getSeq[Float](2)))
          .sortBy(x => (x._1, x._2))
        (cellsLiteral(fineRows.toSeq),
          Some(typedlit(gcRows.toSeq)
            .cast("array<struct<grp:int,gvec:array<float>>>")))
      }
    GateIndex(cellsLit, gcentsLit, coarseProbe = 4, booksLit,
      spark.read.parquet(s"$path/cells"), m, kCodes, books.dsub)
  }

  /** The gate itself: `arrivals` carries (vec_id, embedding) — a
    * micro-batch of a stream or a static frame, same plan either way.
    * Output: (in_id, vec_id, adc, cell) for every indexed corpus
    * vector within ADC distance maxDist of an arrival.
    */
  def nearDupGate(idx: GateIndex, arrivals: DataFrame,
                  maxDist: Double, nProbe: Int = 3): DataFrame = {
    val mk = idx.m * idx.kCodes
    val withCands = idx.gcentsLit match {
      case None => // flat index: every cell is a candidate
        arrivals.select(col("vec_id").as("in_id"), col("embedding"),
          idx.cellsLit.as("cands"), idx.booksLit.as("bks"))
      case Some(gl) => // two-level: assignCells' own coarse rule, per
        // row — rank groups (sim 6dp desc, grp asc), keep coarseProbe,
        // fine candidates only within those groups
        arrivals.select(col("vec_id").as("in_id"), col("embedding"),
            gl.as("gcents"), idx.cellsLit.as("cells"), idx.booksLit.as("bks"))
          .withColumn("topg", expr(
            "slice(transform(array_sort(transform(gcents, g -> struct(" +
              s"-round(cosine_sim(embedding, g.gvec), 6) AS nsim, g.grp AS grp))), " +
              s"x -> x.grp), 1, ${idx.coarseProbe})"))
          .withColumn("cands", expr("filter(cells, c -> array_contains(topg, c.grp))"))
          .drop("gcents", "cells", "topg")
    }
    withCands
      // assignCells' fine ranking rule, per row: sim 6dp desc, cell asc
      .withColumn("ranked", expr(
        s"array_sort(transform(cands, c -> struct(-round(cosine_sim(embedding, c.cvec), 6) AS nsim, c.cell AS cell)))"))
      .withColumn("cell", explode(expr(s"slice(transform(ranked, x -> x.cell), 1, $nProbe)")))
      // the dense m×kCodes LUT (the same layout pq_adc validates):
      // lut[i] = l2_sq(query subvector i/kCodes, codeword i)
      .withColumn("lut", expr(
        s"transform(sequence(0, ${mk - 1}), i -> l2_sq(" +
          s"slice(embedding, (i div ${idx.kCodes}) * ${idx.dsub} + 1, ${idx.dsub}), " +
          s"slice(bks, i * ${idx.dsub} + 1, ${idx.dsub})))"))
      .select("in_id", "cell", "lut")
      .join(idx.codes, Seq("cell"))
      .withColumn("adc", round(expr(s"pq_adc(codes, lut, ${idx.kCodes})"), 6))
      .filter(col("adc") <= maxDist)
      .select(col("in_id"), col("vec_id"), col("adc"), col("cell"))
  }
}
