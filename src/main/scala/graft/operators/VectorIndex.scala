package graft.operators

import graft.{IndexStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index lifecycle — the build/read split of the
  * reference's vector index surface (vector_store.py:105-214
  * `create_hnsw_index` / `check_index_exists` / `get_index_stats`):
  * q19/q19b/q41 compute their IVF structure per query; at 100 TB the
  * index is built ONCE and probed many times, so the structure must
  * live on storage with a stats surface.
  *
  * Layout (the Spark-native equivalent of HNSW's persisted graph):
  *   <path>/centroids/    — one row per cell: (label, svec)
  *   <path>/cells/cell=X/ — the corpus partitioned by cell id: the
  *                          INVERTED LISTS. A probe filters on the
  *                          partition column, so Spark's partition
  *                          pruning skips every non-probed cell's
  *                          files — the nProbe/nLists scan fraction
  *                          falls out of the directory layout (plan-
  *                          asserted in VectorIndexSpec).
  *
  * Cells here are q19b's seeded cells (min-vec_id member per label),
  * so the probe path is value-identical to q19b and shares its DuckDB
  * oracle; a q41 k-means refinement writes the same layout. Identity,
  * freshness and build order: [[graft.IndexStore]].
  */
object VectorIndex {

  /** Index root: `spark.graft.index.root` if set, else
    * `<spark.sql.warehouse.dir>/ivf-index` — the index lives wherever
    * the warehouse lives (HDFS/S3/local alike), never a hard-coded
    * local path.
    */
  def defaultPath(spark: SparkSession, dir: String): String = {
    val root = spark.conf.getOption("spark.graft.index.root")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/ivf-index")
    root.stripSuffix("/") + "/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
  }

  /** `check_index_exists` twin: both components landed. */
  def exists(spark: SparkSession, path: String): Boolean =
    ivf.components.forall(c => IndexStore.complete(spark, s"$path/$c"))

  /** The IVF search index (q48): seeded centroids + cell-partitioned
    * corpus, one pass over the data per component. Lifecycle:
    * [[graft.IndexStore]].
    */
  val ivf: IndexStore.Index =
    IndexStore.Index("ivf", "embeddings", "ivf:seeds=label,schema=1", Seq("centroids", "cells")) {
      (spark, dir, path) =>
        val e = Tables.embeddings(spark, dir)
        Seq(
          IndexStore.write(Vectors.labelSeeds(e), path, "centroids"),
          IndexStore.write(e.select(col("vec_id"), col("label"), col("embedding"), col("label").as("cell"))
            .repartition(col("cell")), // one task per cell's list, not nTasks files per dir
            path, "cells", "cell"))
    }

  def build(spark: SparkSession, dir: String, path: String): Unit = ivf.build(spark, dir, path)

  /** DEDUP-flavored index: q29b's cell structure (vec_id%nLists
    * seeds → decimal-mean centroids → two-level multi-probe
    * assignment) persisted in the same layout — centroids +
    * cell-partitioned (vec_id, cell, s) probe assignments (the
    * inverted lists of the near-dup blocking). Build once nightly;
    * every near-dup pass then READS its blocking instead of re-paying
    * centroid computation + N·√nLists assignment (the steady-state
    * split VERDICT r04 asked to wire end-to-end). nLists and nProbe
    * are identity AS PASSED: nLists=0 means "auto-sized", and auto vs
    * an explicit equal value are the same layout only by accident of
    * N.
    */
  def dedup(nLists: Int = 0, nProbe: Int = 2): IndexStore.Index =
    IndexStore.Index("ivf_dedup", "embeddings",
        s"dedup:nLists=$nLists,nProbe=$nProbe,arith=d2", Seq("centroids", "cells")) {
      (spark, dir, path) =>
        val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        val n = e.count()
        val lists = if (nLists > 0) nLists else math.max(16, (n / 125L).toInt)
        val seeded = e.withColumn("cell", (col("vec_id") % lists).cast("int"))
        val cents = Vectors.centroidsOf(seeded)
        val probed = Vectors.assignCells(e, cents, nProbe, Vectors.autoCoarse(lists))
        cents.select(col("c_cell").as("cell"), col("cvec"))
          .write.mode("overwrite").parquet(s"$path/centroids")
        probed.select(col("vec_id"), col("s"), col("cell"))
          // repartition(cell) is load-bearing at fine cell counts:
          // partitionBy alone sprays nTasks files into EVERY cell dir
          // (nTasks×nLists small files — ScaleProbe measured this turning
          // the q67d steady-state probe into pure listing cost at 10×)
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
        Nil
    }

  /** MINING-flavored index: fine IVF cells (nLists ≈ N/125, the
    * dedup-index sizing) whose inverted lists carry the FULL candidate
    * row (vec_id, label, embedding) — the layout hard-negative mining
    * probes (q62b). Differs from `ivf` (one cell per label — cells
    * bounded by label cardinality) and from `dedup` (fine cells but
    * slim multi-probe assignments): mining needs fine cells so the
    * per-anchor candidate count is nProbe·(N/nLists) = O(cell size),
    * AND label+embedding in the list so scoring never joins back to
    * the base table. Cell = top-1 two-level assignment against
    * vec_id-seeded decimal-mean centroids — deterministic under any
    * partitioning. Params are identity as passed (see `dedup`).
    */
  def mining(nLists: Int = 0, refineIters: Int = 0): IndexStore.Index =
    IndexStore.Index("ivf_mining", "embeddings",
        s"mining:nLists=$nLists,refine=$refineIters,arith=d2,schema=1", Seq("centroids", "cells")) {
      (spark, dir, path) =>
        val e = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")
        val n = e.count()
        val lists = if (nLists > 0) nLists else math.max(16, (n / 125L).toInt)
        // Centroids are REAL member vectors (q19b's seed rule, via
        // refinedCentroids) — residue-group MEANS all sit at the global
        // mean and collapse cells; NegMineProbe measured vector seeds
        // fastest AND best-recall at the largest n on the synthetic
        // corpus (no cluster structure for Lloyd to exploit), so the
        // default skips refinement; corpora with real cluster structure
        // can pass refineIters > 0 (build-time cost only).
        val cents = Vectors.refinedCentroids(e.select("vec_id", "embedding"), lists, refineIters)
        // the coarse structure is PART OF THE INDEX: derive it once here,
        // use it for the build's own assignment, and persist it so probes
        // (q62b) read it back instead of re-deriving per call — which also
        // makes build/probe group parity structural (the probe ranks with
        // the exact groups the lists were assigned under, closing the
        // cents.length-vs-lists drift class the r12 advice flagged in
        // PqStream). nCoarse == 1 stores no structure: the flat path has
        // no groups to agree on.
        val nCoarse = Vectors.autoCoarse(lists)
        val assign =
          if (nCoarse == 1) {
            // A rebuild that crosses the two-level→flat boundary (explicit
            // nLists change, or the corpus shrinking under autoCoarse's
            // threshold) must not leave the PREVIOUS build's coarse
            // structure on disk: the new watermark would read as fresh
            // while storedCoarse still served the old build's groups, and
            // hardNegativesIvf (useStored=true) would probe with stale
            // centroid assignments (ADVICE r13, medium).
            val fs = IndexStore.fsFor(spark, path)
            Seq("coarse_groups", "coarse_fine").foreach(d =>
              fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
            Vectors.assignCells(e.select("vec_id", "embedding"), cents, nProbe = 1, nCoarse = 1)
          } else {
            val (gc, fine) = Vectors.coarseStructure(cents, nCoarse)
            gc.write.mode("overwrite").parquet(s"$path/coarse_groups")
            fine.write.mode("overwrite").parquet(s"$path/coarse_fine")
            Vectors.assignCellsStructured(e.select("vec_id", "embedding"),
              spark.read.parquet(s"$path/coarse_groups"),
              spark.read.parquet(s"$path/coarse_fine"), nProbe = 1)
          }
        Seq(
          IndexStore.write(cents.select(col("c_cell").as("cell"), col("cvec")), path, "centroids"),
          IndexStore.write(e.join(assign.select("vec_id", "cell"), "vec_id")
            .select(col("vec_id"), col("label"), col("embedding"), col("cell"))
            .repartition(col("cell")), // one task per cell's list, not nTasks files per dir
            path, "cells", "cell"))
    }

  def miningPath(spark: SparkSession, dir: String): String =
    defaultPath(spark, dir) + "_mine"

  def centroids(spark: SparkSession, path: String): DataFrame =
    IndexStore.read(spark, path, "centroids")

  /** The index's PERSISTED coarse structure — (gcents, fine) as
    * written by the `mining` build. None for flat builds (nCoarse == 1,
    * no groups exist); callers then re-derive via
    * Vectors.coarseStructure, which is deterministic in the same
    * centroids.
    */
  def storedCoarse(spark: SparkSession, path: String): Option[(DataFrame, DataFrame)] = {
    val g = s"$path/coarse_groups"
    if (IndexStore.fsFor(spark, g).exists(new org.apache.hadoop.fs.Path(g)))
      Some((spark.read.parquet(g), spark.read.parquet(s"$path/coarse_fine")))
    else None
  }

  def cells(spark: SparkSession, path: String): DataFrame =
    IndexStore.read(spark, path, "cells")

  /** `get_index_stats` twin: per-cell inverted-list sizes + dims,
    * answered from the INDEX (not the base table).
    */
  def indexStats(spark: SparkSession, path: String): DataFrame =
    cells(spark, path)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        min(size(col("embedding"))).as("dim"),
        min("vec_id").as("min_vec_id"),
        max("vec_id").as("max_vec_id"))
      .orderBy("cell")

  /** Probe the persisted index — value-identical to q19b (same seeds,
    * same ranking), with candidates from the probed cells' lists only:
    * [[CellProbe]] ranks the stored seeds, collects the probes and
    * prunes the cell-partitioned store to them.
    */
  def probe(spark: SparkSession, dir: String, path: String, k: Int = 10,
            nProbe: Int = 3, nQueries: Int = 5): DataFrame = {
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ranked = CellProbe.rank(q.crossJoin(broadcast(centroids(spark, path))),
        "query_id", "label", Vectors.seededScore, nProbe)
      .select("query_id", "qvec", "label")
    val (probes, lists) = CellProbe.read(ranked, "label", cells(spark, path), "cell")
    Vectors.candidateTopK(lists.join(broadcast(probes), Seq("label")), k)
  }

  /** q48: the full lifecycle as one driver entry — build if absent
    * (the nightly build), then probe (the steady-state read path).
    */
  def buildAndProbe(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(spark, dir)
    ivf.ensure(spark, dir, path)
    probe(spark, dir, path)
  }

  /** q48b: the stats surface as a driver entry, oracle-checked
    * against the same aggregation on the base table.
    */
  def statsEntry(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(spark, dir)
    ivf.ensure(spark, dir, path)
    indexStats(spark, path)
  }
}
