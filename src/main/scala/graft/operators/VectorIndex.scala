package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * oracle; a q41 k-means refinement writes the same layout.
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

  private[operators] def fsFor(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `check_index_exists` twin: a completed build leaves _SUCCESS
    * markers and a watermark. All checks go through the Hadoop
    * FileSystem of the index path, so the lifecycle works on any
    * warehouse filesystem, not just local disk.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val fs = fsFor(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells/_SUCCESS")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids/_SUCCESS"))
  }

  /** Snapshot of the source table's file listing (name, length,
    * mtime per file) — the build watermark. Equality of snapshots,
    * not an mtime ordering, decides freshness: a source rewritten
    * within the same timestamp granularity still changes its
    * (name, length) listing, and the check needs no clock agreement
    * between the index store and the source store.
    */
  private[graft] def sourceSnapshot(spark: SparkSession, dir: String): String =
    Tables.fileListing(spark, s"$dir/embeddings.parquet", "\n")

  /** Staged in-place rewrite of one index component dir: materialize
    * the replacement NEXT TO the live dir (the write may read the
    * live dir — parquet cannot overwrite what a job is scanning),
    * then swap via TWO renames — park the live dir as `__old`, rename
    * the staging dir in, drop the parked copy. The compaction ops'
    * shared write discipline, with NO destructive window: a crash
    * mid-write leaves the live dir untouched (the half-written
    * `__compact` staging dir is cleaned by the next attempt); a crash
    * between the two renames leaves the component parked as `__old`,
    * which `restoreDir` renames back on the next read or swap. The
    * delete-then-rename spelling this replaces had a window where the
    * component was simply GONE — survivable for corpus-derived state
    * (rebuild), but a folded component also carries EXTRA-CORPUS
    * absorbed arrivals, and a forced rebuild would silently drop
    * them (CompactionSpec pins both crash windows).
    */
  private[operators] def swapDir(spark: SparkSession, path: String, name: String)
                                (write: String => Unit): Unit = {
    val fs = fsFor(spark, path)
    restoreDir(spark, path, name) // heal a previously crashed swap first
    val tmp = s"$path/${name}__compact"
    val dst = new org.apache.hadoop.fs.Path(s"$path/$name")
    val old = new org.apache.hadoop.fs.Path(s"$path/${name}__old")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.delete(old, true)
    write(tmp)
    if (fs.exists(dst))
      require(fs.rename(dst, old), s"compaction parking rename $dst -> $old failed")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
      s"compaction rename $tmp -> $dst failed")
    fs.delete(old, true)
  }

  /** Recover a component lost in swapDir's between-renames window:
    * the live dir has no _SUCCESS but a complete `__old` parked copy
    * exists → rename it back. Idempotent and two-exists cheap, so
    * every component freshness probe runs it first — a crashed swap
    * then degrades to "the fold never happened" (the caller's
    * not-yet-deleted delta/store side still holds the unfolded rows)
    * instead of a stale index and a history-dropping rebuild.
    */
  private[operators] def restoreDir(spark: SparkSession, path: String, name: String): Unit = {
    val fs = fsFor(spark, path)
    val dst = new org.apache.hadoop.fs.Path(s"$path/$name")
    val old = new org.apache.hadoop.fs.Path(s"$path/${name}__old")
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$name/_SUCCESS")) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/${name}__old/_SUCCESS"))) {
      fs.delete(dst, true)
      require(fs.rename(old, dst), s"restore rename $old -> $dst failed")
    }
  }

  /** Folded-state marker INSIDE a component dir. Written into the
    * STAGING dir before the swap rename, so the folded data and the
    * "this component already contains its delta" fact publish
    * atomically — the delta-dir delete and watermark write that
    * follow a fold can then crash at any point without readers ever
    * double-counting the delta (they skip it while the marker is
    * present) and without a re-run re-folding it. The underscore
    * prefix keeps the file invisible to parquet readers.
    */
  private[operators] def touchMarker(spark: SparkSession, dirPath: String): Unit =
    fsFor(spark, dirPath)
      .create(new org.apache.hadoop.fs.Path(s"$dirPath/_folded"), true).close()

  private[operators] def hasMarker(spark: SparkSession, dirPath: String): Boolean =
    fsFor(spark, dirPath).exists(new org.apache.hadoop.fs.Path(s"$dirPath/_folded"))

  private def watermarkPath(path: String) = new org.apache.hadoop.fs.Path(s"$path/watermark")

  private[graft] def readWatermark(spark: SparkSession, path: String): Option[String] = {
    val fs = fsFor(spark, path)
    if (!fs.exists(watermarkPath(path))) None
    else {
      val len = fs.getFileStatus(watermarkPath(path)).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(watermarkPath(path))
      try { in.readFully(buf); Some(new String(buf, "UTF-8")) }
      finally in.close()
    }
  }

  private[operators] def writeWatermark(spark: SparkSession, path: String, snapshot: String): Unit = {
    // write-then-rename, not in-place truncate+write: a concurrent
    // fresh() reader during an in-place write sees a partial
    // watermark (spurious stale → wasted rebuild) and a crash
    // mid-write leaves a corrupt watermark next to valid _SUCCESS
    // markers. rename is atomic on HDFS/local; on S3 it's
    // copy+delete — still never partial, just not atomic vs a
    // concurrent writer (single-writer builds assumed there).
    val fs = fsFor(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/watermark.tmp")
    val out = fs.create(tmp, true)
    try out.write(snapshot.getBytes("UTF-8")) finally out.close()
    if (fs.exists(watermarkPath(path))) fs.delete(watermarkPath(path), false)
    if (!fs.rename(tmp, watermarkPath(path)))
      throw new java.io.IOException(s"rename $tmp -> ${watermarkPath(path)} failed")
  }

  /** Index is present AND its recorded build watermark matches the
    * source table's current file snapshot — a stale index (source
    * regenerated after the build) must not serve probes.
    *
    * `params` is the build-parameter suffix the builder recorded
    * (ADVICE r07: an index built earlier with DIFFERENT nLists /
    * refineIters read as fresh, so the caller's parameter silently
    * had no effect — the parameters are part of the index's identity,
    * exactly like the source bytes).
    */
  def fresh(spark: SparkSession, dir: String, path: String, params: String = ""): Boolean =
    exists(spark, path) &&
      readWatermark(spark, path).contains(sourceSnapshot(spark, dir) + paramSuffix(params))

  private def paramSuffix(params: String): String =
    if (params.isEmpty) "" else s"\nparams|$params"

  /** Build the index: seeded centroids + cell-partitioned corpus.
    * One pass over the data per table; the cells write is the one
    * shuffle-free reorganization (partitionBy on write splits files
    * per task — at cluster scale precede it with a repartition on
    * cell so each cell's list is written by one task). The source
    * snapshot is taken BEFORE the build reads the data, so a source
    * overwritten mid-build leaves a non-matching watermark (the index
    * reads as stale, never as wrongly fresh).
    */
  def build(spark: SparkSession, dir: String, path: String): Unit = graft.BuildLedger.timed(s"ivf:$path") {
    val snapshot = sourceSnapshot(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val seedW = Window.partitionBy("label").orderBy("vec_id")
    e.withColumn("rn", row_number().over(seedW)).filter(col("rn") === 1)
      .select(col("label"), col("embedding").as("svec"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    e.select(col("vec_id"), col("label"), col("embedding"), col("label").as("cell"))
      .repartition(col("cell")) // one task per cell's list, not nTasks files per dir
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    writeWatermark(spark, path, snapshot)
  }

  /** DEDUP-flavored index build: q29b's cell structure (vec_id%nLists
    * seeds → decimal-mean centroids → two-level multi-probe
    * assignment) persisted in the same layout — centroids +
    * cell-partitioned (vec_id, cell, s) probe assignments (the
    * inverted lists of the near-dup blocking). Build once nightly;
    * every near-dup pass then READS its blocking instead of re-paying
    * centroid computation + N·√nLists assignment (the steady-state
    * split VERDICT r04 asked to wire end-to-end). Same watermark
    * freshness contract as the search index.
    */
  def buildDedup(spark: SparkSession, dir: String, path: String,
                 nLists: Int = 0, nProbe: Int = 2): Unit = graft.BuildLedger.timed(s"ivf_dedup:$path") {
    val snapshot = sourceSnapshot(spark, dir) + paramSuffix(dedupParams(nLists, nProbe))
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
    writeWatermark(spark, path, snapshot)
  }

  /** MINING-flavored index: fine IVF cells (nLists ≈ N/125, the
    * dedup-index sizing) whose inverted lists carry the FULL candidate
    * row (vec_id, label, embedding) — the layout hard-negative mining
    * probes (q62b). Differs from `build` (one cell per label — cells
    * bounded by label cardinality) and from `buildDedup` (fine cells
    * but slim multi-probe assignments): mining needs fine cells so the
    * per-anchor candidate count is nProbe·(N/nLists) = O(cell size),
    * AND label+embedding in the list so scoring never joins back to
    * the base table. Cell = top-1 two-level assignment against
    * vec_id-seeded decimal-mean centroids — deterministic under any
    * partitioning; same watermark freshness contract as the others.
    */
  def buildMining(spark: SparkSession, dir: String, path: String, nLists: Int = 0,
                  refineIters: Int = 0): Unit = graft.BuildLedger.timed(s"ivf_mining:$path") {
    val snapshot = sourceSnapshot(spark, dir) + paramSuffix(miningParams(nLists, refineIters))
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
        Seq(s"$path/coarse_groups", s"$path/coarse_fine").foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = fsFor(spark, d)
          if (fs.exists(p)) fs.delete(p, true)
        }
        Vectors.assignCells(e.select("vec_id", "embedding"), cents, nProbe = 1, nCoarse = 1)
      } else {
        val (gc, fine) = Vectors.coarseStructure(cents, nCoarse)
        gc.write.mode("overwrite").parquet(s"$path/coarse_groups")
        fine.write.mode("overwrite").parquet(s"$path/coarse_fine")
        Vectors.assignCellsStructured(e.select("vec_id", "embedding"),
          spark.read.parquet(s"$path/coarse_groups"),
          spark.read.parquet(s"$path/coarse_fine"), nProbe = 1)
      }
    cents.select(col("c_cell").as("cell"), col("cvec"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    e.join(assign.select("vec_id", "cell"), "vec_id")
      .select(col("vec_id"), col("label"), col("embedding"), col("cell"))
      .repartition(col("cell")) // one task per cell's list, not nTasks files per dir
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    writeWatermark(spark, path, snapshot)
  }

  def miningPath(spark: SparkSession, dir: String): String =
    defaultPath(spark, dir) + "_mine"

  /** The mining index's identity params, as recorded in its watermark
    * (the AS-PASSED values: nLists=0 means "auto-sized", and auto vs
    * an explicit equal value are the same layout only by accident of
    * N — treat them as distinct rather than re-deriving N here).
    */
  def miningParams(nLists: Int, refineIters: Int): String =
    s"mining:nLists=$nLists,refine=$refineIters,arith=d2"

  /** The dedup index's identity params (same contract). */
  def dedupParams(nLists: Int, nProbe: Int): String =
    s"dedup:nLists=$nLists,nProbe=$nProbe,arith=d2"

  def centroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/centroids")

  /** The index's PERSISTED coarse structure — (gcents, fine) as
    * written by buildMining. None for flat builds (nCoarse == 1, no
    * groups exist) and for pre-record indexes (built before the
    * structure was part of the layout); callers fall back to
    * re-deriving via Vectors.coarseStructure, which is deterministic
    * in the same centroids.
    */
  def storedCoarse(spark: SparkSession, path: String): Option[(DataFrame, DataFrame)] = {
    val g = s"$path/coarse_groups"
    if (fsFor(spark, g).exists(new org.apache.hadoop.fs.Path(g)))
      Some((spark.read.parquet(g), spark.read.parquet(s"$path/coarse_fine")))
    else None
  }

  def cells(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/cells")

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
    * same ranking), but candidates come from a partition-pruned read
    * of the probed cells only. The probe rows (≤ nQueries·nProbe,
    * each a query vector and a cell id) are collected ONCE and join
    * back as a local relation — knowing which inverted lists to open
    * IS the index-probe contract, so the pruning filter is static and
    * visible to the scan, and the probe ranking never re-runs inside
    * the candidate query (PQ.probeAdcTopK's tail). Both components are
    * read with the schema `build` wrote, derived from the embeddings
    * fields, so no call pays a schema-inference job.
    */
  def probe(spark: SparkSession, dir: String, path: String, k: Int = 10,
            nProbe: Int = 3, nQueries: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val label = e.schema("label")
    val emb = e.schema("embedding")
    val seeds = spark.read.schema(StructType(Seq(label, emb.copy(name = "svec"))))
      .parquet(s"$path/centroids")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probeW = Window.partitionBy("query_id").orderBy(col("csim").desc, col("label"))
    val probeRows = q.crossJoin(broadcast(seeds))
      .withColumn("csim", round(expr("cosine_sim(qvec, svec)"), 6))
      .withColumn("crk", row_number().over(probeW))
      .filter(col("crk") <= nProbe)
      .select("query_id", "qvec", "label")
    val collected = probeRows.collect()
    val probes = spark.createDataFrame(java.util.Arrays.asList(collected: _*), probeRows.schema)
    val probedCells = collected.map(_.get(2)).distinct.toSeq
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    spark.read.schema(StructType(Seq(e.schema("vec_id"), label, emb, label.copy(name = "cell"))))
      .parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(expr("cosine_sim(embedding, qvec)"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "label", "sim", "rk")
      .orderBy("query_id", "rk")
  }

  /** q48: the full lifecycle as one driver entry — build if absent
    * (the nightly build), then probe (the steady-state read path).
    */
  def buildAndProbe(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(spark, dir)
    if (!fresh(spark, dir, path)) build(spark, dir, path)
    probe(spark, dir, path)
  }

  /** q48b: the stats surface as a driver entry, oracle-checked
    * against the same aggregation on the base table.
    */
  def statsEntry(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(spark, dir)
    if (!fresh(spark, dir, path)) build(spark, dir, path)
    indexStats(spark, path)
  }
}
