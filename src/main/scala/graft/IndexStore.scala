package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The on-disk index lifecycle, stated once for every persisted index
  * family — the build/read split of the reference's vector store
  * surface (vector_store.py `create_hnsw_index` /
  * `check_index_exists`). A family (IVF, IVF-dedup and IVF-mining in
  * `VectorIndex`; flat PQ, IVF-PQ and their incremental variants in
  * `PQ`; the k-NN graph; `Dedup.GramIndex`; `Curation.FunnelIndex`)
  * declares an [[Index]]: its BuildLedger key, its source table, its
  * params string, its component names and its build body. Everything
  * below is owned here.
  *
  * Layout. `<path>/<component>/` per component, each a Spark write
  * that is complete once it holds `_SUCCESS`, and `<path>/watermark`,
  * a small text file.
  *
  * Identity. `Tables.sourceToken(dir, table) + "\nparams|" + params`:
  * the table's override version and recursive (path, length, mtime)
  * listing, plus every build parameter that changes the index's
  * content or layout (an index built with other parameters must not
  * serve a caller's). Snapshot equality, not an mtime ordering, so a
  * source rewritten within one timestamp tick still changes it and no
  * clock agreement between index and source store is needed; a
  * `Tables.registerOverride` changes it like a rewrite does.
  *
  * Fact lines. A build may record what it resolved (`lists|N`, the
  * IVF-PQ list count; `rblk|N`, `lists|N` and `nodes|N`, the graph's
  * edge-bucket, centroid and node counts;
  * `schema.<component>|<json>`, a component's read schema, returned by
  * [[write]]), and a compaction adds `compacted|true`, each as a
  * `name|value` line after the identity. Facts are not identity;
  * [[fact]] is their one reader. [[read]] opens a component with its
  * recorded schema, so the read runs no parquet schema-inference job;
  * a component with no recorded schema reads plainly. Families that
  * record schemas carry `schema=1` in their params, so an index of
  * theirs built before schemas were recorded reads stale and is
  * rebuilt once instead of paying the inference job on every read.
  *
  * Freshness. An index is fresh when every component, after
  * restore-if-parked, holds `_SUCCESS`, and the watermark equals the
  * identity or the identity followed by "\n" and fact lines (the "\n"
  * fence: a params value that prefixes another must not match).
  *
  * Build order ([[Index.build]]):
  *   1. the identity is taken BEFORE any read, so a source rewritten
  *      mid-build leaves a non-matching watermark (stale, never a
  *      fresh lie);
  *   2. the old watermark is deleted BEFORE the first component
  *      write, so a build that dies after rewriting some components
  *      reads stale instead of pairing new components with old ones
  *      under the old identity;
  *   3. the watermark is written LAST, write-then-rename, so a reader
  *      never sees it partial.
  * [[Index.ensure]] builds only when stale. Both run under
  * `Shared.locked(spark, "index", path)`: concurrent callers on one
  * stale path wait for one build and then read it.
  *
  * Swap and restore ([[swapDir]]). A component rewritten in place
  * (compaction folds, the session store) is written next to the live
  * dir as `<name>__compact` (the write may read the live dir — parquet
  * cannot overwrite what a job is scanning), then swapped in by two
  * renames: live parked as `<name>__old`, staging renamed in, parked
  * copy dropped. A crash mid-write leaves the live dir untouched; a
  * crash between the renames leaves it parked, and [[restoreDir]]
  * (run by every freshness check and swap) renames it back — so a
  * crashed swap reads as "the fold never happened" instead of a stale
  * index whose rebuild would drop folded extra-corpus rows. A folded
  * component carries a `_folded` marker written INTO the staging dir
  * ([[markFolded]]), so the folded data and the fact "this component
  * already contains its delta" publish in one rename: readers skip
  * the delta while the marker is there, and a re-run never re-folds.
  *
  * Every check goes through the Hadoop FileSystem of the index path,
  * so the lifecycle works on any warehouse filesystem.
  */
object IndexStore {

  /** One index family at one parameter point. `write` is the build
    * body: it writes the components under the given path from the
    * given corpus dir and returns the fact lines to record.
    */
  final case class Index(family: String, table: String, params: String,
                         components: Seq[String])(
      write: (SparkSession, String, String) => Seq[String]) {

    def identity(spark: SparkSession, dir: String): String =
      Tables.sourceToken(spark, dir, table) + "\nparams|" + params

    def fresh(spark: SparkSession, dir: String, path: String): Boolean =
      components.forall(restoreDir(spark, path, _)) &&
        readWatermark(spark, path).exists { w =>
          val id = identity(spark, dir)
          w == id || w.startsWith(id + "\n")
        }

    /** Build unconditionally, charged to BuildLedger as `family:path`. */
    def build(spark: SparkSession, dir: String, path: String): Unit =
      Shared.locked(spark, "index", path) {
        BuildLedger.timed(s"$family:$path") {
          val id = identity(spark, dir)
          fsFor(spark, path).delete(watermarkPath(path), false)
          writeWatermark(spark, path, id, write(spark, dir, path))
        }
      }

    /** Build if stale. */
    def ensure(spark: SparkSession, dir: String, path: String): Unit =
      Shared.locked(spark, "index", path) {
        if (!fresh(spark, dir, path)) build(spark, dir, path)
      }
  }

  def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The Spark write into `dir` completed. */
  def complete(spark: SparkSession, dir: String): Boolean =
    fsFor(spark, dir).exists(new Path(s"$dir/_SUCCESS"))

  private def watermarkPath(path: String) = new Path(s"$path/watermark")

  def readWatermark(spark: SparkSession, path: String): Option[String] =
    readSmall(spark, watermarkPath(path).toString)

  /** Record `identity` plus `facts`, one per line. */
  def writeWatermark(spark: SparkSession, path: String, identity: String,
                     facts: Seq[String]): Unit = {
    val fs = fsFor(spark, path)
    val tmp = new Path(s"$path/watermark.tmp")
    writeSmall(spark, tmp.toString, (identity +: facts).mkString("\n"))
    // rename is atomic on HDFS/local; on S3 it is copy+delete — never
    // partial, just not atomic against a concurrent writer
    fs.delete(watermarkPath(path), false)
    if (!fs.rename(tmp, watermarkPath(path)))
      throw new java.io.IOException(s"rename $tmp -> ${watermarkPath(path)} failed")
  }

  /** The value of the watermark's `name|value` fact line, if any. */
  def fact(spark: SparkSession, path: String, name: String): Option[String] =
    readWatermark(spark, path).flatMap(_.linesIterator.collectFirst {
      case l if l.startsWith(name + "|") => l.stripPrefix(name + "|")
    })

  /** The fact lines the watermark at `path` records after `identity`. */
  def facts(spark: SparkSession, path: String, identity: String): Seq[String] =
    readWatermark(spark, path).filter(_.startsWith(identity + "\n")).toSeq
      .flatMap(_.stripPrefix(identity + "\n").linesIterator)

  /** Write `df` as component `name` of the index at `path`
    * (overwrite, partitioned by `partitionBy`) and return its schema
    * fact: the schema a read of the component sees, data columns then
    * partition columns.
    */
  def write(df: DataFrame, path: String, name: String, partitionBy: String*): String = {
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(s"$path/$name")
    val fields = df.schema.filterNot(f => partitionBy.contains(f.name)) ++ partitionBy.map(df.schema(_))
    s"schema.$name|" + StructType(fields).json
  }

  /** Component `name` of the index at `path`, read with the schema
    * recorded for component `like` (a delta stored in its base's
    * layout reads with the base's schema), or plainly when none is.
    */
  def read(spark: SparkSession, path: String, name: String, like: Option[String] = None): DataFrame = {
    val schema = fact(spark, path, s"schema.${like.getOrElse(name)}")
    schema.fold(spark.read)(json => spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]))
      .parquet(s"$path/$name")
  }

  def readSmall(spark: SparkSession, file: String): Option[String] = {
    val fs = fsFor(spark, file)
    val p = new Path(file)
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try { in.readFully(buf); Some(new String(buf, "UTF-8")) }
      finally in.close()
    }
  }

  def writeSmall(spark: SparkSession, file: String, content: String): Unit = {
    val out = fsFor(spark, file).create(new Path(file), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Rewrite component `name` of the index at `path` in place through
    * the two-rename swap; `write` materializes the replacement into
    * the staging path it is given.
    */
  def swapDir(spark: SparkSession, path: String, name: String)(write: String => Unit): Unit = {
    val fs = fsFor(spark, path)
    restoreDir(spark, path, name) // heal a previously crashed swap first
    val tmp = s"$path/${name}__compact"
    val dst = new Path(s"$path/$name")
    val old = new Path(s"$path/${name}__old")
    fs.delete(new Path(tmp), true)
    fs.delete(old, true)
    write(tmp)
    if (fs.exists(dst))
      require(fs.rename(dst, old), s"parking rename $dst -> $old failed")
    require(fs.rename(new Path(tmp), dst), s"swap rename $tmp -> $dst failed")
    fs.delete(old, true)
  }

  /** Restore-if-parked: when component `name` is incomplete but a
    * complete parked copy exists, rename it back. True when the
    * component is complete afterwards. A live complete dir is never
    * replaced by a parked one.
    */
  def restoreDir(spark: SparkSession, path: String, name: String): Boolean =
    complete(spark, s"$path/$name") || complete(spark, s"$path/${name}__old") && {
      val fs = fsFor(spark, path)
      val dst = new Path(s"$path/$name")
      val old = new Path(s"$path/${name}__old")
      fs.delete(dst, true)
      require(fs.rename(old, dst), s"restore rename $old -> $dst failed")
      true
    }

  /** The folded-state marker, written into a swap's staging dir. */
  def markFolded(spark: SparkSession, dir: String): Unit = writeSmall(spark, s"$dir/_folded", "")

  def folded(spark: SparkSession, dir: String): Boolean =
    fsFor(spark, dir).exists(new Path(s"$dir/_folded"))
}
