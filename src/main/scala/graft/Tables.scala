package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables.
  *
  * One parquet file per table under the sf dir (see TESTDATA.md).
  * Kept as plain parquet scans so Catalyst can push filters/pruning
  * into the scan; at cluster scale these would be partitioned
  * directories, which changes nothing in the call sites.
  */
object Tables {
  /** Resolved relations in [[Shared]] (family `tables`), keyed by
    * (session, dir, table) and validated by [[sourceToken]]: a fresh
    * spark.read.parquet re-lists the directory and re-reads footers,
    * a per-query floor a real deployment avoids by holding table
    * handles in a catalog. The token check matters beyond this cache:
    * the derived families that check sourceToken (ReplyChains' thread
    * frames) would otherwise "rebuild" through an old InMemoryFileIndex
    * and still resolve against deleted part files. A source
    * regeneration also invalidates a registered override (it was
    * built from the old bytes).
    *
    * A table stored as one file opens with its footer's schema (see
    * [[footerSchema]]), so a path not read before runs no
    * schema-inference job; a directory keeps Spark's inference.
    */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    Shared.get[DataFrame](spark, "tables", (spark, dir, name), sourceToken(spark, dir, name)) {
      val path = s"$dir/$name.parquet"
      footerSchema(spark, path).fold(spark.read)(spark.read.schema(_)).parquet(path)
    }

  /** The schema Spark infers for the single parquet file at `path`,
    * read on the driver: the file's footer, converted by Spark's own
    * footer reader and converter under the session conf (a Spark-written
    * schema in the footer wins, as in inference). Inference reads the
    * same footer inside a Spark job. None when `path` is absent or a
    * directory. A type the conf rejects (TIMESTAMP(NANOS) without
    * `nanosAsLong`) throws the same error inference does.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    Some(p).filter(fs.exists).map(fs.getFileStatus).filterNot(_.isDirectory).map { st =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.NO_FILTER)
      ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Substitute a pre-materialized twin (e.g. a bucketed copy) for a
    * table — the bench's shared-table mechanism, the single-JVM
    * analog of pointing the catalog at a better physical layout of
    * the SAME data. Every operator picks it up transparently.
    */
  def registerOverride(spark: SparkSession, dir: String, name: String, df: DataFrame): Unit = {
    overrideVersions.keySet.removeIf(k => k._1.sparkContext.isStopped)
    // set the version FIRST so the installed entry's token matches
    // what read() recomputes (the token embeds the version)
    overrideVersions.put((spark, dir, name), overrideCounter.incrementAndGet())
    Shared.put(spark, "tables", (spark, dir, name), df, sourceToken(spark, dir, name))
  }

  private val overrideVersions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), java.lang.Long]()

  /** Override versions come from ONE process-wide sequence, so no two
    * registrations share a version: two sessions that override the same
    * table of one dir with different frames get different tokens, and
    * an index built under one session's override reads stale in the
    * other.
    */
  private val overrideCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Freshness token for a table as this session currently sees it:
    * `v<override version>|<file listing>`, version 0 when the session
    * has no override. It changes whenever the table is re-registered
    * (registerOverride) OR its backing files are regenerated — the two
    * ways derived values go silently stale (ADVICE r07). Snapshot EQUALITY decides
    * freshness, no clock agreement needed. Also the source half of
    * every index identity ([[IndexStore]]).
    */
  def sourceToken(spark: SparkSession, dir: String, name: String): String = {
    val v = Option(overrideVersions.get((spark, dir, name))).map(_.longValue).getOrElse(0L)
    s"v$v|${fileListing(spark, s"$dir/$name.parquet")}"
  }

  /** `(path, length, mtime)` of every file under `path`, sorted and
    * comma-joined; "" when absent. The listing is RECURSIVE and keyed
    * by path relative to the table root: a rewrite deep inside nested
    * partition dirs must change it even when every top-level child
    * looks unchanged (r04 ADVICE). A single file lists as its own
    * name.
    */
  private def fileListing(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) ""
    else if (!fs.getFileStatus(p).isDirectory) {
      val s = fs.getFileStatus(p)
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
    } else {
      val root = p.toUri.getPath.stripSuffix("/") + "/"
      val it = fs.listFiles(p, true)
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val s = it.next()
        parts += s"${s.getPath.toUri.getPath.stripPrefix(root)}:${s.getLen}:${s.getModificationTime}"
      }
      parts.sorted.mkString(",")
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "lineitem")
  /** `events.ts` contract: every operator sees ts as a RAW
    * ns-since-epoch LONG (operators derive epoch-ms / timestamp views
    * from it — exact, and cheaper than timestamps in the hot path).
    * The physical parquet type has drifted across testdata
    * generations — TIMESTAMP(NANOS) originally (which Spark's
    * vectorized reader only accepts as a long via the nanosAsLong
    * legacy conf), timestamp[us] since 2026-08-13 — so normalize at
    * the loader, the ONE place the physical type is visible:
    *   - LongType (NANOS via legacy conf): already the contract.
    *   - TimestampType / TimestampNTZType (µs precision):
    *     unix_micros * 1000. Session TZ is UTC (SURVEY §3), so the
    *     NTZ→TZ cast is exact; µs→ns widening is exact by definition.
    * Any other dtype fails LOUDLY here instead of as 22 per-query
    * DATATYPE_MISMATCH analysis errors (the r10 failure mode).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // TIMESTAMP(NANOS) generations need the legacy nanosAsLong conf —
    // and not just for schema inference: the scan's hadoopConf is
    // rebuilt from session conf at execution, so once such a file is
    // seen the conf must STAY set for this session. For every other
    // generation (timestamp[us], the current one) we must not touch
    // session conf at all — unconditionally setting it here leaked a
    // session-wide behavior change into unrelated parquet reads
    // (ADVICE r11). So: try the plain read first; only on the
    // distinctive "Illegal Parquet type … NANOS" failure set the conf
    // and retry (a throwing compute installs nothing in Shared, so
    // the retry re-runs the footer read under the conf).
    val df =
      try read(spark, dir, "events")
      catch {
        case e: Throwable if Option(e.getMessage).exists(_.contains("NANOS")) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          read(spark, dir, "events")
      }
    import org.apache.spark.sql.functions.{col, lit, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case None | Some(LongType) => df // ts-less spec frames / already ns
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(other) =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other; expected LONG (ns) or TIMESTAMP[_NTZ] — " +
            "testdata schema drifted again; extend Tables.events' normalization")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Name-based lookup (view registration, tooling). `events` must go
    * through its dedicated loader for the nanos conf.
    */
  def byName(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => events(spark, dir)
    case other    => read(spark, dir, other)
  }
}
