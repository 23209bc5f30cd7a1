package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins Tables.events' ts-normalization contract (the r10 testdata
  * drift: `events.ts` physical type changed generations and 22
  * queries died at analysis): whatever the parquet stores, operators
  * see ts as a RAW ns-since-epoch LONG — and an unknown dtype fails
  * LOUDLY at load, never as per-query analysis errors.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def writeAndLoad(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("tables_events").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
  }

  test("timestamp[us] ts normalizes to the exact ns long") {
    // 2026-08-13T18:18:00.123456 UTC as a µs timestamp
    val micros = 1786731480123456L
    val loaded = writeAndLoad(
      Seq((1L, micros)).toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts")))
    assert(loaded.schema("ts").dataType == org.apache.spark.sql.types.LongType,
      "operators must see ts as LONG regardless of the physical type")
    assert(loaded.select("ts").head.getLong(0) == micros * 1000L,
      "µs → ns widening must be exact")
  }

  test("long ts passes through untouched; ts-less frames load as-is") {
    val ns = 1786731480123456789L
    val loaded = writeAndLoad(Seq((1L, ns)).toDF("event_id", "ts"))
    assert(loaded.select("ts").head.getLong(0) == ns)
    val noTs = writeAndLoad(Seq((1L, "x")).toDF("event_id", "props"))
    assert(noTs.columns.toSeq == Seq("event_id", "props"))
  }

  test("an unsupported ts dtype fails loudly at load, not per-query") {
    val e = intercept[IllegalStateException] {
      writeAndLoad(Seq((1L, "2026-08-13")).toDF("event_id", "ts"))
    }
    assert(e.getMessage.contains("unsupported type"),
      s"the guard must name the drift: ${e.getMessage}")
  }

  test("a single-file table opens with its footer schema: Spark's inferred schema, no job") {
    val d = java.nio.file.Files.createTempDirectory("tables_footer")
    val names = Seq("documents", "embeddings", "lineitem", "orders", "region")
    names.foreach(n => java.nio.file.Files.copy(java.nio.file.Paths.get(dir, s"$n.parquet"),
      d.resolve(s"$n.parquet")))
    names.foreach { n =>
      val path = s"$d/$n.parquet"
      val (df, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext)(Tables.byName(spark, d.toString, n))
      assert(jobs == 0, s"$n: opening a fresh path ran $jobs jobs")
      assert(df.schema == spark.read.parquet(path).schema, s"$n: footer schema != inferred schema")
    }
  }

  test("a TIMESTAMP(NANOS) events file still loads as the ns long") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val d = java.nio.file.Files.createTempDirectory("tables_nanos").toString
    val ns = 1786731480123456789L
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L).append("ts", ns))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      // the footer read fails on the NANOS type; events sets the conf and retries
      assert(Tables.events(spark, d).select("ts").head.getLong(0) == ns)
      assert(spark.conf.get(key) == "true")
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `rel:len:mtime` per file under `root` as a recursive Hadoop
    * listing reports it (checksum sidecars hidden), sorted.
    */
  private def listing(root: java.io.File): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val base = root.toPath
    java.nio.file.Files.walk(base).iterator.asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") && n.endsWith(".crc") }
      .map(p => s"${base.relativize(p)}:${p.toFile.length}:${p.toFile.lastModified}")
      .toSeq.sorted
  }

  test("sourceToken format is pinned: v<override version>|rel:len:mtime, sorted, comma-joined") {
    val d = java.nio.file.Files.createTempDirectory("tables_token").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(s"$d/t.parquet")
    val files = listing(new java.io.File(s"$d/t.parquet"))
    assert(files.exists(_.startsWith("p=a/")), "the listing must recurse into partition dirs")
    assert(Tables.sourceToken(spark, d, "t") == "v0|" + files.mkString(","))
    val single = new java.io.File(s"$d/s.parquet")
    java.nio.file.Files.copy(java.nio.file.Path.of(s"$dir/region.parquet"), single.toPath)
    assert(Tables.sourceToken(spark, d, "s") ==
      s"v0|s.parquet:${single.length}:${single.lastModified}")
    assert(Tables.sourceToken(spark, d, "absent") == "v0|")
    // override versions come from one process-wide sequence: every
    // registration, in any session, gets a version no other has
    def version(s: org.apache.spark.sql.SparkSession): Long = {
      val tok = Tables.sourceToken(s, d, "t")
      assert(tok.endsWith("|" + files.mkString(",")), tok)
      tok.stripPrefix("v").takeWhile(_ != '|').toLong
    }
    Tables.registerOverride(spark, d, "t", spark.read.parquet(s"$d/t.parquet"))
    val v1 = version(spark)
    assert(v1 >= 1)
    val other = spark.newSession()
    Tables.registerOverride(other, d, "t", other.read.parquet(s"$d/t.parquet"))
    assert(version(other) > v1, "a second session's first override must not reuse the first's version")
    assert(version(spark) == v1, "a registration in another session leaves this session's token alone")
    Tables.registerOverride(spark, d, "t", spark.read.parquet(s"$d/t.parquet"))
    assert(version(spark) > version(other))
  }
}
