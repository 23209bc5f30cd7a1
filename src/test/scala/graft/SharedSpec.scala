package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** Pins the rules `Shared` owns for every family: one compute per key
  * under concurrency, the live-stream restart that bounds its memory
  * sink, release of superseded values, one build per stale index path,
  * and the guards that keep new process-global registries, second leaf
  * spellings, session builds outside `GraftSession` and index lifecycle
  * spellings outside `IndexStore` out of the codebase.
  */
class SharedSpec extends AnyFunSuite {
  import TestSpark._
  import streaming.StreamHarness

  /** A private copy of the named tables, so the test's keys are fresh. */
  private def corpusCopy(tables: String*): String = {
    val d = Files.createTempDirectory("graft_shared_")
    tables.foreach(t => Files.copy(Path.of(s"$dir/$t.parquet"), d.resolve(s"$t.parquet")))
    d.toAbsolutePath.toString
  }

  /** Names of the streaming queries started while `body` runs. */
  private def queriesStarted[A](prefix: String)(body: => A): (A, Seq[String]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name != null && e.name.startsWith(prefix)) started.add(e.name)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      val a = body
      import scala.jdk.CollectionConverters._
      (a, started.asScala.toSeq)
    } finally spark.streams.removeListener(l)
  }

  private def inParallel[A](n: Int)(f: => A): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val fs = (1 to n).map(_ => pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = { go.await(); f }
      }))
      go.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("8 threads on one stale index path: one build, and every thread reads the same rows") {
    val d = corpusCopy("embeddings")
    val path = operators.VectorIndex.defaultPath(spark, d)
    val got = inParallel(8)(rows(operators.VectorIndex.buildAndProbe(spark, d)))
    assert(BuildLedger.builds(s"ivf:$path") == 1, "concurrent callers must wait for one build")
    assert(got.head.nonEmpty && got.distinct.size == 1, "every thread reads the one built index")
  }

  test("8 threads on one live stream: one query per LiveRuns invocations, every thread gets the protocol's rows") {
    val d = corpusCopy("events")
    val want = rows(StreamHarness.streamThreads(spark, d))
    val threads = 8
    val reps = 20
    val (got, started) = queriesStarted("q85_stream_threads_") {
      (1 to reps).flatMap(_ => inParallel(threads)(rows(StreamHarness.streamThreads(spark, d, reuse = true))))
    }
    assert(got.forall(_ == want), "every concurrent invocation must return the start/stop protocol's rows")
    val runs = threads * reps
    assert(started.size == (runs + StreamHarness.LiveRuns - 1) / StreamHarness.LiveRuns,
      s"$runs invocations must start one query per ${StreamHarness.LiveRuns} runs, started ${started.size}")
  }

  test("8 threads on one new corpus compute semanticGroups once") {
    val d = corpusCopy("documents", "embeddings")
    val frames = inParallel(8)(operators.Vectors.semanticGroups(spark, d, threshold = 0.5))
    assert(BuildLedger.snapshot().toMap.contains("sharedLeaf:semantic_groups:t=0.5"),
      "the groups must be built through the leaf family")
    // a second compute would have installed a second leaf, which
    // only the threads that computed it (or came later) could return
    assert(frames.forall(_ eq frames.head), "one compute: every caller gets the one leaf")
  }

  test("LiveRuns+1 invocations: identical rows, and the sink never holds more than LiveRuns runs") {
    val d = corpusCopy("events")
    val want = rows(StreamHarness.streamThreads(spark, d))
    val (got, started) = queriesStarted("q85_stream_threads_") {
      (0 to StreamHarness.LiveRuns).map(_ => rows(StreamHarness.streamThreads(spark, d, reuse = true)))
    }
    assert(got.forall(_ == want), "every invocation must return run 0's rows")
    val sinkRows = started.filter(spark.catalog.tableExists).map(spark.table(_).count())
    assert(sinkRows.nonEmpty && sinkRows.sum <= StreamHarness.LiveRuns.toLong * want.size,
      s"memory sinks hold ${sinkRows.sum} rows; at most ${StreamHarness.LiveRuns} runs of ${want.size}")
    val active = spark.streams.active.map(_.name).toSet
    assert(started.count(active) == 1, "the restarted query must stop its predecessor")
  }

  test("a token change releases the superseded value: the old leaf is unpersisted, the old export deleted") {
    val base = Tables.embeddings(spark, dir).select("vec_id").filter(col("vec_id") < 20)
    def leaf(tok: String) = Shared.leafFrame(spark, "spec_shared_release", Seq(base), tok)(base)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val p0 = persisted
    leaf("t1")
    val oldIds = persisted -- p0
    assert(oldIds.size == 1, "one persisted leaf RDD")
    leaf("t2")
    assert((oldIds & persisted).isEmpty, "the superseded leaf must be unpersisted")

    val d = corpusCopy("events")
    def exportPath = Shared.peek[String](spark, "source.export", (spark, d, "json-owner")).get
    sources.SourceHarness.jsonRoundTrip(spark, d).collect()
    val f1 = exportPath
    assert(new java.io.File(f1).exists())
    Tables.registerOverride(spark, d, "events", spark.read.parquet(s"$d/events.parquet"))
    sources.SourceHarness.jsonRoundTrip(spark, d).collect()
    val f2 = exportPath
    assert(f2 != f1 && new java.io.File(f2).exists())
    assert(!new java.io.File(f1).exists(), "the superseded export must be deleted")
  }

  /** Match counts of `pattern` per src/main/scala/graft source outside
    * `tools/` (or including it, `withTools`), keyed by path relative to
    * that root.
    */
  private def mainMatches(pattern: scala.util.matching.Regex,
                          withTools: Boolean = false): Seq[(String, Int)] = {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    import scala.jdk.CollectionConverters._
    Files.walk(root.toPath).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.toPath.relativize(p).toString -> pattern.findAllIn(Files.readString(p)).size)
      .filter { case (rel, _) => withTools || !rel.startsWith("tools/") }
      .toSeq
  }

  test("no hand-rolled registry: ConcurrentHashMaps in src/main live in Shared or the three kept maps") {
    val kept = Map("Shared.scala" -> Int.MaxValue, "Tables.scala" -> 1, "BuildLedger.scala" -> 1,
      "functions/HashExpressions.scala" -> 1)
    val pattern = "new\\s+(java\\.util\\.concurrent\\.)?ConcurrentHashMap".r
    val offenders = mainMatches(pattern).filter { case (rel, n) => n > kept.getOrElse(rel, 0) }
    assert(offenders.isEmpty, s"registries outside graft.Shared: $offenders")
  }

  test("one leaf spelling: no Dataset-to-Row-RDD round-trip in src/main outside Shared.leaf and Ordinals") {
    // a Dataset's Row RDD transformed, or fed straight back to createDataFrame
    val pattern = ("""\.rdd\s*\.\s*(persist|map|zipWithIndex|mapPartitions)\b""" +
      """|createDataFrame\(\s*[\w.]+\.rdd\b""").r
    val offenders = mainMatches(pattern)
      .filter { case (rel, n) => rel != "plans/Ordinals.scala" && n > 0 }
    assert(offenders.isEmpty, s"frame-to-leaf cuts outside graft.Shared.leaf: $offenders")
  }

  test("one index lifecycle: component markers, parked dirs and watermarks are spelled only in IndexStore") {
    val offenders = mainMatches("_SUCCESS|__old|/watermark".r, withTools = true)
      .filter { case (rel, n) => n > 0 && rel != "IndexStore.scala" }
    assert(offenders.isEmpty, s"index lifecycle spelled outside graft.IndexStore: $offenders")
  }

  test("one session mechanism: sessions are built, and functions registered, only in GraftSession") {
    def outsideSession(pattern: String) = mainMatches(pattern.r, withTools = true)
      .filter { case (rel, n) => n > 0 && rel != "GraftSession.scala" }
    val builds = outsideSession("""SparkSession\s*\.\s*builder\s*\(""")
    assert(builds.isEmpty, s"sessions built outside GraftSession.builder: $builds")
    val registers = outsideSession("""GraftFunctions\s*\.\s*register\s*\(""")
    assert(registers.isEmpty, s"GraftFunctions.register calls outside GraftSession: $registers")
  }
}
