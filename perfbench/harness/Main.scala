package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{BuildLedger, GraftSession, SparkEntry}
import graft.operators.{PQ, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** JVM side of the benchmark: executes a call list that `run.py`
  * generated from the workload seed, times every call into a graft
  * module, checks every result, and writes raw records (one JSON
  * object per line) for `run.py` to aggregate. It never chooses a
  * call or a parameter itself.
  *
  * Usage: Main --workload W --plan FILE --corpus DIR --root DIR --out DIR
  *             --trace 0|1 --golden FILE [--write-golden DIR]
  */
object Main {

  final case class Call(cls: String, kind: String, name: String, params: Map[String, String]) {
    def key: String = (Seq(kind, name) ++ params.toSeq.sorted.map { case (k, v) => s"$k=$v" }).mkString(" ")
  }

  /** Which graft module a call enters; the per-layer report groups by it. */
  def module(c: Call): String = c.kind match {
    case "vsearch" | "csearch" | "getcluster" | "randcluster" => "mcp"
    case "build" => c.name
    case _ => entryModule(c.name)
  }

  private val entryModules: Map[String, String] = Map(
    "q02_session_stats" -> "sessions", "q43_chat_stats" -> "messages",
    "q51_chats_overview" -> "analytics", "q22_region_volume" -> "relational",
    "q14_groups" -> "vectors", "q48_ivf_persisted" -> "vectorindex.probe",
    "q27_dedup_minhash" -> "dedup", "q53_dup_clusters" -> "dupgraph",
    "q54_decontam" -> "curation", "q31_quality_score" -> "textanalysis",
    "q85b_threads_rocks" -> "streaming", "q83d_stream_gate" -> "streaming")

  def entryModule(name: String): String = entryModules.getOrElse(name, "other")

  // ---------------------------------------------------------------- io

  def readPlan(path: String): Seq[Call] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      val ps = if (f.length > 3 && f(3).nonEmpty)
        f(3).split(';').map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
      else Map.empty[String, String]
      Call(f(0), f(1), f(2), ps)
    }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => q(k) + ":" + json(v) }.mkString("{", ",", "}")

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case s: Short => s.toString
    case b: Byte => b.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(json).mkString("[", ",", "]")
    case other => q(other.toString)
  }

  // --------------------------------------------------------- checking

  /** Canonical text of one value: exact doubles, sorted map entries. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive digest of a result: sha256 of its sorted row texts, plus the row count. */
  def digestRows(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(canon).mkString("|")).sorted.foreach { s =>
      md.update(s.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString + ":" + rows.length
  }

  def readGolden(path: String): Map[String, String] =
    if (!new File(path).exists()) Map.empty
    else Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap

  def replaceOnce(s: String, from: String, to: String): String = {
    val i = s.indexOf(from)
    require(i >= 0 && s.indexOf(from, i + 1) < 0, s"oracle template must hold exactly one '$from'")
    s.substring(0, i) + to + s.substring(i + from.length)
  }

  def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The q81–q81d oracle SQL with this request's parameters substituted. */
  def oracleFor(c: Call): String = {
    val o = SparkEntry.oracleSql
    val p = c.params
    c.kind match {
      case "vsearch" =>
        val srcFilter = p.get("source").fold("")(s => s" AND vec_id IN (SELECT doc_id FROM documents WHERE source = ${sqlStr(s)})")
        var s = replaceOnce(o("q81_mcp_search"), "WHERE vec_id = 3)", s"WHERE vec_id = ${p("vec")})")
        s = replaceOnce(s, "FROM scored WHERE sim >= 0.25) h", s"FROM scored WHERE sim >= ${p("threshold")}$srcFilter) h")
        replaceOnce(s, "WHERE rk <= 10)", s"WHERE rk <= ${p("topk")})")
      case "csearch" =>
        var s = replaceOnce(o("q81b_mcp_clusters"), "WHERE vec_id = 3)", s"WHERE vec_id = ${p("vec")})")
        s = replaceOnce(s, "FROM scored WHERE sim >= 0.25) h", s"FROM scored WHERE sim >= ${p("threshold")}) h")
        s = replaceOnce(s, "WHERE rk <= 50)", s"WHERE rk <= ${p("topk")})")
        replaceOnce(s, "LIMIT 10", s"LIMIT ${p("clusters")}")
      case "getcluster" =>
        replaceOnce(o("q81c_mcp_get_cluster"),
          "pick AS (SELECT source, group_id FROM grp GROUP BY source, group_id\n         HAVING COUNT(*) >= 3 ORDER BY source, group_id LIMIT 1)",
          s"pick AS (SELECT ${sqlStr(p("source"))} AS source, CAST(${p("group")} AS BIGINT) AS group_id)")
      case "randcluster" =>
        val s = replaceOnce(o("q81d_mcp_random_cluster"), "HAVING COUNT(*) >= 3)", s"HAVING COUNT(*) >= ${p("min")})")
        replaceOnce(s, "2654435761 + 42)", s"2654435761 + ${p("seed")})")
    }
  }

  // ------------------------------------------------------------ calls

  def runSearch(spark: SparkSession, dir: String, c: Call): DataFrame = {
    val p = c.params
    import graft.mcp.McpTools
    c.kind match {
      case "vsearch" => McpTools.vectorSearchById(spark, dir, p("vec").toLong, p("topk").toInt,
        p.get("source"), p("threshold").toDouble)
      case "csearch" => McpTools.clusterSearchById(spark, dir, p("vec").toLong, p("topk").toInt,
        p("clusters").toInt, p("threshold").toDouble)
      case "getcluster" => McpTools.getCluster(spark, dir, p("source"), p("group").toLong)
      case "randcluster" => McpTools.randomLargeCluster(spark, dir, p("min").toInt, p("seed").toLong)
    }
  }

  /** The public index builders and increments, at their default paths. */
  def runBuild(spark: SparkSession, dir: String, name: String): Unit = name match {
    case "vectorindex.build" => VectorIndex.build(spark, dir, VectorIndex.defaultPath(spark, dir))
    case "pq.build" => PQ.buildIndex(spark, dir, PQ.indexPath(spark, dir))
  }

  /** Index built by each builder, probed after every curation round. */
  val probeOf: Map[String, String] = Map(
    "vectorindex.build" -> "q48_ivf_persisted",
    "pq.build" -> "q67c_pq_indexed")

  /** (bytes, files) under a local path given as a plain path or a file: URI. */
  def dirStats(path: String): (Long, Long) = fileStats(new File(new org.apache.hadoop.fs.Path(path).toUri.getPath))

  private def fileStats(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else f.listFiles().map(fileStats).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().foreach { f =>
      val t = new File(to, f.getName)
      if (f.isDirectory) copyDir(f, t) else Files.copy(f.toPath, t.toPath, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (steal, busy) CPU ticks of the whole VM from /proc/stat; busy counts steal but not idle or iowait. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (f.length > 7) f(7) else 0L
      (steal, f(0) + f(1) + f(2) + f(5) + f(6) + steal)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the busy CPU time between two readings that the hypervisor stole. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  /** Wait until the JIT compiler has been idle for a moment, at most `maxMs`. */
  def awaitJitQuiet(maxMs: Long): Unit = Option(ManagementFactory.getCompilationMXBean).foreach { jit =>
    val end = System.currentTimeMillis() + maxMs
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.currentTimeMillis() < end) {
      Thread.sleep(300)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 30
      last = now
    }
  }

  // ------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val root = new File(opt("root")).getAbsoluteFile
    val ticksAtStart = cpuTicks()

    val spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.local.dir", new File(root, "local").getPath)
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    // each run works on its own copies of the corpus; indexes land in its own warehouse
    var copies = 0
    def freshCorpus(): String = {
      copies += 1
      val d = new File(root, s"corpus-$copies")
      copyDir(new File(opt("corpus")), d)
      d.getAbsolutePath
    }
    var dir = freshCorpus()
    val streamDir = dir

    opt.get("enumerate").foreach { f =>
      // the (source, group) clusters search parameters are drawn from
      val g = graft.operators.Vectors.semanticGroups(spark, dir)
        .groupBy("source", "group_id").count().orderBy("source", "group_id").collect()
      Files.writeString(Paths.get(f), "# source\tgroup_id\tmembers\n" +
        g.map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\n").mkString)
      spark.stop()
      return
    }

    val trace = opt("trace") == "1"
    val out = new File(opt("out")); out.mkdirs()
    val golden = readGolden(opt("golden"))
    val writeGolden = opt.get("write-golden").map(new File(_))
    val plan = readPlan(opt("plan"))
    val (warm, timed) = plan.partition(_.cls == "warm")
    val tracer = new Tracer(spark, trace)
    val ops = new PrintWriter(new File(out, "ops.jsonl"), "UTF-8")
    val checks = new PrintWriter(new File(out, "search.jsonl"), "UTF-8")
    val failures = mutable.LinkedHashMap[String, String]()
    def fail(what: String, why: String): Unit = if (!failures.contains(what)) failures(what) = why.take(300)

    /** Error text when `rows` do not match the committed digest of entry `name`, else null. */
    def checkDigest(name: String, rows: Array[Row]): String = {
      val d = digestRows(rows)
      writeGolden match {
        case Some(g) => g.mkdirs(); Files.writeString(new File(g, name).toPath, d); null
        case None => golden.get(name) match {
          case None => s"no golden digest for $name"
          case Some(g) if g != d => s"digest $d != golden $g"
          case _ => null
        }
      }
    }

    /** Parameterized searches: a repeat must equal the first result, which the oracle checks after the run. */
    val searchSeen = mutable.HashMap[String, String]()
    def checkSearch(c: Call, rows: Array[Row], cols: => Seq[String]): String = {
      val d = digestRows(rows)
      searchSeen.get(c.key) match {
        case None =>
          searchSeen(c.key) = d
          checks.println(obj("key" -> c.key, "sql" -> oracleFor(c), "cols" -> cols, "rows" -> rows.toSeq))
          null
        case Some(prev) if prev != d => s"result differs from the first identical request ($d vs $prev)"
        case _ => null
      }
    }

    var opId = 0
    var round = 0

    /** One timed call through the module's public function; its result is collected and checked, untimed. */
    def execute(c: Call, phase: String): Unit = {
      opId += 1
      val id = s"op-$opId"
      spark.sparkContext.setJobGroup(id, c.key, interruptOnCancel = false)
      val req = tracer.open(id, "request", c.key, null)
      val ticks0 = cpuTicks()
      val t0 = System.nanoTime()
      var tc = t0
      var err: String = null
      var df: DataFrame = null
      var rows: Array[Row] = null
      try {
        val call = tracer.open(id, "call", module(c), req)
        c.kind match {
          case "build" => runBuild(spark, dir, c.name)
          case "entry" => df = SparkEntry.queries(c.name)(spark, if (c.cls == "stream") streamDir else dir)
          case _ => df = runSearch(spark, dir, c)
        }
        tracer.close(call)
        tc = System.nanoTime()
        if (df != null) {
          val act = tracer.open(id, "action", "collect", req)
          rows = df.collect()
          tracer.close(act)
        }
      } catch {
        case t: Throwable => err = (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300)
      }
      val t1 = System.nanoTime()
      val steal = stealShare(ticks0, cpuTicks())
      tracer.close(req)
      spark.sparkContext.clearJobGroup()
      if (err == null && rows != null)
        err = try { if (c.kind == "entry") checkDigest(c.name, rows) else checkSearch(c, rows, df.columns.toSeq) }
          catch { case t: Throwable => s"check failed: $t" }
      ops.println(obj("id" -> id, "phase" -> phase, "cls" -> c.cls, "kind" -> c.kind, "name" -> c.name,
        "key" -> c.key, "module" -> module(c), "start_ms" -> tracer.epochMs(t0), "ms" -> (t1 - t0) / 1e6,
        "construct_ms" -> (tc - t0) / 1e6, "steal" -> steal, "round" -> round, "ok" -> (err == null),
        "err" -> Option(err)))
    }

    /** Untimed check of an entry: one more call, its rows digested against the golden file. */
    def verifyEntry(name: String): Option[String] =
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        // making the golden file: keep the result for the DuckDB compare as well
        writeGolden.foreach(g => df.coalesce(1).write.mode("overwrite").parquet(new File(g, s"parquet/$name").getPath))
        Option(checkDigest(name, df.collect())).map(e => s"$name: $e")
      } catch { case t: Throwable => Some(s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}") }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val curation = workload == "curation"

    // ---------------------------------------------------------- set-up
    warm.foreach(c => execute(c, "warm"))

    // set-up ends when the warm pass's background JIT compilation has drained
    System.gc()
    awaitJitQuiet(10000)
    val setupMs = System.currentTimeMillis() - jvmStart
    val setupSteal = stealShare(ticksAtStart, cpuTicks())

    // ------------------------------------------------------ timed phase
    // The plan holds a fixed number of whole rounds (run.py sizes it from --seconds), so every run
    // measures the same call mix. A traced run's plan holds them twice: the first half untraced,
    // the second traced; run.py reports the difference as the tracing overhead.
    val rounds = mutable.ArrayBuffer[Map[String, Any]]()
    val planRounds = timed.count(_.cls == "round")
    var roundBuilds = mutable.ArrayBuffer[String]()
    var roundBuildNs = 0L
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def processCpuMs: Double = os.getProcessCpuTime / 1e6
    var roundCpu = processCpuMs
    def endRound(): Unit = {
      val cpu = processCpuMs - roundCpu
      var idx = (0L, 0L)
      if (curation) {
        // on-disk size of what the round built, then an untimed digest-checked probe per index
        idx = roundBuilds.toSeq.map {
          case "vectorindex.build" => VectorIndex.defaultPath(spark, dir)
          case _ => PQ.indexPath(spark, dir)
        }.distinct.map(dirStats).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
        // a failed probe fails the round's builds (run.py reads the "round-N" key)
        val before = BuildLedger.snapshot().toMap
        val errors = roundBuilds.flatMap(probeOf.get).distinct.flatMap(verifyEntry)
        val rebuilt = BuildLedger.snapshot().filter { case (k, v) => !before.get(k).contains(v) }.map(_._1)
        if (rebuilt.nonEmpty) fail(s"round-$round", s"probe rebuilt an index: ${rebuilt.mkString(",")}")
        errors.headOption.foreach(fail(s"round-$round", _))
      }
      rounds += Map("round" -> round, "cpu_ms" -> cpu, "build_ms" -> roundBuildNs / 1e6,
        "index_bytes" -> idx._1, "index_files" -> idx._2)
      roundBuilds = mutable.ArrayBuffer[String]()
      roundBuildNs = 0L
    }
    timed.foreach { c =>
      if (c.cls == "round") {
        if (round > 0) endRound()
        round += 1
        tracer.enabled = trace && round > planRounds / 2
        if (curation) {
          // a new nightly snapshot: a byte-identical copy at a new path misses every registry
          val old = dir
          dir = freshCorpus()
          if (old != streamDir) deleteTree(new File(old))
        }
        roundCpu = processCpuMs
      } else {
        val b0 = System.nanoTime()
        execute(c, if (tracer.enabled) "traced" else "timed")
        if (c.kind == "build") { roundBuildNs += System.nanoTime() - b0; roundBuilds += c.name }
      }
    }
    if (round > 0) endRound()
    tracer.enabled = false

    // settle the asynchronous listener queues first: their backlog is garbage-to-be, not retained state
    Thread.sleep(1000)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    ops.close(); checks.close()
    writeGolden.foreach { g =>
      plan.filter(_.kind == "entry").map(_.name).distinct.flatMap(verifyEntry).foreach(fail("golden", _))
      val names = (plan.filter(_.kind == "entry").map(_.name) ++ (if (curation) probeOf.values else Nil))
        .distinct.filter(SparkEntry.oracleSql.contains)
      Files.writeString(new File(g, s"parquet/oracle_sql.$workload.json").toPath,
        obj(names.map(n => n -> SparkEntry.oracleSql(n)): _*))
    }

    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jitMs = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val summary = obj(
      "workload" -> workload, "setup_ms" -> setupMs.toDouble, "setup_steal" -> setupSteal,
      "setup_session_ms" -> (sessionReadyMs - jvmStart), "retained_heap_mb" -> retainedMb,
      "rounds" -> rounds.map(r => r: scala.collection.Map[String, Any]).toSeq,
      "failures" -> failures, "jvm_gc_ms" -> gcMs, "jvm_jit_ms" -> jitMs,
      "codegen_compiles" -> compiles.getCount,
      "codegen_compile_ms" -> compiles.getSnapshot.getMean * compiles.getCount,
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "storage_mb" -> spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum / 1048576.0,
      "interactive_index_bytes" -> (if (curation) 0L else dirStats(VectorIndex.defaultPath(spark, dir))._1))
    tracer.finish(out)
    Files.writeString(new File(out, "summary.json").toPath, summary + "\n")
    spark.stop()
  }
}
