package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (builder's
    // targeted re-verify; the driver's 2-arg call dumps everything)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query status manifest: EVERY SparkEntry.queries key appears,
    // as "ok" or "err: …". The r10 postmortem rule — a query that
    // errors must surface as an err row in the correctness report, not
    // silently vanish from it (22 queries did exactly that).
    val status = scala.collection.mutable.LinkedHashMap[String, String]()
    // Pre-flight (ADVICE r15): when a graduated-replay gate query is
    // in the requested set, verify the corpus invariants its oracle
    // stands on, so a datagen drift fails with a TARGETED message in
    // the log instead of only an opaque hash/row mismatch. Loud but
    // non-fatal — the per-query gates below still render the verdict.
    // Split per cost (ADVICE r16): the cheap ASCII scan runs for the
    // q28/q33/q34/q49 replays; the expensive banding-recall check
    // (all-pairs PPJoin + a full MinHash pass) only when q27 is
    // requested. The structured report lands in gate_invariants.json
    // so the round's correctness artifact records that the invariants
    // held for THIS run (VERDICT r16 item 4; selfcheck.py embeds it).
    val requested = SparkEntry.queries.keys.filter(k => only.forall(_.contains(k))).toSet
    val wantAscii = requested.exists(GateInvariants.asciiGateQueries)
    val wantBanding = requested.exists(GateInvariants.bandingGateQueries)
    val wantVector = requested.exists(GateInvariants.vectorGateQueries)
    val wantHashed = requested.exists(GateInvariants.hashedGateQueries)
    // Stale-artifact guard (ADVICE r17): a gate_invariants.json left
    // in outDir by a PREVIOUS run must never be embedded into THIS
    // run's correctness record — delete it up front, so a run that
    // skips the pre-flight leaves no file, and a pre-flight that
    // throws leaves an explicit error marker (violations:1) instead
    // of silently reusing an old clean (or old dirty) report.
    Files.deleteIfExists(Paths.get(s"$outDir/gate_invariants.json"))
    if (wantAscii || wantBanding || wantVector || wantHashed)
      try {
        val rep = GateInvariants.run(spark, sfDir, ascii = wantAscii,
          banding = wantBanding, vector = wantVector, hashed = wantHashed)
        rep.messages.foreach(m => System.err.println(s"[verify] $m"))
        Files.writeString(Paths.get(s"$outDir/gate_invariants.json"), rep.json)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] gate-invariant pre-flight failed: ${e.getMessage}")
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replace("\\", "\\\\").replace("\"", "\\\"")
          .replaceAll("[\\n\\r\\t]", " ")
        Files.writeString(Paths.get(s"$outDir/gate_invariants.json"),
          s"""{"error":"pre-flight threw: $msg","violations":1}""")
      }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        status(name) = "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // nextOption: an exception with an empty-string (non-null) message
        // must degrade to the class name, not kill the whole verify run
        // from inside the handler that exists to keep it alive.
        status(name) = s"err: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().filter(_.nonEmpty).getOrElse(e.getClass.getName)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val manifest = status
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    spark.stop()
  }
}
