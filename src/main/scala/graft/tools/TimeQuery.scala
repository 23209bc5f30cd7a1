package graft.tools

import graft.SparkEntry

/** Dev tool: run ONE SparkEntry query in an otherwise-idle session —
  * the isolation harness for bench-drift triage (SURVEY §4: interleaved
  * per-query numbers swing ±0.5-1s; an isolated A/B is the only honest
  * way to pin a regression to a plan change vs scheduler noise).
  *
  * Usage: runMain graft.tools.TimeQuery <name> [sfDir] [iters] [outDir]
  *   - warms up once (JVM/codegen/footers), then times `iters` runs
  *     and prints each + min (min is the noise-free statistic for an
  *     idle JVM).
  *   - with outDir: also writes the result parquet to outDir/<name>
  *     (same layout Verify uses, so selfcheck-style DuckDB compares
  *     work on a single query).
  *   - the session is `GraftSession.builder`'s, the conf Bench runs
  *     (ADVICE r21: a private conf copy here once A/B'd a different
  *     advisory size than the bench under test).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 5
    val outDir = if (args.length > 3) Some(args(3)) else None
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; keys: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    // the noop sink, NOT count(): count() lets Catalyst prune the
    // final projection and drop top-level sorts, so a plan whose cost
    // lives in an output-only expression would time as "no
    // regression". Bench's protocol is the contract this tool A/Bs
    // against, so it must materialize the same full result.
    def force(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    force() // warmup
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      force()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$name: $s%.3fs")
      s
    }
    println(f"$name min of $iters: ${times.min}%.3fs")
    outDir.foreach { od =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$od/$name")
      println(s"wrote $od/$name")
    }
    spark.stop()
  }
}
