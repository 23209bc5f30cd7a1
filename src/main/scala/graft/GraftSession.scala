package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: graft's functions plus the engine conf
  * every in-repo main, the specs and the bench harness share.
  *
  * Graft's operators expect a session with graft's functions
  * installed. Get one from `builder`/`getOrCreate`, or build it with
  * `spark.sql.extensions=graft.GraftExtensions` (on a cluster, through
  * spark-defaults/spark-submit), or call
  * `functions.GraftFunctions.register` once on a session that already
  * exists. The operators themselves never register anything.
  */
object GraftSession {

  // Read once: the one env knob of the engine conf.
  private val advisory = sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "1m")

  /** A caller adds only its paths (warehouse, local dir) and any
    * deviation its purpose needs.
    */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // Post-shuffle partition count follows DATA SIZE, not core count
      // (r21, guide §2.2): parallelismFirst=true (the default) tells
      // AQE to keep ≥ defaultParallelism partitions even when the
      // shuffle is a few KB, so every tiny exchange at local[32] ran
      // 32 near-empty tasks — measured 6.9s → 0.5s on q93's hop
      // expansion (tools/WalkPhaseProbe). false is also the
      // scale-correct production setting: partitions target
      // advisoryPartitionSizeInBytes, which a 100 TB shuffle would
      // exceed anyway — this is not a local-only tune.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // The advisory size is the SCALE-DEPENDENT knob that pairs with
      // parallelismFirst=false. At sf0.1 shuffles are KBs-to-tens-of-MB
      // while per-row CPU is real (q40's PPJoin verify, q12's bucket
      // arrays): Spark's 64m default coalesced those CPU-bound stages
      // to 1-3 tasks (q40 2.0->3.8s, q12 2.1->3.9s measured), while 1m
      // keeps them at ~full parallelism AND still collapses the sub-MB
      // exchanges to one task. On a cluster at 100 TB the guide's
      // 64-256m applies (shuffles are byte-heavy there, so the advisory
      // yields thousands of partitions): set SPARK_GRAFT_ADVISORY.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      // Interleaved passes revisit each query's generated classes
      // minutes apart; the default 100-entry codegen cache evicts them
      // in between, so every pass would re-pay Janino compilation.
      // Static conf - must be set before the session.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")

  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    // covers attaching to a pre-existing session built without the
    // extension; a no-op on one built here
    functions.GraftFunctions.register(spark)
    spark
  }

  /** SQL surface: register every testdata table as a temp view, so the
    * reference's DuckDB-style SQL runs directly under spark.sql — e.g.
    * `spark.sql("SELECT shingles(text) FROM documents")`. View names
    * match the reference's table names; re-registration repoints the
    * views at a new sf dir.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.byName(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }
}
