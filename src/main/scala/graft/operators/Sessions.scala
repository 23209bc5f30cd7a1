package graft.operators

import graft.Tables
import graft.plans.Runs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Temporal sessionization / conversation-grouping family.
  *
  * Re-expresses the reference's time-gap clustering pipeline
  * (terrorblade/data/preprocessing/TextPreprocessor.py:162-214
  * `create_clusters` — gap > window ⇒ new cluster, size-qualified;
  * :108-160 `concat_author_messages` — same-author runs within a gap
  * concatenated; telegram_database.py:345-520 cluster stats/HAVING)
  * on the `events` stream table: user_id ≈ chat, event_type ≈ author
  * /kind, ts ≈ date, props ≈ text.
  *
  * Scale design: every operator is ONE window shuffle partitioned by
  * user (the natural key — millions of users ⇒ good parallelism, no
  * global ordering anywhere), followed by map-side-combinable
  * aggregation. Timestamps are compared in epoch-ms space so
  * semantics are engine-independent (parquet ns → Spark µs truncation
  * can't bite at boundaries).
  */
object Sessions {

  private def decV: Column = col("value").cast(DecimalType(12, 2))

  /** events + ts_ms (ts arrives as raw ns long; see Tables.events). */
  private[graft] def withTsMs(spark: SparkSession, dir: String): DataFrame =
    withTsMs(Tables.events(spark, dir))

  /** Any events-shaped frame + ts_ms: the one ns → ms rule. */
  private[graft] def withTsMs(events: DataFrame): DataFrame =
    events.withColumn("ts_ms", expr("ts DIV 1000000"))

  private val userW = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")

  /** Gap > windowMs ⇒ new session; session id = the running count of
    * breaks per user ([[graft.plans.Runs.byGap]]).
    */
  def sessionized(spark: SparkSession, dir: String, windowMs: Long = 30 * 60 * 1000L): DataFrame =
    sessionizedOn(withTsMs(spark, dir), windowMs)

  /** The gap-clustering window itself, over any events-shaped frame
    * (raw `ts` ns column; used by the incremental legs, which
    * sessionize slices rather than the stored table).
    */
  def sessionizedOn(events: DataFrame, windowMs: Long = 30 * 60 * 1000L): DataFrame = {
    val withMs = if (events.columns.contains("ts_ms")) events else withTsMs(events)
    Runs.byGap(withMs, userW, "ts_ms", windowMs, "session_id")
  }

  /** q01: the session assignment itself. */
  def temporalSessions(spark: SparkSession, dir: String): DataFrame =
    sessionized(spark, dir)
      .select("event_id", "user_id", "session_id")
      .orderBy("user_id", "session_id", "event_id")

  /** q01c: per-session rollup via Spark's NATIVE `session_window` —
    * the engine-level spelling of the same gap rule (and the one that
    * transfers to Structured Streaming unchanged). One subtlety makes
    * them agree exactly: q01/create_clusters break on gap STRICTLY
    * GREATER than windowMs, while session_window merges an event only
    * while its ts is strictly BEFORE the open window's end (end =
    * last_ts + gap, end-exclusive) — i.e. it breaks at diff ≥ gap.
    * Passing gap = windowMs + 1 ms turns that into "break at
    * diff > windowMs": the q01 rule. Session bounds are emitted as
    * min/max EVENT time (not the window's padded end), so the oracle
    * is the plain per-(user, session) rollup of q01's CTE — EXACT.
    * Same one-shuffle shape as the q01 window (session_window plans
    * as a sort-based aggregation partitioned by user).
    */
  def sessionStatsNative(spark: SparkSession, dir: String,
                         windowMs: Long = 30 * 60 * 1000L): DataFrame =
    withTsMs(spark, dir)
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .groupBy(col("user_id"), session_window(col("ts_t"), s"${windowMs + 1} milliseconds"))
      .agg(min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"),
        count(lit(1)).as("n_events"))
      .select("user_id", "start_ms", "end_ms", "n_events")
      .orderBy("user_id", "start_ms")

  /** Incremental resessionization — the reference's fast reprocessing
    * path (fast_cluster_reprocessing.py / reprocess_clusters_only:
    * redo cluster logic without redoing the expensive upstream work;
    * its DB mode limits the redo to affected chats). Given the stored
    * assignments and the set of DIRTY users (those with new events),
    * only dirty users' histories re-sessionize — session ids are
    * per-user running counts, so one new early event can renumber that
    * user's later sessions, but it can never affect another user.
    * Clean users' stored rows pass through untouched.
    *
    * Scale shape: one left_anti + one left_semi on user_id (both
    * shuffle-free if stored/events are bucketed by user) and the
    * per-user window runs over the dirty slice only — the cost is
    * proportional to the dirty users' data, not the corpus.
    */
  def resessionizeDirty(events: DataFrame, stored: DataFrame, dirtyUsers: DataFrame,
                        windowMs: Long = 30 * 60 * 1000L): DataFrame = {
    val dirty = dirtyUsers.select("user_id").distinct()
    val fresh = sessionizedOn(events.join(dirty, Seq("user_id"), "left_semi"), windowMs)
      .select("event_id", "user_id", "session_id")
    stored.select("event_id", "user_id", "session_id")
      .join(dirty, Seq("user_id"), "left_anti")
      .unionByName(fresh)
      // a USING-column join moves the key to the front — pin the order
      .select("event_id", "user_id", "session_id")
  }

  /** Scale-path sessionization: identical session ids to
    * `sessionized`, but the single per-user window is decomposed into
    * per-(user, time-chunk) windows plus a tiny per-user merge pass.
    *
    * Why: Window.partitionBy(user) serializes ALL of a user's events
    * into one task — a pathological user (bot, firehose channel)
    * becomes the straggler/OOM at 100TB. Chunking bounds task input
    * to (user × chunk) regardless of how hot a user is; the merge
    * pass runs over per-chunk summaries (|users|·|active chunks|
    * rows) and stitches sessions that span chunk boundaries:
    * a chunk's first local session continues the previous chunk's
    * last session iff first_ms - prev_last_ms ≤ gap. Global id =
    * sessions_before_chunk + local_id - merge_flag.
    */
  def sessionizedChunked(spark: SparkSession, dir: String, windowMs: Long = 30 * 60 * 1000L,
                         chunkMs: Long = 24 * 60 * 60 * 1000L): DataFrame = {
    val wLocal = Window.partitionBy("user_id", "chunk").orderBy("ts_ms", "event_id")
    val local = Runs.byGap(withTsMs(spark, dir).withColumn("chunk", expr(s"ts_ms DIV $chunkMs")),
      wLocal, "ts_ms", windowMs, "local_id")
    val wChunk = Window.partitionBy("user_id").orderBy("chunk")
    val offsets = local.groupBy("user_id", "chunk")
      .agg(max("local_id").as("n_local"), min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"))
      .withColumn("prev_last", lag("last_ms", 1).over(wChunk))
      .withColumn("merge",
        when(col("prev_last").isNotNull && col("first_ms") - col("prev_last") <= windowMs, 1)
          .otherwise(0))
      .withColumn("s_prev",
        coalesce(sum(col("n_local") - col("merge"))
          .over(wChunk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("user_id", "chunk", "merge", "s_prev")
    local.join(offsets, Seq("user_id", "chunk"))
      .withColumn("session_id", col("s_prev") + col("local_id") - col("merge"))
      .drop("chunk", "local_id", "merge", "s_prev")
  }

  /** q01b: chunked scale-path assignment — same result contract
    * (and same oracle) as q01. chunk=1h at test scale to exercise
    * many boundary merges.
    */
  def temporalSessionsChunked(spark: SparkSession, dir: String): DataFrame =
    sessionizedChunked(spark, dir, chunkMs = 60 * 60 * 1000L)
      .select("event_id", "user_id", "session_id")
      .orderBy("user_id", "session_id", "event_id")

  /** q02: per-session stats, size-qualified (cluster_size ≥ 3 in the
    * reference's `create_clusters` / cluster stats queries).
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionized(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_ms").as("start_ms"),
        max("ts_ms").as("end_ms"),
        (max("ts_ms") - min("ts_ms")).as("duration_ms"),
        sum(decV).cast("double").as("total_value"),
        countDistinct("event_type").as("n_kinds"))
      .filter(col("n_events") >= 3)
      .orderBy("user_id", "session_id")

  /** q03: concat runs of same event_type within a 5m gap per user —
    * concat_author_messages re-expressed. Ordered concatenation uses
    * sorted struct collect (collect_list order is not deterministic
    * under shuffle; the sort key (ts_ms, event_id) is unique).
    */
  def concatRuns(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 5 * 60 * 1000L
    // a run breaks on the 5m gap or on a change of kind; the kind
    // compare is null-safe (<=>): with `=!=`, a null event_type next
    // to a non-null one yields NULL, which counts as no break, and the
    // row would join a run of a different kind (the oracle uses
    // IS DISTINCT FROM to match)
    Runs.byGap(withTsMs(spark, dir).withColumn("prev_kind", lag("event_type", 1).over(userW)),
        userW, "ts_ms", gapMs, "run_id", orBreak = !(col("prev_kind") <=> col("event_type")))
      .groupBy("user_id", "run_id")
      .agg(
        min("event_type").as("event_type"), // constant within a run; min is engine-agnostic
        count(lit(1)).as("n"),
        min("ts_ms").as("start_ms"),
        array_join(
          transform(array_sort(collect_list(struct(col("ts_ms"), col("event_id"), col("props")))),
            s => s.getField("props")),
          ". ").as("joined_props"))
      .orderBy("user_id", "run_id")
  }

  /** q04: largest sessions — HAVING size ≥ 2, deterministic top-20
    * (get_largest_cluster_messages / random_large_cluster's
    * `HAVING COUNT(*) >= min_size` surface).
    */
  def largestSessions(spark: SparkSession, dir: String): DataFrame =
    sessionized(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("size"), min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"))
      .filter(col("size") >= 2)
      .orderBy(col("size").desc, col("user_id"), col("session_id"))
      .limit(20)

  /** q05: activity heatmap — dow × hour counts
    * (analyze_dialogues.create_activity_heatmap). DuckDB dow is
    * 0=Sunday; Spark dayofweek is 1=Sunday, hence the -1.
    */
  def activityHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val tsCol = timestamp_micros(expr("ts DIV 1000"))
    withTsMs(spark, dir)
      .groupBy((dayofweek(tsCol) - 1).as("dow"), hour(tsCol).as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"), sum(decV).cast("double").as("total_value"))
      .orderBy("dow", "hour_of_day")
  }

  /** q88: heatmap INTENSITY classes — the quantile color mapping the
    * reference renders the heatmap with (analyze_dialogues.py:774-807
    * `_get_quantile_mapping`: quartiles of the NON-ZERO cell counts,
    * then per cell 0 for empty, 1/2/3 for ≤q25/≤q50/≤q75, 4 above —
    * the "Very High/High/Medium/Low" classes the TUI sorts clusters
    * by). The full 7×24 grid is emitted (the reference's matrix has a
    * cell for every dow×hour, zeros included), so empty cells carry
    * class 0 exactly like matrix[i,j]==0.
    *
    * Scale shape: the quantile structure lives in the 168-row cell
    * frame, never the corpus — one map-side-combined groupBy, a 1-row
    * quartile aggregate over ≤168 values broadcast back as literals,
    * and the static grid is a 168-row local relation. percentile()
    * here bit-matches DuckDB's quantile_cont (the q07 equivalence).
    */
  def heatmapIntensity(spark: SparkSession, dir: String): DataFrame = {
    val tsCol = timestamp_micros(expr("ts DIV 1000"))
    val cells = withTsMs(spark, dir)
      .groupBy((dayofweek(tsCol) - 1).as("dow"), hour(tsCol).as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
    val grid = spark.range(7).select(col("id").cast("int").as("dow"))
      .crossJoin(spark.range(24).select(col("id").cast("int").as("hour_of_day")))
    // matrix[matrix > 0]: groupBy cells are all non-zero by
    // construction; the filter spells out the reference's rule
    val q = cells.filter(col("n") > 0)
      .agg(expr("percentile(n, 0.25)").as("q25"),
        expr("percentile(n, 0.5)").as("q50"),
        expr("percentile(n, 0.75)").as("q75"))
    grid.join(cells, Seq("dow", "hour_of_day"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(q))
      .withColumn("intensity",
        when(col("n_events") === 0, 0)
          .when(col("n_events") <= col("q25"), 1)
          .when(col("n_events") <= col("q50"), 2)
          .when(col("n_events") <= col("q75"), 3)
          .otherwise(4))
      .select("dow", "hour_of_day", "n_events", "intensity")
      .orderBy("dow", "hour_of_day")
  }

  /** q37: threshold heatmap — dow × hour counts restricted to
    * high-value events (analyze_dialogues.py:368-403
    * `create_threshold_heatmap`: same grid as the activity heatmap,
    * filtered to messages above the word-count threshold).
    */
  def thresholdHeatmap(spark: SparkSession, dir: String, minValue: Double = 50.0): DataFrame = {
    val tsCol = timestamp_micros(expr("ts DIV 1000"))
    withTsMs(spark, dir)
      .filter(col("value") >= minValue)
      .groupBy((dayofweek(tsCol) - 1).as("dow"), hour(tsCol).as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"), sum(decV).cast("double").as("total_value"))
      .orderBy("dow", "hour_of_day")
  }

  /** q06: per-user stats — totals, distinct kinds, first/last seen
    * (get_user_stats + user_names first/last-seen tracking).
    */
  def userStats(spark: SparkSession, dir: String): DataFrame =
    withTsMs(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("event_type").as("n_kinds"),
        min("ts_ms").as("first_seen_ms"),
        max("ts_ms").as("last_seen_ms"),
        sum(decV).cast("double").as("total_value"),
        (sum(decV).cast("double") / count(lit(1))).as("avg_value"))
      .orderBy("user_id")

  /** q08: long-event group mining — filter value ≥ 50, sessionize 1h,
    * grouped stats, HAVING n ≥ 3, global ordinal group id
    * (analyze_dialogues.find_long_message_groups's CTE chain).
    * The ordinal uses the two-pass range-partitioned numbering
    * (plans.Ordinals): a global Window.orderBy would funnel every
    * post-HAVING group through one task.
    */
  def longGroups(spark: SparkSession, dir: String): DataFrame = {
    val filtered = withTsMs(spark, dir).filter(col("value") >= 50.0)
    val gapMs = 60 * 60 * 1000L
    val grouped = Runs.byGap(filtered, userW, "ts_ms", gapMs, "tmp_group")
      .groupBy("user_id", "tmp_group")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_ms").as("start_ms"),
        max("ts_ms").as("end_ms"),
        sum(decV).cast("double").as("total_value"),
        countDistinct("event_type").as("n_kinds"),
        (sum(decV).cast("double") / count(lit(1))).as("avg_value"))
      .filter(col("n_events") >= 3)
    graft.plans.Ordinals.withOrdinal(grouped, Seq(col("start_ms"), col("user_id")), "ord")
      .withColumn("group_id", col("ord").cast("int"))
      .select("group_id", "user_id", "n_events", "start_ms", "end_ms", "total_value", "n_kinds", "avg_value")
      .orderBy("group_id")
  }
}
