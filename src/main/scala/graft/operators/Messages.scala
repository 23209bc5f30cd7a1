package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Message normalization / extraction family — the reference's
  * preprocessing surface re-expressed declaratively on `events`.
  */
object Messages {

  /** q09: JSON payload extraction + aggregation — the reference
    * flattens nested Telegram JSON into columns
    * (TelegramPreprocessor.py:444-522 `load_json`, :524-555
    * `parse_links`); here the nested payload is `props` and the
    * extraction is a codegen'd JSON path, aggregated by payload key.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Sessions.withTsMs(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("k")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"),
        countDistinct("user_id").as("n_users"))
      .orderBy("k")

  /** q10: media-marker rewrite — `handle_media`/`handle_location`/
    * `handle_contacts` (TelegramPreprocessor.py:706-980) render a
    * compact `[kind](payload)` marker into the text column per media
    * kind. Same CASE-cascade here keyed on event_type. The payload
    * is the DECIMAL-rendered value, so the string is engine-exact.
    */
  def mediaMarkers(spark: SparkSession, dir: String): DataFrame = {
    val vs = col("value").cast(DecimalType(12, 2)).cast("string")
    Sessions.withTsMs(spark, dir)
      .withColumn("marker",
        when(col("event_type") === "purchase", concat(lit("[purchase]("), vs, lit(")")))
          .when(col("event_type") === "error", concat(lit("[error]("), col("props"), lit(")")))
          .when(col("event_type") === "signup", lit("[signup]"))
          .otherwise(concat(col("event_type"), lit(" "), vs)))
      .select("event_id", "event_type", "marker")
      .orderBy("event_id")
  }

  /** q11: declarative message filtering — `delete_service_messages` /
    * `delete_empty_messages` (TelegramPreprocessor.py:982-1029).
    * Plain pushdown-able predicates; values pass through untouched.
    */
  def messageFilter(spark: SparkSession, dir: String): DataFrame =
    Sessions.withTsMs(spark, dir)
      .filter(col("event_type") =!= "error" && col("props").isNotNull && col("value") > 0.0)
      .select("event_id", "user_id", "event_type", "ts_ms", "value")
      .orderBy("event_id")

  /** q12: recipients — for each user, the other users co-occurring in
    * the same conversation bucket (create_recipient_column,
    * TelegramPreprocessor.py:677-704: "all unique authors except the
    * current row's author"; the chat analog here is (event_type,
    * payload key) — event_type alone is 5-dense and the co-occurrence
    * join would square up). Arrays are sorted — collect_set order is
    * engine/partitioning-dependent.
    */
  /** `maxBucket` caps how large a conversation bucket may get before
    * it is DROPPED: the OUTPUT of this operator is inherently
    * near-quadratic in bucket size (every member lists every other
    * member), so one 10k-participant bucket contributes 10k rows ×
    * 10k-long arrays no matter how it is computed. A bucket that hot
    * is a broadcast channel, not a conversation, so the cap is ON BY
    * DEFAULT (10k — BucketProbe's evidence: capped 0.98s vs uncapped
    * 4.4s on one planted 10k bucket; at 100 TB an uncapped default is
    * an OOM, not a slowdown). Truncation is NOT silent: every member
    * of a dropped bucket still gets an output row, with `n_truncated`
    * = how many of their buckets were dropped — so a downstream
    * consumer can see exactly whose co-participant lists are partial.
    * The oracle applies the identical cap rule.
    */
  def recipients(spark: SparkSession, dir: String,
                 maxBucket: Int = 10000): DataFrame = {
    // Per-bucket ARRAY emission, never a pair stream: the bucket's
    // sorted member array is built once (one shuffle of the distinct
    // participant rows) and emitted once per member — O(Σ|bucket|)
    // rows instead of the O(Σ|bucket|²) pair instances the previous
    // flatMapGroups plan shuffled through a global distinct (1.63M
    // pair rows at sf0.1; the bench's slowest query at 2.27s). The
    // per-user merge then unions a few small sorted arrays.
    //
    // Cap enforcement is SIZE-FIRST: bucket sizes come from a plain
    // count (map-side-combinable, O(1) state per bucket) and the
    // over-cap rows are filtered out BEFORE collect_set, so the
    // mega-bucket's member array is never materialized anywhere —
    // capping after the fact would still build it once. The
    // sizes join, the members groupBy, and the truncation count all
    // hash on (day, k), so the exchange is reused across branches.
    // ONE live copy of the sized-participants frame (r22, guide §1.2):
    // the co-array branch and the truncation branch below both read
    // it, and without the registry persist the whole subtree — events
    // scan, JSON k-extraction, distinct, bucket-size aggregation +
    // join — planned TWICE per invocation (two `Scan parquet` legs in
    // the formatted plan; the dominant 1.1s job in JobProbe's q12
    // profile). The q77/q83c Shared.persist discipline: plan-keyed,
    // CacheManager-revalidated, a registerOverride source swap
    // recomputes. The frame is slim — distinct (user, day, k) rows
    // plus a long — bounded by active users × days × keys.
    val participants = Sessions.withTsMs(spark, dir)
      .select(col("user_id"),
        expr("ts_ms DIV 86400000").as("day"),
        // rows with null props / missing 'k' can never co-occur, and
        // null members never co-occur either (the oracle's
        // a.k = b.k / a.user_id <> b.user_id joins are null-rejecting)
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k").isNotNull && col("user_id").isNotNull)
      .distinct()
    val sized = graft.Shared.persist(spark, s"q12_sized:cap=$maxBucket",
      participants
        .join(participants.groupBy("day", "k").agg(count(lit(1)).as("bsz")),
          Seq("day", "k")))
    val buckets = sized
      .filter(col("bsz").between(2, maxBucket))
      .groupBy("day", "k")
      .agg(sort_array(collect_set("user_id")).as("members"))
    val co = buckets
      .select(explode(col("members")).as("user_id"), col("members"))
      .groupBy("user_id")
      .agg(collect_list("members").as("member_lists"))
      .withColumn("co_arr",
        array_sort(array_distinct(expr("array_remove(flatten(member_lists), user_id)"))))
      // string-joined rather than ARRAY output: the only collection-
      // typed oracle surface would hinge on engines stringifying
      // lists identically in the driver's hash compare
      .select(col("user_id"),
        array_join(col("co_arr"), ",").as("co_users"),
        size(col("co_arr")).cast("long").as("n_co"))
    val truncated = sized
      .filter(col("bsz") > maxBucket)
      .groupBy("user_id").agg(count(lit(1)).as("n_truncated"))
    co.join(truncated, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("co_users"), lit("")).as("co_users"),
        coalesce(col("n_co"), lit(0L)).as("n_co"),
        coalesce(col("n_truncated"), lit(0L)).as("n_truncated"))
      .orderBy("user_id")
  }

  /** q43: per-chat statistics — the chat-level twin of q06's user
    * stats (telegram_database.py:522-595 `get_chat_stats`: message
    * count, participant count, date range, per-chat averages).
    * `event_type` is the chat analog in the testdata mapping.
    */
  def chatStats(spark: SparkSession, dir: String): DataFrame =
    Sessions.withTsMs(spark, dir)
      .groupBy(col("event_type").as("chat"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        min("ts_ms").as("first_ms"),
        max("ts_ms").as("last_ms"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"),
        (sum(col("value").cast(DecimalType(12, 2))).cast("double") / count(lit(1))).as("avg_value"))
      .orderBy("chat")

  /** q45: AS-OF join — for every event, the user's most recent
    * at-or-before signup (the reference resolves "name/state at
    * message time" against its SCD name tables; an as-of join is the
    * general form, and Spark has no native operator for it).
    *
    * Composition: the standard distributed as-of — union the two
    * tagged streams and take a running last_value(update, ignore
    * nulls) over one (user)-partitioned window. ONE shuffle total;
    * the naive alternative (range join + per-event max) explodes into
    * an O(events × updates) join. Updates are deduped to one per
    * (user, ts) in both engines, so the <= tie is unambiguous;
    * updates sort BEFORE events at equal ts (at-or-before contract).
    * Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = Sessions.withTsMs(spark, dir)
    val events = base.select(col("event_id"), col("user_id"), col("ts_ms"))
    val updates = base.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_ms")
      .agg(max("event_id").as("upd_id"))
    val tagged = events
      .select(col("user_id"), col("ts_ms"), lit(null).cast("long").as("upd_id"),
        col("event_id"), lit(1).as("kind"))
      .unionByName(updates
        .select(col("user_id"), col("ts_ms"), col("upd_id"),
          lit(null).cast("long").as("event_id"), lit(0).as("kind")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      // -1 = "no prior update": a nullable int column would round-trip
      // through pandas as float64 in the driver's hash compare, and the
      // two engines need not agree on that representation
      // null-rejecting like the oracle's ASOF ... ON e.user_id =
      // u.user_id: the window partition groups NULL users together,
      // so without the guard a null-user event would inherit a
      // null-user signup's upd_id that SQL equality can never match
      .withColumn("asof_upd",
        when(col("user_id").isNotNull,
          coalesce(last("upd_id", ignoreNulls = true).over(w), lit(-1L)))
        .otherwise(lit(-1L)))
      .filter(col("kind") === 1)
      .select("event_id", "user_id", "ts_ms", "asof_upd")
      .orderBy("event_id")
  }

  /** q46: RANGE join — per event, how many other events of the same
    * user fall within ±window (the reference's temporal-proximity
    * notion that underlies create_clusters, as a first-class join).
    *
    * Because the probe and build sides are the SAME stream, the whole
    * "join" collapses to one RANGE-frame window:
    * count(*) OVER (PARTITION BY user ORDER BY ts RANGE BETWEEN w
    * PRECEDING AND w FOLLOWING) − 1. ONE shuffle, zero row
    * replication, no pair materialization (the binned-join default it
    * replaced did 3× replication + a join + a re-aggregation).
    * Oracle: DuckDB's native inequality (IE) join.
    */
  def rangeJoinCounts(spark: SparkSession, dir: String, windowMs: Long = 300000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms")
      .rangeBetween(-windowMs, windowMs)
    val base = Sessions.withTsMs(spark, dir).select("event_id", "user_id", "ts_ms")
    // the join form (a.user_id = b.user_id) is null-rejecting, but a
    // window PARTITION BY groups ALL null users into ONE partition —
    // wrong answer (mutual neighbors) and one serialized straggler
    // task. Split: the window runs only over real users (null rows
    // never enter its shuffle), null rows get the join semantics'
    // n_neighbors = 0 directly. Each branch's filter pushes to the
    // scan, so this is two pruned scans, not a cached-recompute trap.
    base.filter(col("user_id").isNotNull)
      .withColumn("n_neighbors", count(lit(1)).over(w) - 1)
      .unionByName(base.filter(col("user_id").isNull)
        .withColumn("n_neighbors", lit(0L)))
      .orderBy("event_id")
  }

  /** q46b: the binned-join variant of q46 — the SKEW path (mirrors
    * the q01/q01b pairing). The window above serializes one user's
    * events into one task; for a pathological user the (user, bin)
    * key here is strictly finer-grained. Bin width = window, the
    * build side replicates into its bin and both neighbors (bounded
    * 3× on slim rows), the join runs on (user, bin) equality — every
    * true pair is within one bin of its partner — and an exact
    * |Δt| ≤ window filter cleans up. Same result, same oracle.
    */
  def rangeJoinCountsBinned(spark: SparkSession, dir: String, windowMs: Long = 300000L): DataFrame = {
    val base = Sessions.withTsMs(spark, dir).select("event_id", "user_id", "ts_ms")
    val probe = base.withColumn("bin", expr(s"ts_ms DIV $windowMs"))
    val build = base
      .select(col("user_id"), col("ts_ms").as("r_ts_ms"), col("event_id").as("r_event_id"))
      .withColumn("bin", explode(array(
        expr(s"r_ts_ms DIV $windowMs - 1"), expr(s"r_ts_ms DIV $windowMs"),
        expr(s"r_ts_ms DIV $windowMs + 1"))))
    probe.join(build, Seq("user_id", "bin"), "left")
      .withColumn("hit",
        when(col("r_event_id").isNotNull && col("r_event_id") =!= col("event_id")
          && abs(col("r_ts_ms") - col("ts_ms")) <= windowMs, 1).otherwise(0))
      .groupBy("event_id", "user_id", "ts_ms")
      .agg(sum("hit").as("n_neighbors"))
      .orderBy("event_id")
  }

  /** q15: latest-name resolution — the reference tracks name history
    * per id and resolves the latest via ROW_NUMBER
    * (telegram_database.py:331-343 `_latest_chat_names_cte`,
    * vector_store.py:346-359). Same SCD pattern: latest kind per user.
    */
  def nameMapping(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms").desc, col("event_id").desc)
    Sessions.withTsMs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_kind"), col("ts_ms").as("last_seen_ms"))
      .orderBy("user_id")
  }
}
