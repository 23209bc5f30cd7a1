package graft.operators

import graft.Tables
import graft.plans.Runs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference CLI's entry/drill-down analytics surface:
  *
  *  - q50 `clusterDetails` ≈ `analyze_cluster_details`
  *    (examples/cluster_analysis_cli.py:240-338): for the top-K
  *    largest conversation clusters, the full inspect-one-cluster
  *    breakdown — participants (message count + avg message length
  *    per author), duration, messages_per_hour (the reference's
  *    `count / max(duration_hours, 0.1)` quirk mirrored exactly),
  *    and the peak (day, hour) with its active-user count.
  *  - q51 `chatsOverview` ≈ `get_chats_list`
  *    (cluster_analysis_cli.py:86-153): the CLI's entry screen —
  *    latest-name CTE ⋈ per-chat message stats ⋈ per-chat cluster
  *    stats, COALESCEd for chats without clusters.
  *  - q52 `storeStats` ≈ `get_table_stats`
  *    (data/database/vector_store.py:481-508): store-wide row counts
  *    + embedding coverage — the health check every reference
  *    workflow starts with.
  *
  * Mapping (SURVEY §1): chat ≈ event_type, author ≈ user_id,
  * message text ≈ props, conversation cluster ≈ temporal session
  * partitioned BY CHAT (the reference clusters per chat_id with many
  * authors inside; q01's per-user sessions are the other axis).
  *
  * Scale design: chat-partitioned windows (one shuffle; chats are the
  * reference's natural parallelism unit), top-K via orderBy+limit —
  * Spark plans TakeOrderedAndProject, a distributed per-partition
  * top-K + driver merge of K·partitions rows, never a single-task
  * global sort — and every per-cluster pass after the top-K join is
  * bounded by the K selected clusters (broadcast). Time math stays in
  * epoch-ms integer space (engine-independent, no timezone surface).
  */
object Analytics {

  /** Chat-axis sessionization: gap > windowMs within one chat ⇒ new
    * cluster ([[graft.plans.Runs.byGap]] on the chat_id axis the
    * reference clusters on).
    */
  private[graft] def chatSessions(spark: SparkSession, dir: String,
                                  windowMs: Long,
                                  onlyChats: Option[Seq[String]] = None): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts_ms", "event_id")
    val ev = Tables.events(spark, dir)
    // session ids are per-chat running counts, so restricting to a
    // chat subset BEFORE the window yields identical ids for those
    // chats — a static isin filter the parquet scan can push/prune
    val chats = onlyChats.fold(ev)(cs => ev.filter(col("event_type").isin(cs: _*)))
    Runs.byGap(Sessions.withTsMs(chats), w, "ts_ms", windowMs, "session_id")
      .select(col("event_id"), col("user_id"), col("event_type").as("chat"),
        col("props"), col("ts_ms"), col("session_id"))
  }

  /** q50: drill-down for the top-K largest chat clusters — one row
    * per (cluster, participant) carrying the cluster-level stats.
    */
  def clusterDetails(spark: SparkSession, dir: String, topK: Int = 10,
                     windowMs: Long = 30 * 60 * 1000L): DataFrame = {
    val stats = chatSessions(spark, dir, windowMs).groupBy("chat", "session_id")
      .agg(count(lit(1)).as("n_messages"),
        countDistinct(col("user_id")).as("n_participants"),
        min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"))
    // distributed top-K (TakeOrderedAndProject): total order incl.
    // tie-break so the K selected clusters are deterministic
    val top = stats.orderBy(col("n_messages").desc, col("chat"), col("session_id")).limit(topK)
    // the drill-down passes re-derive sessions ONLY over the <= K
    // selected chats: the bounded driver collect (<= topK rows —
    // knowing which chats to open is the drill-down contract, same
    // shape as CellProbe.read's probed-cell collect) makes the filter
    // static, so the corpus-wide session window runs ONCE — ONE
    // collect materializes top, and the joins below broadcast a
    // driver-rebuilt local frame instead of re-embedding the full
    // corpus-wide subplan (which would re-run the window per join)
    val spark2 = stats.sparkSession
    val topRows = top.collect()
    val topLocal = spark2.createDataFrame(
      java.util.Arrays.asList(topRows: _*), top.schema)
    val topChats = topRows.map(_.getAs[String]("chat")).distinct.toSeq
    val tagged = chatSessions(spark, dir, windowMs, Some(topChats))
      .join(broadcast(topLocal.select("chat", "session_id")), Seq("chat", "session_id"))
    val parts = tagged.groupBy("chat", "session_id", "user_id")
      .agg(count(lit(1)).as("user_msgs"),
        // mean skips null texts in both engines; all-null ⇒ NULL via
        // try_divide (ANSI Spark would throw on the 0-divisor)
        round(try_divide(sum(length(col("props"))).cast("double"),
          count(col("props"))), 6).as("user_avg_len"))
    val hours = tagged
      .withColumn("day", expr("ts_ms DIV 86400000"))
      .withColumn("hr", expr("(ts_ms DIV 3600000) % 24"))
      .groupBy("chat", "session_id", "day", "hr")
      .agg(count(lit(1)).as("msgs"), countDistinct(col("user_id")).as("active_users"))
    val pw = Window.partitionBy("chat", "session_id")
      .orderBy(col("msgs").desc, col("day"), col("hr"))
    val peak = hours.withColumn("rn", row_number().over(pw)).filter(col("rn") === 1)
      .select(col("chat"), col("session_id"), col("day").as("peak_day"),
        col("hr").as("peak_hour"), col("msgs").as("peak_messages"),
        col("active_users").as("peak_users"))
    val durH = (col("end_ms") - col("start_ms")) / lit(3600000.0)
    parts
      .join(broadcast(topLocal), Seq("chat", "session_id"))
      .join(broadcast(peak), Seq("chat", "session_id"))
      .withColumn("duration_hours", round(durH, 6))
      .withColumn("messages_per_hour",
        round(col("n_messages").cast("double") / greatest(durH, lit(0.1)), 6))
      .select("chat", "session_id", "n_messages", "n_participants", "start_ms", "end_ms",
        "duration_hours", "messages_per_hour", "peak_day", "peak_hour", "peak_messages",
        "peak_users", "user_id", "user_msgs", "user_avg_len")
      .orderBy(col("chat"), col("session_id"), col("user_id").asc_nulls_first)
  }

  /** q51: the CLI entry screen — per-chat message stats, the latest
    * chat label (the SCD latest-name CTE over the chat's own events)
    * and cluster stats (clusters = chat-sessions with ≥ minSize
    * events, the reference clusters table's size qualification).
    *
    * One exchange: the chat-partitioned shuffle the session window
    * already pays for. Events aggregate per (chat, session), then per
    * chat, both inside that partitioning; the latest label is a
    * `max_by` over `(ts_ms, event_id)` (a unique key) whose JSON is
    * parsed once per chat, not once per event, and participants are the
    * union of the sessions' user sets. No join, and `events` is
    * scanned once.
    */
  def chatsOverview(spark: SparkSession, dir: String, minSize: Int = 3,
                    windowMs: Long = 30 * 60 * 1000L): DataFrame = {
    val latest = struct(col("ts_ms"), col("event_id"))
    val clustered = col("sz") >= minSize
    chatSessions(spark, dir, windowMs)
      .groupBy("chat", "session_id")
      .agg(count(lit(1)).as("sz"),
        collect_set(col("user_id")).as("users"),
        min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"),
        max_by(col("props"), latest).as("label_props"),
        max(latest).as("latest"))
      .groupBy("chat")
      .agg(get_json_object(max_by(col("label_props"), col("latest")), "$.k").as("chat_label"),
        sum("sz").as("message_count"),
        size(array_distinct(flatten(collect_list(col("users"))))).cast("long").as("participant_count"),
        min("first_ms").as("first_ms"), max("last_ms").as("last_ms"),
        count(when(clustered, lit(1))).as("cluster_count"),
        sum(when(clustered, col("sz"))).as("clustered_messages"),
        max(when(clustered, col("sz"))).as("max_cluster_size"))
      .select(col("chat"), coalesce(col("chat_label"), lit("unknown")).as("chat_label"),
        col("message_count"), col("participant_count"), col("first_ms"), col("last_ms"),
        col("cluster_count"),
        coalesce(col("clustered_messages"), lit(0L)).as("clustered_messages"),
        when(col("cluster_count") > 0,
          round(col("clustered_messages").cast("double") / col("cluster_count"), 6))
          .otherwise(lit(0.0)).as("avg_cluster_size"),
        coalesce(col("max_cluster_size"), lit(0L)).as("max_cluster_size"))
      .orderBy(col("message_count").desc, col("chat"))
  }

  /** q52: store-wide table stats + embedding coverage. Each table is
    * scanned once with map-side partial aggregation; the coverage
    * join is one shuffle on the id (shuffle-free with both sides
    * bucketed on it, plans.CoLocate); the 1-row aggregates cross-join
    * as literals.
    */
  def storeStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_chats"))
    val d = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_documents"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
    val em = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_embeddings"),
        countDistinct(col("label")).as("n_labels"))
    val cov = Tables.documents(spark, dir).select("doc_id")
      .join(Tables.embeddings(spark, dir).select("vec_id"),
        col("doc_id") === col("vec_id"), "left")
      .agg(count(col("vec_id")).as("docs_with_vec"),
        count(when(col("vec_id").isNull, lit(1))).as("docs_without_vec"))
    ev.crossJoin(d).crossJoin(em).crossJoin(cov)
      .select("n_events", "n_users", "n_chats", "n_documents", "n_langs", "n_sources",
        "n_embeddings", "n_labels", "docs_with_vec", "docs_without_vec")
  }
}
