package graft.sources

import graft.plans.Runs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's end-to-end ingest flow composed from graft pieces —
  * what `create_db_from_tg_json.py` + TelegramPreprocessor.process_file
  * run per export: load + normalize → per-chat temporal sessionization
  * (create_clusters) → author-run concatenation
  * (concat_author_messages) → per-chat summary. A terrorblade user's
  * nightly ingest is this one call over a directory of exports.
  *
  * Scale shape: the export read parallelizes per file; everything
  * after is two window passes partitioned by (chat_id, from_id) /
  * (chat_id) and one aggregation — no driver-side state, no collect.
  */
object TelegramPipeline {

  private val chatW = Window.partitionBy("chat_id").orderBy("ts_ms", "message_id")

  /** Messages with session ids: gap > windowMs within a chat opens a
    * new session ([[graft.plans.Runs.byGap]], create_clusters' time_window).
    */
  def sessionized(messages: DataFrame, windowMs: Long = 30 * 60 * 1000L): DataFrame =
    Runs.byGap(messages.withColumn("ts_ms", unix_millis(col("date").cast("timestamp"))),
      chatW, "ts_ms", windowMs, "session_id")

  /** Consecutive same-author messages inside a session joined into
    * one row (concat_author_messages' run-length grouping).
    */
  def concatAuthorRuns(sessionized: DataFrame, joinWith: String = ". "): DataFrame = {
    val lagged = sessionized
      .withColumn("prev_author", lag("from_id", 1).over(chatW))
      .withColumn("prev_session", lag("session_id", 1).over(chatW))
    // a run breaks on a change of author or of session (Runs.number).
    // The author compare is null-safe: =!= on a null-author row (a
    // from_id that didn't parse) evaluates NULL, which counts as no
    // break, and the row would be concatenated into the previous
    // author's run. <=> makes a null author its own run boundary.
    val runs = Runs.number(lagged, chatW, "run_id",
      col("prev_author").isNull
        || !(col("prev_author") <=> col("from_id"))
        || !(col("prev_session") <=> col("session_id")))
    runs.groupBy("chat_id", "run_id")
      .agg(
        min("session_id").as("session_id"),
        min("from_id").as("from_id"),
        min("from_name").as("from_name"),
        count(lit(1)).as("n_messages"),
        min("ts_ms").as("start_ms"),
        max("ts_ms").as("end_ms"),
        array_join(transform(
          array_sort(collect_list(struct(col("ts_ms"), col("message_id"), col("text")))),
          s => s.getField("text")), joinWith).as("text"))
      .orderBy("chat_id", "run_id")
  }

  /** Full flow: export path → normalized messages → sessionized →
    * author runs. The per-chat summary comes from
    * TelegramJson.chatSummary on the normalized frame.
    */
  def prepare(spark: SparkSession, exportPath: String,
              windowMs: Long = 30 * 60 * 1000L, minMessages: Int = 3): DataFrame =
    concatAuthorRuns(sessionized(TelegramJson.normalized(spark, exportPath, minMessages), windowMs))
}
