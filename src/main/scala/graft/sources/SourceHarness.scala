package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-verifiable SOURCE-PARSER queries — the q80 pattern applied
  * to the ingestion package (VERDICT r12: sources were spec-only; the
  * hard DuckDB gate never executed a parse). The trick: DuckDB can
  * only see the testdata parquet tables, so the entry SERIALIZES a
  * deterministic Telegram export FROM `events` (one chat per user,
  * messages in id order — the shape a real export has), runs the real
  * parser over the file, and projects columns the oracle re-derives
  * from `events` directly. A parser defect anywhere on that path
  * (flatten, min-size filter, id-prefix strip, date parse, text
  * extraction) breaks hash-equality with the oracle.
  *
  * The serializer is the HARNESS (deliberately trivial — plain
  * "text" strings, no entities/media, JSON-escaped verbatim): rich
  * edge cases stay covered by TelegramJsonSpec's handcrafted exports;
  * this certifies the core path end-to-end at corpus scale, driver-
  * checked at every sf.
  */
object SourceHarness {

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  private def iso(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      .format(isoFmt)

  /** Serialize `events` as a Telegram JSON export — one personal chat
    * per user, messages in id order. `authorOf(uid, eventId)` names
    * each message's (from, from_id-suffix): q86 uses the chat owner
    * for every message; q86c alternates two participants by event-id
    * parity so the pipeline's author-RUN breaks are load-bearing.
    */
  private def writeExport(rows: Array[org.apache.spark.sql.Row],
                          prefix: String,
                          authorOf: (Long, Long) => (String, Long)): String = {
    val sb = new StringBuilder(rows.length * 96)
    sb.append("{\"chats\":{\"list\":[")
    var firstChat = true
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (uid, ms) =>
      if (!firstChat) sb.append(',')
      firstChat = false
      sb.append(s"""{"name":"u$uid","type":"personal_chat","id":$uid,"messages":[""")
      var firstMsg = true
      ms.sortBy(_.getLong(1)).foreach { r =>
        if (!firstMsg) sb.append(',')
        firstMsg = false
        val (aname, aid) = authorOf(uid, r.getLong(1))
        val text = if (r.isNullAt(3)) "null" else "\"" + esc(r.getString(3)) + "\""
        sb.append(s"""{"id":${r.getLong(1)},"type":"message","date":"${iso(r.getLong(2))}",""" +
          s""""from":"$aname","from_id":"user$aid","text":$text}""")
      }
      sb.append("]}")
    }
    sb.append("]}}")
    val f = java.nio.file.Files.createTempFile(prefix, ".json")
    f.toFile.deleteOnExit()
    java.nio.file.Files.writeString(f, sb.toString)
    f.toString
  }

  private def eventRows(spark: SparkSession, dir: String): Array[org.apache.spark.sql.Row] =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000000000").as("sec"), col("props"))
      .collect()

  /** One serialized export per (session, dir, variant) in
    * [[graft.Shared]] (family `source.export`): the export writer is
    * the HARNESS (see the object scaladoc), and re-collecting `events`
    * + re-writing an identical temp file on every call charged harness
    * serialization to the measured parse. A regenerated events table
    * (or a registerOverride) changes the sourceToken and re-serializes,
    * deleting the superseded file (ADVICE r21: deleteOnExit only fires
    * at JVM exit); a file deleted behind the store is rewritten. The
    * parse itself — the operator under test — still runs on every
    * invocation. q86c and q86d deliberately share one file (identical
    * rows, identical authorOf).
    */
  private def memoExport(spark: SparkSession, dir: String, variant: String)
                        (write: => String): String =
    graft.Shared.get[String](spark, "source.export", (spark, dir, variant),
      Tables.sourceToken(spark, dir, "events"),
      live = f => new java.io.File(f).exists(),
      release = f => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(f)))(write)

  private def exportFile(spark: SparkSession, dir: String, variant: String,
                         prefix: String, authorOf: (Long, Long) => (String, Long)): String =
    memoExport(spark, dir, variant)(writeExport(eventRows(spark, dir), prefix, authorOf))

  /** q86: serialize events → Telegram JSON export → readExport →
    * project (chat identity, message id, stripped from_id, text,
    * parsed epoch seconds). Oracle re-derives the same frame from
    * `events` with the min-messages filter as a HAVING.
    */
  def jsonRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val f = exportFile(spark, dir, "json-owner", "q86_export",
      (uid, _) => (s"u$uid", uid))
    TelegramJson.readExport(spark, f)
      .select(col("chat_id"), col("chat_name"), col("message_id"),
        col("from_id"), col("text"), unix_timestamp(col("date")).as("sec"))
      .orderBy("chat_id", "message_id")
  }

  /** q86c: the WHOLE ingest flow under the oracle — the same
    * serialized export as q86, but with TWO participants per chat
    * (alternating by event-id parity, like a real personal chat), fed
    * through `TelegramPipeline.prepare`: readExport → normalized
    * (markers + service/empty filters) → per-chat temporal
    * sessionization → author-RUN concatenation. The oracle replays
    * every stage from `events` directly — date parse at second
    * precision, the 30-min session gap, the null-safe author/session
    * run breaks, and the (ts, id)-ordered '. '-joined run text — so a
    * defect anywhere in the composed pipeline (the reference's
    * process_file flow, create_db_from_tg_json.py) breaks
    * hash-equality. Alternating authors make the run-break logic
    * load-bearing: with one author per chat every session would be
    * one run and the concat stage could be wrong without failing.
    */
  def pipelineRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val f = exportFile(spark, dir, "json-alt", "q86c_export",
      (uid, eid) => if (eid % 2 == 0) (s"u$uid", uid) else (s"v$uid", uid + 1000000000L))
    // one live parse of the shared export feeds q86c AND q86d (r21 —
    // the q77 Shared.persist discipline): both entries normalize the
    // identical file; the parse is in-session computed, never stored
    // across runs, and a re-serialized export (new temp path => new
    // plan) re-parses
    val norm = graft.Shared.persist(spark,
      "tg_normalized_alt", TelegramJson.normalized(spark, f))
    TelegramPipeline.concatAuthorRuns(TelegramPipeline.sessionized(norm))
      .select(col("chat_id"), col("run_id"), col("session_id"),
        col("from_id"), col("from_name"), col("n_messages"),
        col("start_ms"), col("end_ms"), col("text"))
      .orderBy("chat_id", "run_id")
  }

  /** q86d: the post-load SUMMARY surface under the oracle —
    * `TelegramJson.chatSummary` (the per-chat table process_file logs
    * after ingest: message count, distinct authors, first/last
    * message time) over the normalized two-participant export. The
    * alternating authors make n_authors live (2 for chats with both
    * parities present, 1 otherwise), and the min/max ride the parsed
    * second-precision dates — so the row certifies count, distinct
    * and time-range aggregation over the REAL parse output.
    */
  def chatSummaryRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val f = exportFile(spark, dir, "json-alt", "q86d_export",
      (uid, eid) => if (eid % 2 == 0) (s"u$uid", uid) else (s"v$uid", uid + 1000000000L))
    // shares q86c's parsed frame (same export file, same key)
    val norm = graft.Shared.persist(spark,
      "tg_normalized_alt", TelegramJson.normalized(spark, f))
    TelegramJson.chatSummary(norm)
      .select(col("chat_id"), col("chat_name"), col("n_messages"), col("n_authors"),
        unix_millis(col("first_message").cast("timestamp")).as("first_ms"),
        unix_millis(col("last_message").cast("timestamp")).as("last_ms"))
      .orderBy("chat_id")
  }

  private val htmlDateFmt = java.time.format.DateTimeFormatter
    .ofPattern("dd.MM.yyyy HH:mm:ss")

  /** q86b: the same round-trip through the HTML export parser —
    * events serialized as `messages.html` body blocks (date title,
    * from_name, text div — the Telegram Desktop shard layout), parsed
    * by TelegramHtml.readExport, compared against the events-derived
    * oracle on (timestamp string, author, text, message_type). The
    * corpus props carry no HTML metacharacters (verified: the only
    * non-alphanumerics are JSON punctuation), so verbatim text
    * serialization is faithful; entity-escaping edge cases remain
    * TelegramHtmlSpec's territory.
    */
  def htmlRoundTrip(spark: SparkSession, dir: String,
                    shardSize: Int = 1000): DataFrame = {
    // same token-guarded harness memo as the JSON exports
    val shardDir = memoExport(spark, dir, s"html-$shardSize") {
      val rows = eventRows(spark, dir)
      val d = java.nio.file.Files.createTempDirectory("q86b_html")
      d.toFile.deleteOnExit()
      // shard like Telegram Desktop does (messagesNN.html at ~1000
      // messages/file) — which is also what makes the parse PARALLEL:
      // wholetext reads one row per file, so a single monolithic file
      // is a single task regardless of size (measured 2.3s at sf0.1;
      // sharded, the regex extraction spreads across the cores)
      rows.sortBy(r => (r.getLong(0), r.getLong(1)))
        .grouped(shardSize).zipWithIndex.foreach { case (shard, i) =>
          val sb = new StringBuilder(shard.length * 192)
          sb.append("<html><body>")
          shard.foreach { r =>
            val ts = java.time.LocalDateTime
              .ofEpochSecond(r.getLong(2), 0, java.time.ZoneOffset.UTC).format(htmlDateFmt)
            sb.append(s"""<div class="body">\n""")
              .append(s""" <div class="pull_right date details" title="$ts"></div>\n""")
              .append(s""" <div class="from_name">u${r.getLong(0)}</div>\n""")
              // null-guarded: interpolation would render a null props as
              // the LITERAL string "null" — fabricated text content, the
              // exact divergence class this harness exists to catch. The
              // corpus has no null props today; if it ever does, an empty
              // div (vs the oracle's NULL) fails the gate VISIBLY instead
              // of smuggling four bogus characters past it
              .append(s""" <div class="text">${Option(r.getString(3)).getOrElse("")}</div>\n""")
              .append("</div>\n")
          }
          sb.append("</body></html>")
          val f = d.resolve(f"messages$i%04d.html")
          f.toFile.deleteOnExit()
          java.nio.file.Files.writeString(f, sb.toString)
        }
      d.toString
    }
    TelegramHtml.readExport(spark, shardDir)
      .select(col("timestamp"), col("author"), col("text"), col("message_type"))
      .orderBy("timestamp", "author", "text")
  }
}
