package graft.sources

import graft.IndexStore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Client-session store — the reference's SessionManager
  * (terrorblade/data/database/session_manager.py:47-160) re-expressed
  * as keyed-table set algebra, minus the Telethon credential exchange
  * (egress-bound; the one part of the module that cannot run here).
  * Semantics pinned 1:1 to the reference's row lifecycle:
  *
  *  - `save` ≡ save_session (py:92-115): DuckDB `INSERT OR REPLACE`
  *    is delete-then-insert, so the REPLACED row re-acquires the
  *    `created_at DEFAULT CURRENT_TIMESTAMP` too — created_at resets
  *    alongside last_used on every save. Mirrored exactly (a
  *    created_at-preserving upsert would be a different contract).
  *  - `get` ≡ get_session (py:64-90): the stored string for a phone;
  *    the reference UPDATEs last_used on a hit — that write half is
  *    `touch`, so callers compose `get` + `touch` like the reference.
  *  - `delete` ≡ delete_session (py:117-136).
  *  - `list` ≡ list_sessions (py:138-152): (phone, created_at,
  *    last_used) ORDER BY last_used DESC.
  *  - `expire`: retention sweep over last_used — the natural policy
  *    the reference's last_used column exists to feed.
  *
  * Timestamps are caller-supplied epoch millis: deterministic under
  * test, and a deployment passes its own clock.
  *
  * Scale shape: a session table is a small dimension (one row per
  * phone). Every mutation is a keyed filter + union — no shuffle at
  * all until a join consumes it, where it broadcasts. Persistence
  * is the index two-rename swap (`graft.IndexStore.swapDir`), so a
  * crash mid-persist never loses the live store.
  */
object SessionStore {

  /** The reference's sessions row (session_manager.py:50-57). */
  final case class Session(phone: String, session_data: String,
                           created_at_ms: Long, last_used_ms: Long)

  def empty(spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    spark.emptyDataset[Session]
  }

  /** INSERT OR REPLACE: the whole row is replaced — created_at and
    * last_used both become `nowMs` (see the lifecycle note above).
    */
  def save(store: Dataset[Session], phone: String, sessionData: String,
           nowMs: Long): Dataset[Session] = {
    import store.sparkSession.implicits._
    store.filter(_.phone != phone)
      .union(store.sparkSession.createDataset(
        Seq(Session(phone, sessionData, nowMs, nowMs))))
  }

  /** Read half of get_session: the stored string, if any. A single
    * keyed lookup — the filter pushes to the parquet scan on a
    * loaded store.
    */
  def get(store: Dataset[Session], phone: String): Option[String] =
    store.filter(_.phone == phone).take(1).headOption.map(_.session_data)

  /** Write half of get_session's hit path: bump last_used, preserve
    * created_at and the data. A miss is a no-op, like the reference's
    * UPDATE matching zero rows.
    */
  def touch(store: Dataset[Session], phone: String, nowMs: Long): Dataset[Session] = {
    import store.sparkSession.implicits._
    store.map(s => if (s.phone == phone) s.copy(last_used_ms = nowMs) else s)
  }

  def delete(store: Dataset[Session], phone: String): Dataset[Session] =
    store.filter(_.phone != phone)

  /** list_sessions: (phone, created_at, last_used), most recently
    * used first; phone breaks timestamp ties so the order is total.
    */
  def list(store: Dataset[Session]): DataFrame =
    store.select(col("phone"), col("created_at_ms"), col("last_used_ms"))
      .orderBy(col("last_used_ms").desc, col("phone"))

  /** Retention sweep: drop sessions not used since `cutoffMs`. */
  def expire(store: Dataset[Session], cutoffMs: Long): Dataset[Session] =
    store.filter(_.last_used_ms >= cutoffMs)

  def load(spark: SparkSession, path: String): Dataset[Session] = {
    import spark.implicits._
    if (IndexStore.restoreDir(spark, path, "sessions"))
      spark.read.parquet(s"$path/sessions").as[Session]
    else empty(spark)
  }

  /** Persist through the two-rename swap: a crash mid-write leaves the
    * live store untouched; a crash between renames leaves it parked,
    * healed by the next `load`/`persist`.
    */
  def persist(store: Dataset[Session], path: String): Unit =
    IndexStore.swapDir(store.sparkSession, path, "sessions") { tmp =>
      store.coalesce(1).write.mode("overwrite").parquet(tmp)
    }
}
