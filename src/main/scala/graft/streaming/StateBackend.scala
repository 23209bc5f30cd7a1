package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store backend selection for the streaming operators
  * (SessionizeStream / DedupStream / ReplyChainStream).
  *
  * The default HDFSBackedStateStoreProvider keeps every key's state
  * in executor HEAP with full snapshots to the checkpoint — fine for
  * spec-scale state, wrong for the 100 TB posture where dedup
  * signatures and thread roots are large keyed maps: state competes
  * with shuffle/execution memory and snapshot cost grows with total
  * state. RocksDB (bundled with Spark, rocksdbjni on the classpath)
  * keeps state off-heap on local SSD with incremental (changelog)
  * checkpointing — the standard production choice once state no
  * longer fits comfortably in memory. Changelog checkpointing is off
  * in Spark by default (every batch then uploads a full snapshot), so
  * [[confs]] turns it on with the provider.
  *
  * The provider is a per-query conf read at stream START; call this
  * before `.start()` (it cannot change on a running query — Spark
  * pins the provider in the checkpoint). Spec-verified backend-
  * agnostic: RocksDBStateSpec runs the cross-batch thread-resolution
  * scenario on RocksDB and pins result equality with the default
  * backend and the batch operator.
  */
object StateBackend {
  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** The session confs that select `provider`: the provider class, and
    * for RocksDB its changelog checkpointing.
    */
  def confs(provider: String): Seq[(String, String)] =
    (ProviderKey -> provider) +:
      (if (provider == RocksDBProvider) Seq(ChangelogKey -> "true") else Nil)

  def useRocksDB(spark: SparkSession): Unit =
    confs(RocksDBProvider).foreach { case (k, v) => spark.conf.set(k, v) }

  def useDefault(spark: SparkSession): Unit =
    confs(RocksDBProvider).foreach { case (k, _) => spark.conf.unset(k) }
}
