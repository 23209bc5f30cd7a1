package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The streaming operators must be state-BACKEND-agnostic: the same
  * cross-batch resolution on the production RocksDB state store
  * (streaming.StateBackend — off-heap state, incremental
  * checkpoints, the 100 TB posture) as on the default in-memory
  * provider, byte-for-byte.
  */
class RocksDBStateSpec extends AnyFunSuite {
  import TestSpark._
  import streaming.ReplyChainStream._

  test("cross-batch thread resolution on RocksDB == batch pointer jumping") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    streaming.StateBackend.useRocksDB(spark)
    try {
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Msg]
      val q = resolve(spark, stream.toDS(), maxRecent = 8)
        .writeStream.format("memory").queryName("chains_rocksdb").outputMode("append").start()
      stream.addData(Msg(1, 10, None), Msg(1, 11, Some(10)), Msg(2, 11, None))
      q.processAllAvailable()
      stream.addData(Msg(1, 12, Some(11)), Msg(2, 12, Some(11)), Msg(1, 31, Some(30)))
      q.processAllAvailable()
      stream.addData(Msg(1, 13, Some(12)))
      q.processAllAvailable()
      // the provider actually in force for the running query
      val provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      assert(provider.contains("RocksDB"), s"RocksDB must be the active provider: $provider")
      val got = spark.table("chains_rocksdb").as[ThreadOut].collect()
        .map(t => (t.chat_id, t.message_id) -> (t.root_id, t.depth)).toMap
      // changelog checkpointing: batches commit `.changelog` files
      // instead of uploading a full snapshot each
      val root = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.resolvedCheckpointRoot
      val files = org.apache.commons.io.FileUtils.listFiles(
        new java.io.File(new java.net.URI(root).getPath, "state"), null, true).asScala.map(_.getName)
      assert(files.exists(_.endsWith(".changelog")), s"no changelog files under $root/state: $files")
      q.stop()
      val union = Seq(
        (1L, 10L, Option.empty[Long]), (1L, 11L, Some(10L)), (2L, 11L, Option.empty[Long]),
        (1L, 12L, Some(11L)), (2L, 12L, Some(11L)), (1L, 31L, Some(30L)), (1L, 13L, Some(12L)))
        .toDF("chat_id", "message_id", "reply_to_message_id")
      val batch = operators.ReplyChains.threads(union)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got == batch, "RocksDB-backed stream state must equal batch pointer jumping")
    } finally streaming.StateBackend.useDefault(spark)
  }

  test("cross-batch dedup pairs on RocksDB == default backend") {
    import spark.implicits._
    import streaming.DedupStream._
    implicit val sqlCtx = spark.sqlContext
    streaming.StateBackend.useRocksDB(spark)
    try {
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DocIn]
      val q = pairs(spark, stream.toDS())
        .writeStream.format("memory").queryName("dedup_rocksdb").outputMode("append").start()
      stream.addData(
        DocIn(1, "the quick brown fox jumps over the lazy dog every single morning"),
        DocIn(2, "completely unrelated text about spark query planning and shuffles"))
      q.processAllAvailable()
      stream.addData(
        DocIn(4, "the quick brown fox jumps over the lazy dog every single morning"),
        DocIn(6, "completely unrelated text about spark query planning and shuffles"))
      q.processAllAvailable()
      val got = spark.table("dedup_rocksdb").as[DupPair].collect()
        .map(p => (p.doc_a, p.doc_b)).toSet
      q.stop()
      assert(got == Set((1L, 4L), (2L, 6L)),
        s"RocksDB-backed dedup state must find the same cross-batch pairs, got $got")
    } finally streaming.StateBackend.useDefault(spark)
  }

  test("cross-batch sessionization on RocksDB == batch gap clustering") {
    import spark.implicits._
    import streaming.SessionizeStream._
    implicit val sqlCtx = spark.sqlContext
    streaming.StateBackend.useRocksDB(spark)
    try {
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
      val gap = 1000L
      val q = assign(spark, stream.toDS(), gap)
        .writeStream.format("memory").queryName("sess_rocksdb").outputMode("append").start()
      stream.addData(Ev(1, 0, 1), Ev(1, 500, 2), Ev(2, 0, 3))
      q.processAllAvailable()
      stream.addData(Ev(1, 900, 4), Ev(1, 5000, 5), Ev(2, 100, 6))
      q.processAllAvailable()
      val got = spark.table("sess_rocksdb").as[SessOut].collect()
        .map(s => s.event_id -> s.session_id).toMap
      q.stop()
      // user 1: events 1,2,4 within gaps => session 1; event 5 after a
      // 4100ms silence => session 2. user 2: both events session 1.
      assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 2L, 3L -> 1L, 6L -> 1L),
        s"RocksDB-backed session state must span batches, got $got")
    } finally streaming.StateBackend.useDefault(spark)
  }
}
