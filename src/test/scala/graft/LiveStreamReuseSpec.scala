package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r22 long-lived-stream harness (StreamHarness.liveStream /
  * runReused, VERDICT r21 item 5): for every CONVERTED entry,
  * (1) the reuse path's FIRST invocation equals the per-invocation
  *     start/stop protocol's result row-for-row, and
  * (2) repeat invocations on the live query return the identical
  *     rows again — re-fed input collapses to run 0's result by the
  *     per-entry argument documented on `Live` (re-delivery guards /
  *     deterministic re-emission + distinct / event-time shift).
  * The protected state-restore entries (q80, q83, q83d) never take
  * the reuse path and stay pinned by GraftSpec's slicing laws.
  */
class LiveStreamReuseSpec extends AnyFunSuite {
  import TestSpark._
  import streaming.StreamHarness

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def pinReuse(tag: String)(fresh: => org.apache.spark.sql.DataFrame,
                                    reused: => org.apache.spark.sql.DataFrame): Unit = {
    val want = rows(fresh)
    val r1 = rows(reused)
    assert(r1 == want, s"$tag: reuse invocation 1 != start/stop protocol result")
    val r2 = rows(reused)
    assert(r2 == want, s"$tag: reuse invocation 2 != invocation 1")
    val r3 = rows(reused)
    assert(r3 == want, s"$tag: reuse invocation 3 != invocation 1")
  }

  test("q80c/q80d shape: sessions reuse ≡ start/stop, repeat-invariant (flatMap + native)") {
    pinReuse("sessions-flatmap")(
      StreamHarness.streamSessions(spark, dir),
      StreamHarness.streamSessions(spark, dir, reuse = true))
    pinReuse("sessions-native")(
      StreamHarness.streamSessions(spark, dir, native = true),
      StreamHarness.streamSessions(spark, dir, native = true, reuse = true))
  }

  test("q83b shape: dedup pairs reuse ≡ start/stop, repeat-invariant") {
    pinReuse("dedup-pairs")(
      StreamHarness.streamDedup(spark, dir),
      StreamHarness.streamDedup(spark, dir, reuse = true))
  }

  test("q83c: signature screen reuse ≡ start/stop, repeat-invariant") {
    pinReuse("dedup-signature")(
      StreamHarness.streamDedupSignature(spark, dir),
      StreamHarness.streamDedupSignature(spark, dir, reuse = true))
  }

  test("q84: decontam gate reuse ≡ start/stop, repeat-invariant (multi-slice)") {
    pinReuse("decontam")(
      StreamHarness.streamDecontam(spark, dir, nBatches = 3),
      StreamHarness.streamDecontam(spark, dir, nBatches = 3, reuse = true))
  }

  test("q85: thread resolution reuse ≡ start/stop, repeat-invariant (multi-slice)") {
    pinReuse("threads")(
      StreamHarness.streamThreads(spark, dir, nBatches = 3),
      StreamHarness.streamThreads(spark, dir, nBatches = 3, reuse = true))
  }

  test("q85b: every invocation up to LiveRuns + 1, across the restart, ≡ invocation 1") {
    val rocks = Some(streaming.StateBackend.RocksDBProvider)
    def call() = rows(StreamHarness.streamThreads(spark, dir, provider = rocks, reuse = true))
    val first = call()
    assert(first == rows(StreamHarness.streamThreads(spark, dir, provider = rocks)),
      "q85b invocation 1 != start/stop protocol result")
    (2 to StreamHarness.LiveRuns + 1).foreach { k =>
      assert(call() == first, s"q85b invocation $k != invocation 1")
    }
  }

  test("q89: windowed counts reuse ≡ start/stop, repeat-invariant (multi-slice)") {
    pinReuse("windowed")(
      StreamHarness.streamWindowed(spark, dir, nBatches = 3),
      StreamHarness.streamWindowed(spark, dir, nBatches = 3, reuse = true))
  }

  test("q91: ann gate reuse ≡ start/stop, repeat-invariant (multi-slice)") {
    pinReuse("ann-gate")(
      StreamHarness.streamAnnGate(spark, dir, nBatches = 3),
      StreamHarness.streamAnnGate(spark, dir, nBatches = 3, reuse = true))
  }
}
