package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Main.obj

/** In-memory span and event recorder, written out when the run ends.
  *
  * Harness spans (request → module call → action) are recorded around
  * the benchmark's own calls while `enabled`. With `listeners` on (the
  * traced run) Spark jobs, stages and query-planning phases are
  * recorded too; `run.py` links them to requests through the job group
  * the harness sets and through time containment. The streaming
  * progress listener is always installed: the micro-batch latencies
  * of the untraced run come from it.
  */
final class Tracer(spark: SparkSession, listeners: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  def epochMs(nano: Long): Double = baseEpochMs + (nano - baseNano) / 1e6

  @volatile var enabled = false

  final class Span(val req: String, val layer: String, val name: String, val parent: Span) {
    val id: Int = Tracer.this.synchronized { nextId += 1; nextId }
    val start: Long = System.nanoTime()
    var end: Long = 0L
  }
  private var nextId = 0
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val events = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()

  def open(req: String, layer: String, name: String, parent: Span): Span =
    if (!enabled) null else new Span(req, layer, name, parent)

  def close(s: Span): Unit = if (s != null) { s.end = System.nanoTime(); spans.add(s) }

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators
      progress.add(obj(
        "run" -> p.runId.toString, "batch" -> p.batchId,
        "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum))
    }
  })

  if (listeners) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) events.add(obj(
        "ev" -> "job_start", "job" -> e.jobId, "ts_ms" -> e.time,
        "group" -> Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
        "stages" -> e.stageIds))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) events.add(obj(
        "ev" -> "job_end", "job" -> e.jobId, "ts_ms" -> e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
        val s = e.stageInfo
        val m = s.taskMetrics
        events.add(obj(
          "ev" -> "stage", "stage" -> s.stageId, "tasks" -> s.numTasks,
          "start_ms" -> s.submissionTime.getOrElse(0L), "end_ms" -> s.completionTime.getOrElse(0L),
          "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
          "run_ms" -> (if (m == null) 0L else m.executorRunTime),
          "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
          "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
          "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
          "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
          "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit = if (enabled) {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) events.add(obj(
          "ev" -> "plan", "start_ms" -> ph.values.map(_.startTimeMs).min,
          "phases" -> ph.map { case (k, v) => k -> v.durationMs }))
      }
    })
  }

  def finish(out: File): Unit = {
    // let the asynchronous listener buses deliver what is still queued
    Thread.sleep(if (listeners) 1000 else 250)
    def dump(name: String, lines: Iterable[String]): Unit = {
      val w = new PrintWriter(new File(out, name), "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }
    dump("stream.jsonl", progress.asScala)
    dump("events.jsonl", events.asScala)
    dump("spans.jsonl", spans.asScala.map(s => obj(
      "req" -> s.req, "span" -> s.id, "parent" -> Option(s.parent).map(_.id), "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> epochMs(s.start), "end_ms" -> epochMs(s.end))))
  }
}
