package graft

/** Process-wide ledger of ONE-TIME BUILD work (VERDICT r20 item 4 /
  * r21 item 2): persisted-index builds (IVF/PQ/gram/funnel/knn-graph),
  * Shared.leafFrame computes and other build-once-read-many steps
  * record their wall seconds here, keyed by what was built. Bench
  * drains the ledger into the `build` field of its single
  * `{"metric":"total",...}` stdout line (per-key seconds go to the
  * detail artifact's `builds`) — so the per-query steady-state numbers
  * are verifiably READS: everything one-time is accounted for in its
  * own field instead of hiding in the untimed settling sweep.
  *
  * Accounting only — never on a result path, never persisted.
  */
object BuildLedger {
  /** key -> (seconds, builds) */
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, (Double, Int)]()

  /** Run `f`, charging its wall time to `key` (accumulating: a key
    * rebuilt twice records the sum and a count of 2 — a rebuild is
    * build work too).
    */
  private[graft] def timed[A](key: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      entries.merge(key, (dt, 1), (a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }

  def snapshot(): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    entries.asScala.toSeq.map { case (k, v) => (k, v._1) }
      .sortBy(-_._2)
  }

  /** How many times `key` was built. */
  def builds(key: String): Int = Option(entries.get(key)).fold(0)(_._2)

  def reset(): Unit = entries.clear()
}
