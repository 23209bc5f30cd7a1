package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** The one store for every value graft reuses across calls within a
  * session or SparkContext: table handles, collected stream feeds,
  * live streaming queries, converged and leaf-materialized frames,
  * persisted intermediates, and the hand-offs an operator leaves for
  * its next call to release. Each kind of value is a FAMILY (a string
  * name at its call site); the rules below hold for all of them.
  *
  * KEY — `(SparkContext, family, key)`. A family whose validity
  * depends on per-session state (a `Tables.registerOverride` is
  * per-session, and its token is a version counter, not an identity)
  * puts the session into `key`. Frame families ([[leafFrame]]) add
  * their dependency plans' `semanticHash`, so distinct corpora under
  * one logical name coexist instead of evicting each other.
  *
  * VALIDITY — an entry serves a caller only if its freshness `token`
  * equals the caller's (a `Tables.sourceToken` or an index watermark;
  * files regenerated under the same path or a re-registration change
  * it) AND the caller's optional liveness check passes on the value
  * (the query is active, the leaf RDD is still persisted, the
  * CacheManager entry is present, the export file exists, the plans
  * are `sameResult`). An invalid entry is recomputed, never served.
  *
  * ONE COMPUTE PER KEY — a miss computes under a per-key lock taken
  * outside any map-wide lock: concurrent callers of one key get one
  * compute (the losers re-check and hit), callers of other keys never
  * wait, and no Spark job ever runs inside a map bin. [[locked]]
  * exposes the same lock to callers whose whole use of a value must
  * be serialized (a live stream's feed plus read-back).
  *
  * RELEASE — each entry carries the hook its installer gave: unpersist
  * (for [[persist]] only when no other key still serves the same
  * plan), stop a query and drop its view, delete a temp file or
  * scratch root. It runs once, when the entry is superseded by a
  * different value under its key, dropped, or pruned; a failing hook
  * never fails the caller.
  *
  * PRUNE — every access first removes (and releases) the entries of
  * stopped contexts, and their locks, so a JVM cycling sessions pins
  * none of them.
  *
  * RETENTION — one value per key: a token change or a new hand-off
  * replaces the previous value. Keys themselves are never evicted
  * while their context lives: entries under distinct keys (corpora,
  * parameters) coexist, bounded by what the process asks for.
  */
object Shared {

  private final case class Key(sc: SparkContext, family: String, key: Any)

  private final class Entry(val token: String, val value: AnyRef, hook: () => Unit) {
    def release(): Unit = try hook() catch { case NonFatal(_) => () }
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()

  private def prune(): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.sc.isStopped) { it.remove(); e.getValue.release() }
    }
    locks.keySet.removeIf(_.sc.isStopped)
  }

  private def keyOf(spark: SparkSession, family: String, key: Any): Key = {
    prune()
    Key(spark.sparkContext, family, key)
  }

  private def lockOf(k: Key): AnyRef = locks.computeIfAbsent(k, _ => new Object)

  private def install[V <: AnyRef](k: Key, token: String, value: V, release: V => Unit): Unit = {
    val old = entries.put(k, new Entry(token, value, () => release(value)))
    if (old != null && (old.value ne value)) old.release()
  }

  private val noRelease: AnyRef => Unit = _ => ()

  /** The value under `key` if it is valid for `token` and `live`,
    * else `compute` it (once per key, under the key's lock), install
    * it and release the value it supersedes.
    */
  def get[V <: AnyRef](spark: SparkSession, family: String, key: Any, token: String = "",
                       live: V => Boolean = (_: V) => true,
                       release: V => Unit = noRelease)(compute: => V): V = {
    val k = keyOf(spark, family, key)
    def hit: Option[V] = Option(entries.get(k)).collect {
      case e if e.token == token && live(e.value.asInstanceOf[V]) => e.value.asInstanceOf[V]
    }
    hit.getOrElse(lockOf(k).synchronized {
      hit.getOrElse {
        val v = compute
        install(k, token, v, release)
        v
      }
    })
  }

  /** Hand-off: install `value` under `key` unconditionally, releasing
    * the value it supersedes.
    */
  def put[V <: AnyRef](spark: SparkSession, family: String, key: Any, value: V,
                       token: String = "", release: V => Unit = noRelease): Unit = {
    val k = keyOf(spark, family, key)
    lockOf(k).synchronized(install(k, token, value, release))
  }

  /** The current value under `key`, without validity checks or compute. */
  def peek[V <: AnyRef](spark: SparkSession, family: String, key: Any): Option[V] =
    Option(entries.get(keyOf(spark, family, key))).map(_.value.asInstanceOf[V])

  /** Remove the entry under `key` and run its release hook. */
  def drop(spark: SparkSession, family: String, key: Any): Unit = {
    val k = keyOf(spark, family, key)
    lockOf(k).synchronized(Option(entries.remove(k)).foreach(_.release()))
  }

  /** Run `body` under `key`'s compute lock (reentrant: `get` inside it
    * on the same key does not deadlock).
    */
  def locked[R](spark: SparkSession, family: String, key: Any)(body: => R): R =
    lockOf(keyOf(spark, family, key)).synchronized(body)

  /** Release hooks for persisted RDDs: a stopped context has nothing
    * left to unpersist.
    */
  def unpersistRdd(rdd: RDD[_]): Unit =
    if (!rdd.context.isStopped) rdd.unpersist(false)

  // ---------------------------------------------------------- persist

  private val Persisted = "persist"

  private def isCached(spark: SparkSession, df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  /** Unpersist a superseded or dropped copy unless another key still
    * serves the same plan (CacheManager keys on canonicalized plans,
    * so unpersisting it would evict that key's copy too).
    */
  private def releasePersisted(old: DataFrame): Unit = {
    val plan = old.queryExecution.analyzed
    val stillServed = entries.entrySet.stream().anyMatch(e => e.getKey.family == Persisted &&
      e.getValue.value.asInstanceOf[DataFrame].queryExecution.analyzed.sameResult(plan))
    if (!stillServed && !old.sparkSession.sparkContext.isStopped) old.unpersist(false)
  }

  /** One live persisted copy of an intermediate with several readers,
    * per (context, key). A call with a `sameResult` plan whose copy is
    * still in the CacheManager reuses it (an external `clearCache` or
    * eviction falls through); a changed plan persists anew and
    * releases the previous copy. A reused copy serves the data it
    * cached: every in-session source change this repo makes goes
    * through `Tables.registerOverride`, which changes the plan.
    */
  def persist(spark: SparkSession, key: String, df: DataFrame): DataFrame =
    get[DataFrame](spark, Persisted, key,
      live = p => p.queryExecution.analyzed.sameResult(df.queryExecution.analyzed) && isCached(spark, p),
      release = releasePersisted) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The live persisted copy under `key`, without building a candidate
    * plan: the per-micro-batch path (a map probe instead of a fresh
    * `spark.read` and its file listing).
    */
  def persisted(spark: SparkSession, key: String): Option[DataFrame] =
    peek[DataFrame](spark, Persisted, key).filter(isCached(spark, _))

  /** Drop `key`'s copy. Index lifecycles that rewrite files under an
    * unchanged path need this: the canonicalized plan cannot see the
    * new file listing, so the cached copy would serve pre-rewrite rows.
    */
  def unpersist(spark: SparkSession, key: String): Unit = drop(spark, Persisted, key)

  // ------------------------------------------------------- leaf frames

  /** `df` cut to a LEAF: a frame over a `LogicalRDD` of `df`'s own
    * internal rows, persisted MEMORY_AND_DISK, plus that RDD for the
    * caller to release. It counts nothing: the rows are computed and
    * cached by the first action that reads them. Under AQE the cut
    * itself runs `df`'s shuffle stages, one job each, whose statistics
    * plan the final one (SharedLeafFrameSpec pins it).
    *
    * Every iterative step (connected components, reply-thread pointer
    * jumping, NN-descent rounds, the graph walk) and every shared
    * serving frame cuts here. persist() alone does not stop the
    * LOGICAL plan from doubling per round (each round's self-join
    * embeds two copies of the previous round's plan, so ~30 rounds
    * OOM just building the tree, and every action re-analyzes it);
    * a leaf keeps each consumer's plan O(1) per round. The RDD
    * lineage underneath stays intact, so a lost block is recomputed
    * through it, which is the fault-tolerance `localCheckpoint` gives
    * up. The rows stay InternalRow end to end: no Row encoder pass
    * out and back in.
    */
  def leaf(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rows = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    (org.apache.spark.sql.classic.LeafFrame.of(df, rows), rows)
  }

  private final case class Planned[V](plans: Seq[LogicalPlan], value: V)

  /** One value per (context, family, key, dependency plans): a hit
    * needs the token, plan-for-plan `sameResult` with `deps`, and
    * `live` on the value. The frame form is [[leafFrame]]; a value
    * computed on the driver from those plans (operators.PQ's codebooks)
    * uses this one directly.
    */
  def planned[V <: AnyRef](spark: SparkSession, family: String, key: String, deps: Seq[DataFrame],
                           token: String = "", live: V => Boolean = (_: V) => true,
                           release: V => Unit = noRelease)(compute: => V): V = {
    val depPlans = deps.map(_.queryExecution.analyzed)
    get[Planned[V]](spark, family, key + ":" + depPlans.map(_.semanticHash()).mkString(","), token,
      live = p => p.plans.length == depPlans.length &&
        p.plans.zip(depPlans).forall { case (a, b) => a.sameResult(b) } && live(p.value),
      release = p => release(p.value))(Planned(depPlans, compute)).value
  }

  /** One live LEAF-MATERIALIZED copy of an expensive shared frame per
    * (context, key, dependency plans): the eager computations (descent
    * loops, Lloyd rounds, bucket collects) whose consumers should see
    * an O(1)-size plan. A CacheManager copy carries the producer's
    * full physical plan inside its InMemoryRelation, which every
    * consumer re-traverses and re-serializes per AQE stage (the
    * driver-gap pathology on q93/q92g); a [[leaf]] plus an eager count
    * is materialized before any hand-off can invalidate its backing.
    *
    * A hit needs what [[planned]] checks and the leaf RDD still
    * persisted. The leaf keeps its RDD lineage,
    * but recompute-on-loss is not guaranteed: producers whose lineage
    * reads hand-off-owned scratch (the leaf-mode descent's round
    * parquet) cannot replay once the next descent deletes it, so a
    * lost block surfaces as a missing-file error. MEMORY_AND_DISK makes
    * that an executor-death event, which the single-JVM processes this
    * store targets do not survive anyway; a cluster deployment must
    * write shared frames to durable storage or accept
    * fail-and-recompute-at-caller semantics.
    */
  def leafFrame(spark: SparkSession, key: String, deps: Seq[DataFrame], token: String = "")
               (compute: => DataFrame): DataFrame =
    planned[(DataFrame, RDD[InternalRow])](spark, "leafFrame", key, deps, token,
      live = _._2.getStorageLevel != StorageLevel.NONE,
      release = l => unpersistRdd(l._2)) {
      BuildLedger.timed(s"sharedLeaf:$key") {
        val (f, rdd) = leaf(compute)
        rdd.count()
        (f, rdd)
      }
    }._1
}
