package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins operators.DupGraph: connected components via min-label
  * propagation + pointer jumping — planted component shapes, long-path
  * convergence inside the O(log n) round bound, and determinism.
  */
class DupGraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)], maxRounds: Int = 30,
                         smallThreshold: Long = 100000L): Map[Long, Long] =
    operators.DupGraph.connectedComponents(edges.toDF("a", "b"), maxRounds, smallThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // every structural shape runs through BOTH routes: the in-JVM
  // union-find (default at these sizes) and the distributed
  // pointer-jumping loop (forced via smallThreshold = 0)
  private def bothRoutes(edges: Seq[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) =
    (components(edges), components(edges, smallThreshold = 0L))

  test("two planted components resolve to their min ids") {
    // {1,2,3} as a path + {10,11} as an edge; transitivity 1-2-3 must
    // merge even though (1,3) is never a pair
    val (small, dist) = bothRoutes(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(small == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(dist == small, "size-based routing must not change the fixpoint")
  }

  test("star and triangle shapes collapse to one rep on both routes") {
    val (star, starD) = bothRoutes(Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)))
    assert(star.values.toSet == Set(1L), s"star must collapse to min id 1: $star")
    assert(starD == star)
    val (tri, triD) = bothRoutes(Seq((7L, 8L), (8L, 9L), (7L, 9L)))
    assert(tri.values.toSet == Set(7L))
    assert(triD == tri)
  }

  test("both routes return identical (id, rep, cluster_size) rows") {
    // two paths, a star and a lone edge: sizes 3, 5 and 2
    val edges = Seq((1L, 2L), (2L, 3L), (20L, 21L), (20L, 22L), (20L, 23L), (24L, 20L), (7L, 9L))
    def rows(threshold: Long) =
      operators.DupGraph.connectedComponents(edges.toDF("a", "b"), smallGraphThreshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val small = rows(100000L)
    assert(small == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (7L, 7L, 2L), (9L, 7L, 2L),
      (20L, 20L, 5L), (21L, 20L, 5L), (22L, 20L, 5L), (23L, 20L, 5L), (24L, 20L, 5L)))
    assert(rows(0L) == small, "the distributed route must size components the same way")
  }

  test("a 64-node path converges within the pointer-jump round bound") {
    // worst-case diameter: plain per-edge propagation would need 63
    // rounds; min-label + path halving must finish inside 30 (the
    // default bound — O(log n) in theory, and the convergence check
    // stops as soon as the label sum is stable). Forced through the
    // DISTRIBUTED loop: this test exists to pin the round bound.
    val path = (0L until 63L).map(i => (i, i + 1))
    val m = components(path, smallThreshold = 0L)
    assert(m.size == 64 && m.values.toSet == Set(0L),
      "all 64 path nodes must resolve to rep 0 within the default round bound")
  }

  test("dupClusters output is deterministic and first-writer-wins") {
    val dir = "/root/testdata/sf0.001"
    val a = operators.DupGraph.dupClusters(spark, dir).collect()
    val b = operators.DupGraph.dupClusters(spark, dir).collect()
    assert(a.sameElements(b), "repeat evaluation must be bit-identical")
    assert(a.nonEmpty)
    a.groupBy(_.getLong(1)).foreach { case (rep, rows) =>
      val ids = rows.map(_.getLong(0))
      assert(ids.min == rep, s"cluster rep must be the min member id: $rep vs ${ids.min}")
      assert(rows.count(_.getBoolean(3)) == 1, "exactly one keeper per cluster")
      assert(rows.forall(_.getLong(2) == ids.length), "cluster_size must match member count")
    }
  }

  test("clusterReps picks the quality-best member, planted and on the corpus") {
    // two verbatim long copies + one one-word-shorter near-dup: all
    // tie on n_pass (mean word length fails for every member), so the
    // canonical must be the LONGER copy with the LOWER doc_id — never
    // the truncated one and never the min-id member by default
    val base = (Seq.fill(16)("the") ++ Seq.fill(16)("a")).mkString(" ")
    val dir = "/fake/dupgraph_reps"
    Tables.registerOverride(spark, dir, "documents", Seq(
      (5L, base + " zz"),                 // 33 words
      (9L, base + " zz"),                 // verbatim twin, higher id
      (2L, base)                          // 32-word near-dup (J = 0.8), min id
    ).toDF("doc_id", "text"))
    val r = operators.DupGraph.clusterReps(spark, dir).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(2L, 5L, 9L), s"one cluster of three: ${r.keySet}")
    assert(r.values.forall(_.getLong(1) == 2L), "cluster identity stays the min label")
    assert(r(5L).getBoolean(5), "canonical = longest doc, lowest id among ties")
    assert(!r(9L).getBoolean(5) && !r(2L).getBoolean(5))
    val rows = operators.DupGraph.clusterReps(spark, TestSpark.dir).collect()
    assert(rows.nonEmpty)
    val ord = Ordering[(Int, Long, Long)]
    rows.groupBy(_.getLong(1)).foreach { case (rep, rs) =>
      assert(rs.count(_.getBoolean(5)) == 1, s"exactly one canonical in cluster $rep")
      val canon = rs.find(_.getBoolean(5)).get
      val key = (r: org.apache.spark.sql.Row) => (r.getInt(3), r.getLong(4), -r.getLong(0))
      assert(rs.forall(x => ord.lteq(key(x), key(canon))),
        s"canonical must maximize (n_pass, wc, -doc_id) in cluster $rep")
    }
  }
}
