package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins operators.Curation.FunnelIndex + funnelDeltaIndexed (q79b):
  * the persisted corpus blocking frame must change the PLAN (probe a
  * stored index instead of re-deriving corpus frames from text),
  * never the ANSWER — and the steady state must READ the index, not
  * rebuild it.
  */
class FunnelIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def successMtime(sub: String): Long = {
    val p = operators.Curation.FunnelIndex.path(spark, TestSpark.dir)
    new java.io.File(s"$p/$sub/_SUCCESS").lastModified()
  }

  test("indexed delta funnel == full recompute, row for row") {
    val full = operators.Curation.funnelDelta(spark, TestSpark.dir).collect().toSeq
    val idx = operators.Curation.funnelDeltaIndexed(spark, TestSpark.dir).collect().toSeq
    assert(idx == full, "the index may change the plan, never the verdicts")
    assert(full.nonEmpty)
  }

  test("second probe reads the index, never rebuilds it") {
    operators.Curation.funnelDeltaIndexed(spark, TestSpark.dir).collect()
    val t1 = Seq("hashes", "shingles", "benchgrams").map(successMtime)
    operators.Curation.funnelDeltaIndexed(spark, TestSpark.dir).collect()
    val t2 = Seq("hashes", "shingles", "benchgrams").map(successMtime)
    assert(t1 == t2, "a fresh index must be read, not rebuilt (steady-state contract)")
  }

  test("probe scan partition-prunes to the probed shingle buckets") {
    // the only corpus-sized frame in the probe is the bucketed shingle
    // read; its scan must carry a pblk partition filter so non-probed
    // buckets' files never open
    operators.Curation.funnelDeltaIndexed(spark, TestSpark.dir).collect() // ensure built
    assertStaticPrune(operators.Curation.funnelDeltaIndexed(spark, TestSpark.dir)
      .queryExecution.executedPlan.toString, "pblk")
  }

  test("changed params or source mark the index stale; same params stay fresh") {
    val path = operators.Curation.FunnelIndex.path(spark, TestSpark.dir)
    operators.Curation.funnelDeltaIndexed(spark, TestSpark.dir).collect()
    assert(operators.Curation.FunnelIndex.index(16, 97, 64).fresh(spark, TestSpark.dir, path))
    assert(!operators.Curation.FunnelIndex.index(16, 97, 32).fresh(spark, TestSpark.dir, path),
      "nBuckets is part of the index identity (it shapes the layout)")
    assert(!operators.Curation.FunnelIndex.index(8, 97, 64).fresh(spark, TestSpark.dir, path),
      "deltaMod decides which docs are 'old' — it changes index CONTENT")
  }
}
