package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins q64b's steady-state contract: the incremental spelling (delta
  * text + persisted gram index, old corpus never re-read) is
  * value-identical to the full q64 recompute restricted to the delta,
  * and the index obeys the watermark laws (fresh after build, stale
  * on a build-param change).
  */
class GramIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def deleteIndex(path: String): Unit = {
    // the index path is a file: URI (warehouse-derived) — java.io.File
    // silently no-ops on those; delete through the Hadoop filesystem
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("q64b == q64 restricted to the delta docs") {
    val path = operators.Dedup.GramIndex.path(spark, dir)
    deleteIndex(path)
    val incr = operators.Dedup.substringDupIncremental(spark, dir).collect()
    val full = operators.Dedup.substringDup(spark, dir)
      .filter(col("doc_id") % 16 === 0).collect()
    assert(incr.toSeq == full.toSeq,
      "delta-only scan + gram index must equal the full recompute on the delta")
    assert(incr.nonEmpty)
  }

  test("index freshness: fresh after build, stale on param change") {
    val path = operators.Dedup.GramIndex.path(spark, dir)
    // built by the previous test or this call
    operators.Dedup.substringDupIncremental(spark, dir).collect()
    assert(operators.Dedup.GramIndex.index(k = 8, deltaMod = 16).fresh(spark, dir, path))
    assert(!operators.Dedup.GramIndex.index(k = 4, deltaMod = 16).fresh(spark, dir, path),
      "a different k must read as stale")
    assert(!operators.Dedup.GramIndex.index(k = 8, deltaMod = 8).fresh(spark, dir, path),
      "a different deltaMod changes which docs are old — stale")
    deleteIndex(path)
  }
}
