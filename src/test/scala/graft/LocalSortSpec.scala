package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins `GraftExtensions.LocalSort`: a global sort over a local relation
  * folds into a local relation of the sorted rows, and those rows are
  * the ones Spark's planned sort returns (the same query run with the
  * rule excluded), in the same order. The fold is stable; `SortExec` is
  * not always (its radix sort moves rows past nulls), so the planned
  * sort gets the input position as its last key.
  */
class LocalSortSpec extends AnyFunSuite {
  import TestSpark._

  private val excludedKey = "spark.sql.optimizer.excludedRules"
  private val ruleName = GraftExtensions.LocalSort.ruleName

  private val schema = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("k", IntegerType),
    StructField("arr", ArrayType(IntegerType)),
    StructField("st", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType))))))

  // `pos` is the input position: rows that tie on a sort key must keep
  // it ascending (a stable sort)
  private val rows = Seq(
    (1.5, "b", 2, Seq(3, 1), (1, "q")),
    (Double.NaN, null, 1, Seq(2), (1, null)),
    (-0.0, "a", 2, null, null),
    (0.0, "B", 1, Seq(2, 0), (0, "z")),
    (null, "", 2, Seq(), (1, "a")),
    (Double.NegativeInfinity, "a", 1, Seq(2, 0), (1, "a")),
    (0.0, "b", 2, Seq(3), (0, "z")),
    (Double.NaN, "a", 1, Seq(3, 1), (2, "b")),
    (-0.0, null, 2, Seq(2), (1, null)),
    (null, "a", 1, null, (0, "z"))
  ).zipWithIndex.map { case ((d, s, k, arr, st), pos) =>
    Row(pos, d, s, k, Option(arr).orNull, Option(st).map(t => Row(t._1, t._2)).orNull)
  }

  private def local: DataFrame = spark.createDataFrame(rows.asJava, schema)

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val orders: Seq[(String, Seq[Column])] = Seq(
    "d asc" -> Seq(col("d")),
    "d desc" -> Seq(col("d").desc),
    "d asc nulls last" -> Seq(col("d").asc_nulls_last),
    "d desc nulls first" -> Seq(col("d").desc_nulls_first),
    "s asc" -> Seq(col("s")),
    "s desc nulls first" -> Seq(col("s").desc_nulls_first),
    "k asc (ties)" -> Seq(col("k")),
    "k desc, s asc nulls last" -> Seq(col("k").desc, col("s").asc_nulls_last),
    "arr asc" -> Seq(col("arr")),
    "st desc" -> Seq(col("st").desc),
    "expression key" -> Seq((col("k") * -1).asc, length(col("s")).desc_nulls_last))

  orders.foreach { case (tag, order) =>
    test(s"folded sort ($tag) returns the planned sort's rows in its order, with no job") {
      val folded = local.orderBy(order: _*)
      assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"$tag must fold:\n${folded.queryExecution.optimizedPlan}")
      val (got, jobs) = JobCounter.jobsDuring(spark.sparkContext)(folded.collect().toSeq)
      assert(jobs == 0, s"$tag ran $jobs jobs")
      val planned = withConf(excludedKey, ruleName) {
        val df = local.orderBy(order :+ col("pos"): _*)
        assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]))
        df.collect().toSeq
      }
      // string form: tells -0.0 from 0.0 and compares NaN
      assert(got.map(_.toString) == planned.map(_.toString), s"$tag")
    }
  }

  test("ties keep their input order") {
    val got = local.orderBy(col("k")).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 3, 5, 7, 9, 0, 2, 4, 6, 8))
  }

  test("a sort over a non-local child and a streaming local relation stay as they are") {
    val ranged = spark.range(5).toDF().orderBy(col("id").desc)
    assert(ranged.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]))
    assert(ranged.collect().map(_.getLong(0)).toSeq == Seq(4L, 3L, 2L, 1L, 0L))
    val rel = local.queryExecution.analyzed.collectFirst { case l: LocalRelation => l }.get
    val byK = Seq(SortOrder(rel.output(3), Ascending))
    val streaming = Sort(byK, global = true, rel.copy(isStreaming = true))
    assert(GraftExtensions.LocalSort(streaming) eq streaming)
    val withinPartitions = Sort(byK, global = false, rel)
    assert(GraftExtensions.LocalSort(withinPartitions) eq withinPartitions)
  }
}
