package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native BigramShingles expression must be value-identical to
  * the declarative twin
  *   array_sort(array_distinct(transform(sequence(1, n-1),
  *     i -> concat(tok[i], ' ', tok[i+1]))))
  * over split(text, ' ') — the form the DuckDB oracle mirrors. Parity
  * is checked on adversarial token shapes (empty strings, repeated
  * separators, trailing/leading spaces — split(-1) KEEPS trailing
  * empties) and on the whole sf0.001 corpus, in both codegen and
  * interpreted modes.
  */
class ShinglesParitySpec extends AnyFunSuite {
  import TestSpark._

  private val declarative = {
    val toks = split(col("text"), " ")
    when(size(toks) >= 2,
      array_sort(array_distinct(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))))
      .otherwise(array().cast("array<string>"))
  }

  private def compare(df: org.apache.spark.sql.DataFrame): Unit = {
    val rows = df
      .select(expr("shingles(text)").as("fast"), declarative.as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"fast=${r.getSeq[String](0)} slow=${r.getSeq[String](1)}")
    }
  }

  test("parity on adversarial token shapes") {
    import spark.implicits._
    val texts = Seq(
      "", "x", "a b", "a b c", "a  b", " a b", "a b ", "   ",
      "dup dup dup dup", "a b a b a b", "zz aa zz aa",
      "tab\tand space", "múlti byté ünïcode tökens")
    compare(texts.toDF("text"))
  }

  test("parity on scalacheck-style random strings") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val g = Gen.listOf(Gen.oneOf(
      Gen.oneOf("a", "bb", "wörd", "x y", ""), Gen.alphaNumStr.map(_.take(6))))
      .map(_.mkString(" "))
    val texts = (0 until 200).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
    compare(texts.toDF("text"))
  }

  test("parity on the sf0.001 corpus, codegen and interpreted") {
    val docs = Tables.documents(spark, dir)
    compare(docs)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try compare(docs) finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
