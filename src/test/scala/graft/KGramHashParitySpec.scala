package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two laws that make q64's hashed-gram blocking safe:
  *
  *  1. element law — kgram_hashes(text, k)[i] is EXACTLY
  *     fnv1a64(utf8(kgrams(text, k)[i])): the incremental token-wise
  *     FNV fold reproduces the hash of the concatenated gram string,
  *     so hash equality ⇔ string equality modulo 64-bit collisions;
  *  2. operator law — substringDup with hashedBlocking (the default,
  *     8 bytes/gram on both shuffles) is value-identical to the
  *     string-blocked twin (the DuckDB oracle's spelling) on the
  *     sf0.001 corpus and on an adversarial planted-span corpus.
  *
  * Checked in both codegen and interpreted modes (the r02 lesson:
  * a broken static reference silently demotes a stage).
  */
class KGramHashParitySpec extends AnyFunSuite {
  import TestSpark._

  test("element law: kgram_hashes == fnv1a64 of each kgram string") {
    import spark.implicits._
    val texts = Seq(
      "", "x", "a b", "a b c d e f g h", "a b c d e f g h i j",
      "a  b c d e f g h", " lead b c d e f g h", "trail b c d e f g h ",
      "dup dup dup dup dup dup dup dup dup",
      "múlti byté ünïcode tökens one two three four five")
    for (k <- Seq(1, 2, 3, 8)) {
      val rows = texts.toDF("text")
        .select(expr(s"kgram_hashes(text, $k)").as("h"), expr(s"kgrams(text, $k)").as("g"))
        .collect()
      rows.foreach { r =>
        val hashes = r.getSeq[Long](0)
        val grams = r.getSeq[String](1)
        assert(hashes.length == grams.length, s"k=$k length mismatch")
        hashes.zip(grams).foreach { case (h, g) =>
          val expected = functions.Hashing.fnv1a64(g.getBytes("UTF-8"))
          assert(h == expected, s"k=$k gram '$g': got $h expected $expected")
        }
      }
    }
  }

  test("element law holds interpreted") {
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val rows = Seq("a b c d e f g h i j", "dup dup dup dup dup dup dup dup dup")
        .toDF("text")
        .select(expr("kgram_hashes(text, 8)").as("h"), expr("kgrams(text, 8)").as("g"))
        .collect()
      rows.foreach { r =>
        r.getSeq[Long](0).zip(r.getSeq[String](1)).foreach { case (h, g) =>
          assert(h == functions.Hashing.fnv1a64(g.getBytes("UTF-8")))
        }
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("operator law: hashed blocking ≡ string blocking on sf0.001") {
    val hashed = operators.Dedup.substringDup(spark, dir, k = 8).collect()
    val strings = operators.Dedup.substringDup(spark, dir, k = 8, hashedBlocking = false).collect()
    assert(hashed.toSeq == strings.toSeq)
    assert(hashed.nonEmpty)
  }

  test("operator law on a planted shared-span corpus") {
    import spark.implicits._
    // two docs share an 8-token verbatim passage inside otherwise
    // distinct text; a third doc is clean — coverage must be nonzero
    // for exactly the sharers, identical under both blockings.
    val span = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"$span epsilon zeta eta theta iota"),
      (3L, "nothing in common with anyone at all here okay"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("kgramparity").toString
    try {
      docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val hashed = operators.Dedup.substringDup(spark, tmp, k = 8).collect()
      val strings = operators.Dedup.substringDup(spark, tmp, k = 8, hashedBlocking = false).collect()
      assert(hashed.toSeq == strings.toSeq)
      val byId = hashed.map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(byId(1L) > 0 && byId(2L) > 0, s"sharers must have dup tokens: $byId")
      assert(byId(3L) == 0L, s"clean doc must be uncovered: $byId")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}
