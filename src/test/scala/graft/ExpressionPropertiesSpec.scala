package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the custom expressions: the codegen path (via
  * DataFrame evaluation) must agree with independent Scala reference
  * implementations on arbitrary inputs — the eval/doGenCode pair is
  * the most custom code in the engine and a silent divergence would
  * poison every vector/dedup operator.
  */
class ExpressionPropertiesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Deterministic sample stream from a Gen (no forAll bridge in the
    * offline dep cache; all pairs evaluate in ONE Spark job so the
    * property check stays fast).
    */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val floatArr = Gen.listOfN(16, Gen.chooseNum(-10f, 10f)).map(_.toArray)

  test("cosine_sim codegen == double-accumulation reference on arbitrary vectors") {
    val pairs = samples(floatArr, 40).grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val got = pairs.toDF("a", "b").selectExpr("a", "b", "cosine_sim(a, b) AS s")
      .collect().map(r => r.getDouble(2))
    pairs.zip(got).foreach { case ((a, b), g) =>
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y.toDouble; nx += x.toDouble * x.toDouble; ny += y.toDouble * y.toDouble
      }
      val want = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
      assert(g == want, s"a=${a.toSeq} b=${b.toSeq}")
    }
  }

  private val strArr =
    Gen.listOf(Gen.oneOf("a", "b", "cc", "d e", "ff", "g", "hh", "i")).map(_.distinct.sorted.toArray)

  test("intersect_count_sorted codegen == Set-intersection reference") {
    val pairs = samples(strArr, 60).grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val got = pairs.toDF("a", "b").selectExpr("a", "b", "intersect_count_sorted(a, b) AS c")
      .collect().map(_.getInt(2))
    pairs.zip(got).foreach { case ((a, b), g) =>
      assert(g == a.toSet.intersect(b.toSet).size, s"a=${a.toSeq} b=${b.toSeq}")
    }
  }

  test("hash expressions: generated code and interpreted eval produce identical bits") {
    val texts = (1 to 50).map(i => s"doc $i word${i % 7} tail${i % 3}")
    val df = texts.toDF("text")
      .selectExpr("text", "fingerprint64(text) AS fp",
        "simhash(split(text, ' ')) AS sh", "minhash(split(text, ' '), 16) AS mh")
    def run(): Seq[(Long, Long, Seq[Long])] =
      df.collect().map(r => (r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toSeq
    // CODEGEN_ONLY + fallback off: a doGenCode that fails to compile
    // must FAIL here, not silently demote to the interpreted path
    // (regression: generated code referenced Hashing.MODULE$, every
    // suite stayed green while production ran interpreted)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val codegen = try run() finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(codegen == interpreted)
  }

  test("sign_bits: codegen == interpreted == plain-Scala planes reference") {
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 40).map(_ => Array.fill(64)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("v").selectExpr("v", "sign_bits(v, 32) AS sig")
    def run(): Seq[Long] = df.collect().map(_.getLong(1)).toSeq
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val codegen = try run() finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val reference = vecs.map { v =>
      val planes = functions.Hashing.planes(32, 64)
      (0 until 32).foldLeft(0L) { (sig, b) =>
        val dot = v.indices.foldLeft(0.0)((a, d) => a + v(d).toDouble * planes(b)(d))
        if (dot >= 0.0) sig | (1L << b) else sig
      }
    }
    assert(codegen == interpreted && codegen == reference)
  }

  test("minhash signature: equal sets share all bands, similarity tracks jaccard direction") {
    val base = (1 to 40).map(i => s"sh$i").toArray
    val near = base.drop(2) ++ Array("x1", "x2") // jaccard ~0.9
    val far = (100 to 140).map(i => s"zz$i").toArray
    val df = Seq(("base", base), ("same", base), ("near", near), ("far", far)).toDF("id", "sh")
      .selectExpr("id", "minhash(sh, 32) AS sig")
    val sigs = df.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("base") == sigs("same"), "identical sets must hash identically")
    def agree(x: Seq[Long], y: Seq[Long]) = x.zip(y).count { case (p, q) => p == q }
    assert(agree(sigs("base"), sigs("near")) > agree(sigs("base"), sigs("far")),
      "signature agreement must order by similarity")
  }

  test("simhash: hamming(base, near) < hamming(base, far)") {
    val base = (1 to 40).map(i => s"sh$i").toArray
    val near = base.drop(2) ++ Array("x1", "x2")
    val far = (100 to 140).map(i => s"zz$i").toArray
    val sigs = Seq(("base", base), ("near", near), ("far", far)).toDF("id", "sh")
      .selectExpr("id", "simhash(sh) AS sig").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sigs("base"), sigs("near")) < ham(sigs("base"), sigs("far")))
  }

  test("l2_sq codegen == double-accumulation reference; length mismatch throws in both modes") {
    val pairs = samples(floatArr, 40).grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    def run(): Seq[Double] = pairs.toDF("a", "b")
      .selectExpr("l2_sq(a, b) AS d").collect().map(_.getDouble(0)).toSeq
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(codegen == interpreted)
    pairs.zip(codegen).foreach { case ((a, b), g) =>
      var d = 0.0
      a.zip(b).foreach { case (x, y) => val t = x.toDouble - y.toDouble; d += t * t }
      assert(g == d, s"a=${a.toSeq} b=${b.toSeq}")
    }
    // the ADVICE-r08 guard: a dims/m slicing bug upstream must fail
    // loudly, not truncate into plausible-but-wrong distances
    def mismatch(): Unit = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
      .selectExpr("l2_sq(a, b) AS d").collect()
    assert(intercept[Exception](mismatch()).getMessage.contains("length mismatch"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(intercept[Exception](mismatch()).getMessage.contains("length mismatch"))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("pq_adc: arbitrary dense LUTs replay in plain Scala; layout violations throw, both modes") {
    val codeGen = Gen.listOfN(8, Gen.chooseNum(0, 15)).map(_.toArray)
    val lutGen = Gen.listOfN(128, Gen.chooseNum(-100.0, 100.0)).map(_.toArray)
    val rows = samples(codeGen, 20).zip(samples(lutGen, 20))
    def run(): Seq[Double] = rows.toDF("codes", "lut")
      .selectExpr("pq_adc(codes, lut, 16) AS d").collect().map(_.getDouble(0)).toSeq
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(codegen == interpreted)
    rows.zip(codegen).foreach { case ((codes, lut), g) =>
      val want = codes.zipWithIndex.map { case (c, s) => lut(s * 16 + c) }.sum
      assert(g == want)
    }
    // guards: a short LUT and an out-of-range code both indicate a
    // missing codebook row upstream — every later slot would shift
    def bad(codes: Array[Int], lut: Array[Double]): Unit =
      Seq((codes, lut)).toDF("codes", "lut").selectExpr("pq_adc(codes, lut, 16) AS d").collect()
    assert(intercept[Exception](bad(Array(0, 1), Array.fill(16)(0.0)))
      .getMessage.contains("lut has"))
    assert(intercept[Exception](bad(Array(0, 16), Array.fill(32)(0.0)))
      .getMessage.contains("out of range"))
  }
}
