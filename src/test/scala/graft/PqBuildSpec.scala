package graft

import graft.operators.PQ
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The frame-at-a-time PQ build that the driver-held books and the
  * `pq_encode` kernel replaced, kept verbatim: subvectors exploded per
  * (vec_id, s), seeds by a (s, residue) window, Lloyd rounds as
  * broadcast-joined `l2_sq` rows reduced by `min_by`, a localCheckpoint
  * per round, and codes re-assembled by `collect_list`. PqBuildSpec
  * holds the new build to its output bit for bit.
  */
object PqReference {

  /** (vec_id, s, sv): vector split into m contiguous subvectors. */
  private def subvectors(e: DataFrame, m: Int, dims: Int): DataFrame = {
    val dsub = dims / m
    e.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("vec_id"), col("s"),
        slice(col("embedding"), col("s") * dsub + 1, lit(dsub)).as("sv"))
  }

  def codebooks(spark: SparkSession, e: DataFrame, m: Int, kCodes: Int,
                dims: Int, iters: Int): DataFrame = {
    val dsub = dims / m
    val subs = subvectors(e, m, dims)
    val grid = spark.range(m).select(col("id").cast("int").as("s"))
      .crossJoin(spark.range(kCodes).select(col("id").cast("int").as("code")))
    val sentinel = array_repeat(lit(Float.MaxValue), lit(dsub)).cast("array<float>")
    val seedW = Window.partitionBy(col("s"), pmod(col("vec_id"), lit(kCodes))).orderBy("vec_id")
    val seeds = subs.withColumn("rn", row_number().over(seedW)).filter(col("rn") === 1)
      .select(col("s"), pmod(col("vec_id"), lit(kCodes)).cast("int").as("code"),
        col("sv").as("cvec"))
    var books = grid.join(seeds, Seq("s", "code"), "left")
      .select(col("s"), col("code"), coalesce(col("cvec"), sentinel).as("cvec"))
    for (_ <- 1 to iters) {
      val a = assign(subs, books)
      val refined = subs.join(a, Seq("vec_id", "s"))
        .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("s", "code", "pos")
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(20, 10))).cast("double")
          / count(lit(1))).as("c"))
        .groupBy("s", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).cast("array<float>").as("cvec"))
      books = grid.join(refined, Seq("s", "code"), "left")
        .join(books.withColumnRenamed("cvec", "prev"), Seq("s", "code"), "left")
        .select(col("s"), col("code"), coalesce(col("cvec"), col("prev")).as("cvec"))
        .localCheckpoint(true)
    }
    books
  }

  private def assign(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "s")
      .withColumn("d", expr("l2_sq(sv, cvec)"))
      .groupBy("vec_id", "s")
      .agg(expr("min_by(code, struct(d, code))").as("code"))

  def encode(spark: SparkSession, e: DataFrame, books: DataFrame,
             m: Int, dims: Int): DataFrame =
    assign(subvectors(e, m, dims), books)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
}

/** The row-at-a-time PQ build (books on the driver, one `pq_encode`
  * kernel) equals the frame-at-a-time build it replaced, bit for bit:
  * every codeword float and every code, across parameter sets, both
  * DENSITY INVARIANT cases, and the corpus read as 1 and as 8
  * partitions.
  */
class PqBuildSpec extends AnyFunSuite {
  import TestSpark._

  private def base: DataFrame = Tables.embeddings(spark, dir).select("vec_id", "embedding")

  /** (s, code) → codeword component bits. */
  private def bookBits(books: DataFrame): Map[(Int, Int), Seq[Int]] =
    books.collect().map(r => (r.getInt(0), r.getInt(1)) ->
      r.getSeq[Float](2).map(java.lang.Float.floatToRawIntBits)).toMap

  private def codesOf(codes: DataFrame): Map[Long, Seq[Int]] =
    codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  /** Builds both ways over `e`; returns the new books and codes after
    * asserting them equal to the reference's.
    */
  private def same(e: DataFrame, m: Int, kCodes: Int, iters: Int, what: String)
      : (graft.functions.PqBooks, Map[Long, Seq[Int]]) = {
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    val refBooks = PqReference.codebooks(spark, e, m, kCodes, dims, iters)
    val books = PQ.codebooks(e, m, kCodes, iters)
    val want = bookBits(refBooks)
    assert(want.size == m * kCodes, s"$what: the reference grid")
    assert(bookBits(PQ.booksFrame(spark, books)) == want, s"$what: books")
    val codes = codesOf(PQ.encode(e, books))
    assert(codes == codesOf(PqReference.encode(spark, e, refBooks, m, dims)), s"$what: codes")
    (books, codes)
  }

  Seq((8, 16, 0), (8, 16, 1), (8, 16, 2), (4, 32, 1), (16, 8, 1)).foreach { case (m, k, it) =>
    test(s"m=$m kCodes=$k iters=$it: books and codes equal the reference, 1 and 8 partitions") {
      same(base.coalesce(1), m, k, it, "1 partition")
      same(base.repartition(8, col("vec_id")), m, k, it, "8 partitions")
    }
  }

  test("kCodes above the distinct residues: unseeded codes stay far-point sentinels") {
    val e = base.filter(col("vec_id") < 3)
    Seq(0, 1, 2).foreach { it =>
      val (books, codes) = same(e.repartition(8, col("vec_id")), 8, 16, it, s"iters=$it")
      assert((3 until 16).forall(c => (0 until 8).forall(s =>
        books.words.slice(books.at(s, c), books.at(s, c) + books.dsub).forall(_ == Float.MaxValue))))
      assert(codes.values.flatten.forall(_ < 3))
    }
  }

  test("a starved codeword keeps its previous codeword") {
    // vec 1 is vec 0's twin: code 1's seed ties code 0 in every
    // subspace, the tie goes to code 0, and code 1 never gains a member
    val twin = base.filter(col("vec_id") === 0).select(lit(1L).as("vec_id"), col("embedding"))
    val e = base.filter(col("vec_id") =!= 1).unionByName(twin)
    val seed = PQ.codebooks(e, 8, 16, 0)
    assert(codesOf(PQ.encode(e, seed)).values.forall(!_.contains(1)), "round 1 starves code 1")
    def word(b: graft.functions.PqBooks, s: Int, c: Int) = b.words.slice(b.at(s, c), b.at(s, c) + b.dsub).toSeq
    val (books, _) = same(e.coalesce(1), 8, 16, 1, "iters=1")
    assert((0 until 8).forall(s => word(books, s, 1) == word(seed, s, 1)),
      "the starved codeword carries its seed forward")
    same(e.repartition(8, col("vec_id")), 8, 16, 2, "iters=2")
  }

  test("pq_encode: interpreted eval equals codegen; a wrong embedding length fails") {
    val books = PQ.codebooks(base, 8, 16, 1)
    val codegen = codesOf(PQ.encode(base, books))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(codesOf(PQ.encode(base, books)) == codegen) finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val short = base.select(col("vec_id"), slice(col("embedding"), 1, 63).as("embedding"))
    val err = intercept[Exception](PQ.encode(short, books).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("pq_encode: embedding length 63")))
  }

  test("a second PQ build over a new corpus compiles no new class") {
    def corpus(e: DataFrame): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_pq_codegen_").toString
      e.write.parquet(s"$d/embeddings.parquet")
      d
    }
    def build(d: String): Unit = PQ.buildIndex(spark, d, s"$d/pq")
    build(corpus(Tables.embeddings(spark, dir)))
    val other = corpus(Tables.embeddings(spark, dir).filter(col("vec_id") % 2 === 0))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    build(other)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the books are a reference object, never generated code")
  }
}
