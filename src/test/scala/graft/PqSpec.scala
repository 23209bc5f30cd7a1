package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins operators.PQ's laws: identical vectors get identical codes
  * (quantization is a pure function of the vector), the native
  * pq_adc kernel equals its declarative HOF twin bit-for-bit, codes
  * have the contracted shape, and ADC ranking keeps a measured
  * recall floor against the EXACT top-k in the same (L2) metric —
  * quantization loss only, no metric mismatch in the measurement.
  */
class PqSpec extends AnyFunSuite {
  import TestSpark._

  test("identical vectors encode to identical codes; codes have length m") {
    import spark.implicits._
    val tdir = "/fake/pq_dup"
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // plant vec 0's embedding again under a high id
    val dup = base.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Tables.registerOverride(spark, tdir, "embeddings", base.unionAll(dup))
    val e = Tables.embeddings(spark, tdir).select("vec_id", "embedding")
    val books = operators.PQ.codebooks(e, m = 8, kCodes = 16, iters = 1)
    val codes = operators.PQ.encode(e, books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(_.length == 8), "m codes per vector")
    assert(codes(0L) == codes(1000000L), "identical vectors must quantize identically")
  }

  test("native pq_adc == declarative lookup-sum twin (codegen and interpreted)") {
    import spark.implicits._
    val codes = Seq(
      (Seq(0, 1, 2, 3, 4, 5, 6, 7), (0 until 128).map(_.toDouble * 0.25)),
      (Seq(15, 15, 15, 15, 15, 15, 15, 15), (0 until 128).map(i => 1.0 / (i + 1))),
      (Seq(3, 0, 9, 12, 7, 1, 14, 2), (0 until 128).map(i => math.sin(i.toDouble))))
      .toDF("codes", "lut")
    // NB: [] on arrays (GetArrayItem) is 0-based in Spark SQL;
    // element_at is the 1-based one
    val twin = expr(
      "aggregate(transform(sequence(0, size(codes) - 1), s -> lut[s * 16 + codes[s]]), 0D, (acc, x) -> acc + x)")
    def check(): Unit = codes.select(expr("pq_adc(codes, lut, 16)").as("fast"), twin.as("slow"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    check()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("ADC top-10 keeps a recall floor vs exact L2 top-10 (quantization loss only)") {
    val pq = operators.PQ.pqTopK(spark, dir, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d"), col("vec_id"))
    val exact = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d", expr("l2_sq(embedding, qvec)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    // 64-d STRUCTURELESS random floats are PQ's worst case (the same
    // floor logic as the IVF recall probes); clustered real
    // embeddings quantize far tighter. Deterministic — no RNG.
    assert(recall >= 0.3, f"PQ recall@10 vs exact L2: $recall%.3f")
    assert(pq.size == exact.size)
  }

  test("IVF-PQ: pairs shared with the full PQ scan carry identical ADC values") {
    val full = operators.PQ.pqTopK(spark, dir, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = operators.PQ.ivfPqTopK(spark, dir, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty)
    val shared = ivf.keySet.intersect(full.keySet)
    assert(shared.nonEmpty, "probed cells must recover part of the full-scan top-k")
    shared.foreach(p => assert(ivf(p) == full(p),
      s"same pair, same codes, same LUT => same ADC: $p"))
    // sanity: at most one row per (query, vector) — top-1 cell assign
    assert(ivf.size == ivf.keySet.size)
  }

  test("IVF-PQ recovers an identical twin: equal vectors co-assign and co-encode") {
    import spark.implicits._
    val tdir = "/fake/ivfpq_twin"
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val twin = base.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Tables.registerOverride(spark, tdir, "embeddings", base.unionAll(twin))
    val r = operators.PQ.ivfPqTopK(spark, tdir, k = 10, nQueries = 1).collect()
    // identical vectors rank cells identically, so the twin's cell IS
    // the query's top probe; identical subvectors encode identically,
    // so its ADC distance is the reconstruction floor for the query
    val pairs = r.map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((0L, 1000000L)),
      s"the planted twin must be recovered through the probed cells: ${pairs.mkString(",")}")
  }

  test("q67d composed IVF-PQ index == per-call q67b; probe partition-prunes; params bust") {
    val path = operators.PQ.ivfPqIndexPath(spark, dir)
    // warehouse.dir normalizes to a file: URI — java.io.File on that
    // string is a silent no-op delete (which once masked a freshness
    // bug); go through the Hadoop fs of the path instead
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val indexed = operators.PQ.ivfPqTopKIndexed(spark, dir, k = 10).collect().toSeq
    val direct = operators.PQ.ivfPqTopK(spark, dir, k = 10).collect().toSeq
    assert(indexed == direct,
      "the composed persisted index must be value-identical to the per-call IVF-PQ scan")
    assert(operators.PQ.ivfPqIndex(m = 8, kCodes = 16, iters = 1, nLists = 0).fresh(spark, dir, path))
    // a second probe must READ the fresh index, not rebuild it — the
    // regression this pins: a freshness check that never matches
    // turns every "steady-state" probe into a full rebuild (caught by
    // ScaleProbe at 10x, masked here by a no-op cleanup delete)
    val success = new org.apache.hadoop.fs.Path(s"$path/cells/_SUCCESS")
    val builtAt = fs.getFileStatus(success).getModificationTime
    val again = operators.PQ.ivfPqTopKIndexed(spark, dir, k = 10).collect().toSeq
    assert(again == indexed)
    assert(fs.getFileStatus(success).getModificationTime == builtAt,
      "a fresh index must be read, not rebuilt")
    // the steady-state read: codes scan must partition-prune to the
    // probed cells (the layout's whole point — the q48 plan contract)
    assertStaticPrune(operators.PQ.ivfPqTopKIndexed(spark, dir, k = 10)
      .queryExecution.executedPlan.toString, "cell")
    // every build param is part of the index identity
    assert(!operators.PQ.ivfPqIndex(m = 4, kCodes = 16, iters = 1, nLists = 0).fresh(spark, dir, path))
    assert(!operators.PQ.ivfPqIndex(m = 8, kCodes = 16, iters = 2, nLists = 0).fresh(spark, dir, path))
    assert(!operators.PQ.ivfPqIndex(m = 8, kCodes = 16, iters = 1, nLists = 7).fresh(spark, dir, path))
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
  }

  test("codebooks stay DENSE m×kCodes when kCodes exceeds distinct residues (ADVICE r08)") {
    import spark.implicits._
    val tdir = "/fake/pq_sparse"
    // 3 vectors, kCodes=16: only residues 0..2 have seeds — the other
    // 13 codes must still occupy their grid slots (far-point
    // sentinels) or every later LUT slot shifts into wrong distances
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .filter(col("vec_id") < 3)
    Tables.registerOverride(spark, tdir, "embeddings", base)
    val e = Tables.embeddings(spark, tdir).select("vec_id", "embedding")
    val books = operators.PQ.codebooks(e, m = 8, kCodes = 16, iters = 1)
    assert(operators.PQ.booksFrame(spark, books).count() == 8 * 16,
      "books must be the full m×kCodes grid")
    assert((3 until 16).forall(c => books.words(books.at(0, c)) == Float.MaxValue),
      "an unseeded code carries the far-point sentinel")
    // sentinel codewords are never the nearest — codes stay in range
    val codes = operators.PQ.encode(e, books)
      .select(explode(col("codes"))).as[Int].collect()
    assert(codes.forall(c => c >= 0 && c < 16))
    assert(codes.toSet.size <= 3, "only seeded codes can win assignment")
    // and the end-to-end scan survives (pq_adc layout validation on)
    val r = operators.PQ.pqTopK(spark, tdir, k = 2, nQueries = 1).collect()
    assert(r.nonEmpty)
  }

  test("q67e incremental encode: delta-only under frozen books; base untouched; append == full") {
    import org.apache.hadoop.fs.Path
    val path = operators.PQ.incrIndexPath(spark, dir, 16)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val out = keyed(operators.PQ.pqEncodeIncremental(spark, dir).collect())
    assert(out.nonEmpty && out.keySet.forall(_ % 16 == 0), "the delta is vec_id % 16 == 0, only")
    // a second run is deterministic and must NOT rewrite the base codes
    val success = new Path(s"$path/codes/_SUCCESS")
    val builtAt = fs.getFileStatus(success).getModificationTime
    assert(keyed(operators.PQ.pqEncodeIncremental(spark, dir).collect()) == out)
    assert(fs.getFileStatus(success).getModificationTime == builtAt,
      "an incremental run must never touch the base codes")
    // frozen-books law: the increment equals the full encode of the
    // whole corpus under the STORED books, restricted to the delta —
    // quantization is a pure per-vector function of (vector, books)
    val books = operators.PQ.readBooks(spark, s"$path/books", m = 8, kCodes = 16)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val fullAll = keyed(operators.PQ.encode(e, books).collect())
    assert(out == fullAll.filter(_._1 % 16 == 0), "increments commute with full encodes")
    // append: base ∪ delta == the full frozen-books encode; idempotent
    operators.PQ.appendDelta(spark, dir)
    assert(keyed(operators.PQ.incrCodes(spark, dir).collect()) == fullAll)
    operators.PQ.appendDelta(spark, dir)
    assert(keyed(operators.PQ.incrCodes(spark, dir).collect()) == fullAll,
      "re-appending the same nightly batch must not duplicate codes")
    fs.delete(new Path(path), true)
  }

  test("q67f incremental IVF-PQ: probe after append == full scan under the frozen structure") {
    import org.apache.hadoop.fs.Path
    val path = operators.PQ.ivfPqIncrPath(spark, dir, 16)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    val got = operators.PQ.ivfPqIncrTopK(spark, dir, k = 10).collect().toSeq
    assert(got.nonEmpty)
    // the commutation law: the incremented index is value-identical
    // to one hypothetically built over the FULL corpus under the SAME
    // frozen structure — assignment and encoding are pure functions
    // of (vector, structure), so replay them directly over everything
    val books = spark.read.parquet(s"$path/books")
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell").as("c_cell"), col("cvec"))
    val lists = spark.read.parquet(s"$path/centroids").count().toInt
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val allCells = operators.Vectors.assignCells(e, cents, nProbe = 1,
        nCoarse = operators.Vectors.autoCoarse(lists))
      .select("vec_id", "cell")
    val allCoded = operators.PQ.encode(e, operators.PQ.readBooks(spark, s"$path/books", m = 8, kCodes = 16))
      .join(allCells, "vec_id")
    val q = e.filter(col("vec_id") < 5)
    val probes = operators.Vectors.assignCells(q, cents, nProbe = 3,
        nCoarse = operators.Vectors.autoCoarse(lists))
      .select(col("vec_id").as("query_id"), col("cell"))
    val expected = operators.PQ.frozenStructureScan(
      allCoded.join(probes, Seq("cell")), q, books, k = 10, kCodes = 16, m = 8)
      .collect().toSeq
    assert(got == expected,
      "increments must commute: base-index + frozen-structure delta == full frozen-structure scan")
    // base stores untouched by the append; re-append cannot duplicate
    val success = new Path(s"$path/cells/_SUCCESS")
    val builtAt = fs.getFileStatus(success).getModificationTime
    operators.PQ.appendDeltaIvfPq(spark, dir)
    assert(fs.getFileStatus(success).getModificationTime == builtAt,
      "the nightly append must never rewrite the base code lists")
    assert(operators.PQ.ivfPqIncrTopK(spark, dir, k = 10).collect().toSeq == got)
    // delta vectors are genuinely searchable: some delta id (≡ 0 mod
    // 16) must appear among the probed results of the base queries —
    // query 0 itself is a delta vector, so its cell is a probed cell
    // and its co-residents include whichever corpus vectors share it
    val deltaHits = got.count(_.getLong(1) % 16 == 0)
    assert(deltaHits > 0, s"appended delta vectors must be reachable through the probe: $got")
    fs.delete(new Path(path), true)
  }

  test("q67f probe prunes both the base lists and the unfolded delta to the probed cells") {
    val path = operators.PQ.ivfPqIncrPath(spark, dir, 16)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    operators.PQ.ivfPqIncrTopK(spark, dir, k = 10).collect() // builds the base, appends the delta
    assert(IndexStore.complete(spark, s"$path/codes_delta") && !IndexStore.folded(spark, s"$path/cells"))
    assertStaticPrune(operators.PQ.ivfPqIncrTopK(spark, dir, k = 10)
      .queryExecution.executedPlan.toString, "cell", scans = 2)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
  }

  test("indexed PQ scan == per-call PQ scan; param change busts the index") {
    val path = operators.PQ.indexPath(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true) // file: URI — java.io.File no-ops
    val indexed = operators.PQ.pqTopKIndexed(spark, dir, k = 10).collect().toSeq
    val direct = operators.PQ.pqTopK(spark, dir, k = 10).collect().toSeq
    assert(indexed == direct,
      "persistence changes where bytes live, never what they are")
    assert(operators.PQ.index(m = 8, kCodes = 16, iters = 1).fresh(spark, dir, path))
    assert(!operators.PQ.index(m = 4, kCodes = 16, iters = 1).fresh(spark, dir, path),
      "a different m must read as stale")
    assert(!operators.PQ.index(m = 8, kCodes = 16, iters = 2).fresh(spark, dir, path),
      "a different iters must read as stale")
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
  }

  test("q67g: every planted query's top-1 is its verbatim copy (ADC floor law)") {
    val expect = (0L until 5L).map(q => (q, q + 1000000L, 1))
    val got = operators.PQ.ivfPqPlanted(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expect,
      "a verbatim copy carries the query's exact codes in its top-1 cell — the ADC floor")
    // the law is probe-width-independent: even the minimal probe set
    // (nProbe=1) contains the query's own cell, where the copy sits
    val got1 = operators.PQ.ivfPqPlanted(spark, dir, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got1 == expect, "the copy is recovered through the query's own top-1 cell alone")
  }
}
