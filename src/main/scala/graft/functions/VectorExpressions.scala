package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two ARRAY<FLOAT> columns as a native
  * Catalyst expression with codegen, so vector scoring stays inside
  * WholeStageCodegen (no UDF boxing; critical for brute-force scans
  * over billions of vectors).
  *
  * Semantics follow the reference's cosine search surface
  * (terrorblade/data/database/vector_store.py:216-302,
  * `array_cosine_similarity` / `array_cosine_distance`):
  * dot(x,y) / (|x| * |y|), 0.0 when either norm is zero.
  * Accumulation is float->double in index order, matching DuckDB's
  * element order so results agree to well past 1e-6.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // each side independently ARRAY<FLOAT> or ARRAY<DOUBLE> (floats are
  // promoted to double before any arithmetic either way, so a mixed
  // float-vector x double-centroid call is bit-identical to casting
  // the vector to DOUBLE[] first — the DuckDB-oracle spelling)
  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(elemType(_).isDefined)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects ARRAY<FLOAT> or ARRAY<DOUBLE> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def get(v: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => v.getFloat(i).toDouble
    case _         => v.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left).get; val rt = elemType(right).get
    // mismatched lengths always indicate a caller bug (the L2Squared
    // rule): min-truncating scores a partial prefix against a partial
    // norm and returns plausible-but-wrong similarities for EVERY row
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: array length mismatch ${x.numElements()} vs ${y.numElements()}")
    val n = x.numElements()
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      // promote BEFORE multiplying: float*float rounds the product to
      // float and diverges from double-accumulating engines by ~1ulp
      val xi = get(x, i, lt); val yi = get(y, i, rt)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      def rd(v: String, t: DataType): String = t match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _         => s"$v.getDouble($i)"
      }
      s"""
         |if ($x.numElements() != $y.numElements())
         |  throw new IllegalArgumentException("cosine_sim: array length mismatch "
         |    + $x.numElements() + " vs " + $y.numElements());
         |int $n = $x.numElements();
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xa = ${rd(x, elemType(left).get)}; double ya = ${rd(y, elemType(right).get)};
         |  $dot += xa * ya; $nx += xa * xa; $ny += ya * ya;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of common elements between two SORTED ARRAY<STRING> columns
  * via a linear merge — the codegen'd kernel behind set-similarity
  * joins. `array_intersect` builds a hash set per invocation; on
  * millions of candidate pairs that allocation dominates. With both
  * sides sorted once upstream (array_sort in a projection), the merge
  * is allocation-free and stays in WholeStageCodegen.
  * Jaccard on distinct arrays: common / (|a| + |b| - common).
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _                                                   => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_count_sorted expects ARRAY<STRING> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "intersect_count_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.intersectCountSorted(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.VectorKernels.intersectCountSorted($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane sign bits of an ARRAY<FLOAT> vector (Charikar
  * sign-LSH): bit b set iff dot(x, plane_b) ≥ 0, planes from
  * Hashing.planes (deterministic splitmix64 components, cached per
  * (nBits, dim)). Returns the bits packed in a LONG, so banding is a
  * shift-and-mask — the same shape as SimHash64. Native + codegen'd:
  * the declarative twin (transform/aggregate/zip_with over a planes
  * literal) is interpreted per lambda call and was q44's dominant
  * cost — nBits × dim interpreted evals per ROW.
  */
case class SignBits(child: Expression, nBits: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) if nBits >= 1 && nBits <= 64 => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"sign_bits expects ARRAY<FLOAT> and 1 <= nBits <= 64, got $t / $nBits")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "sign_bits"

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    val planes = Hashing.planes(nBits, n)
    var sig = 0L; var b = 0
    while (b < nBits) {
      val p = planes(b)
      var acc = 0.0; var d = 0
      while (d < n) { acc += x.getFloat(d).toDouble * p(d); d += 1 }
      if (acc >= 0.0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      // static forwarders on the mirror class — `Hashing.MODULE$` does
      // not exist (MODULE$ lives on Hashing$), and a bad reference here
      // silently de-codegens the whole stage
      val hashing = Hashing.getClass.getName.stripSuffix("$")
      val n = ctx.freshName("n"); val planes = ctx.freshName("planes")
      val sig = ctx.freshName("sig"); val b = ctx.freshName("b")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d"); val p = ctx.freshName("p")
      s"""
         |int $n = $x.numElements();
         |double[][] $planes = $hashing.planes($nBits, $n);
         |long $sig = 0L;
         |for (int $b = 0; $b < $nBits; $b++) {
         |  double[] $p = $planes[$b];
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $n; $d++) $acc += ((double) $x.getFloat($d)) * $p[$d];
         |  if ($acc >= 0.0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The one table of graft's SQL functions: (name, usage, builder).
  * `graft.GraftExtensions` injects every entry at session build, so a
  * session from `graft.GraftSession.builder` (or one built with
  * `spark.sql.extensions=graft.GraftExtensions`) resolves them all,
  * e.g. `expr("cosine_sim(a, b)")`.
  *
  * `register` installs the table on a session built without the
  * extension. It registers only names the session lacks, so on an
  * extension-built session it does nothing, and repeating it never
  * replaces a registered function.
  */
object GraftFunctions {
  final case class Fn(name: String, usage: String, build: Seq[Expression] => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    val info: ExpressionInfo = new ExpressionInfo("graft", null, name, usage, "")
  }

  private def int(e: Expression): Int = e.eval(null).asInstanceOf[Int]

  val table: Seq[Fn] = Seq(
    Fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays",
      e => CosineSimilarity(e(0), e(1))),
    Fn("minhash", "minhash(shingles, k) - k-permutation MinHash signature",
      e => MinHashSignature(e(0), int(e(1)))),
    Fn("simhash", "simhash(shingles) - 64-bit SimHash sketch",
      e => SimHash64(e(0))),
    Fn("fingerprint64", "fingerprint64(text) - 64-bit rolling-hash fingerprint",
      e => Fingerprint64(e(0))),
    Fn("intersect_count_sorted",
      "intersect_count_sorted(a, b) - common-element count of sorted string arrays",
      e => IntersectCountSorted(e(0), e(1))),
    Fn("shingles", "shingles(text) - distinct sorted bigram shingles",
      e => BigramShingles(e(0))),
    Fn("sign_bits", "sign_bits(vec, nBits) - random-hyperplane sign-LSH bits packed in a long",
      e => SignBits(e(0), int(e(1)))),
    Fn("repetition_stats", "repetition_stats(text) - one-pass word/bigram repetition counters",
      e => RepetitionStats(e(0))),
    Fn("kgrams", "kgrams(text, k) - ordered k-token grams",
      e => KGrams(e(0), int(e(1)))),
    Fn("kgram_hashes", "kgram_hashes(text, k) - fnv1a64 of each ordered k-token gram",
      e => KGramHashes(e(0), int(e(1)))),
    Fn("l2_sq", "l2_sq(a, b) - squared L2 distance of two float/double arrays",
      e => L2Squared(e(0), e(1))),
    Fn("pq_adc", "pq_adc(codes, lut, k) - PQ asymmetric-distance lookup sum",
      e => PqAdcScore(e(0), e(1), int(e(2)))),
    // Spark's own runtime-filter kernels (the sketch aggregate that
    // builds a bloom binary over xxhash64 values, and the codegen
    // Predicate that tests one) are public classes but not
    // SQL-registered in 4.1; the decontamination Bloom screen (q54b)
    // uses both.
    Fn("bloom_filter_agg",
      "bloom_filter_agg(xxhash64, expectedItems, numBits) - bloom filter binary",
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    Fn("bloom_might_contain",
      "bloom_might_contain(bloom, xxhash64) - bloom filter membership test",
      e => BloomFilterMightContain(e(0), e(1))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.filterNot(f => reg.functionExists(f.id))
      .foreach(f => reg.registerFunction(f.id, f.info, f.build))
  }
}
