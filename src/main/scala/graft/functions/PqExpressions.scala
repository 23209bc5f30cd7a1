package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Native kernels for product quantization (operators.PQ): squared
  * L2 distance (the LUT), the encode kernel [[PqEncode]] (codebook
  * training and encode) and the ADC lookup-sum (the scan). All three
  * codegen so a PQ scan over billions of code rows stays inside
  * WholeStageCodegen — the entire point of PQ is that the hot loop
  * touches m bytes + m table lookups per vector instead of the full
  * float vector.
  */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_sq expects ARRAY<FLOAT>/ARRAY<DOUBLE> inputs, got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    // mismatched lengths always indicate a caller bug (a dims/m
    // slicing error upstream) — silently truncating to the shorter
    // side would turn that into plausible-but-wrong distances
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"l2_sq: array length mismatch ${x.numElements()} vs ${y.numElements()}")
    val n = x.numElements()
    var d = 0.0; var i = 0
    while (i < n) {
      val xi = if (isFloat(left)) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (isFloat(right)) y.getFloat(i).toDouble else y.getDouble(i)
      val t = xi - yi; d += t * t; i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val d = ctx.freshName("d")
      def rd(v: String, i: String, f: Boolean): String =
        if (f) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "l2_sq: array length mismatch " + $x.numElements() + " vs " + $y.numElements());
         |}
         |int $n = $x.numElements();
         |double $d = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double t = ${rd(x, i, isFloat(left))} - ${rd(y, i, isFloat(right))};
         |  $d += t * t;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance (ADC) lookup sum: codes[s] indexes the query's
  * per-subspace distance table — score = Σ_s lut[s*kCodes + codes[s]].
  * The PQ scan's whole inner loop: m int reads + m double reads.
  */
case class PqAdcScore(left: Expression, right: Expression, kCodes: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) if kCodes >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"pq_adc expects (ARRAY<INT>, ARRAY<DOUBLE>) and kCodes >= 1, got ${left.dataType} / ${right.dataType} / $kCodes")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]; val lut = b.asInstanceOf[ArrayData]
    // the LUT layout contract is lut[s*kCodes + code] over a DENSE
    // m×kCodes table: a short LUT or an out-of-range code means a
    // codebook row went missing upstream and every later slot is
    // shifted — fail loudly instead of reading a wrong-but-plausible
    // distance (or tripping ArrayIndexOutOfBounds deep in codegen)
    if (lut.numElements() < codes.numElements().toLong * kCodes)
      throw new IllegalArgumentException(
        s"pq_adc: lut has ${lut.numElements()} slots, need m*kCodes = ${codes.numElements()} * $kCodes")
    var s = 0; var d = 0.0
    while (s < codes.numElements()) {
      val c = codes.getInt(s)
      if (c < 0 || c >= kCodes)
        throw new IllegalArgumentException(s"pq_adc: code $c out of range [0, $kCodes)")
      d += lut.getDouble(s * kCodes + c); s += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val s = ctx.freshName("s"); val d = ctx.freshName("d"); val cd = ctx.freshName("cd")
      s"""
         |if ($l.numElements() < (long) $c.numElements() * $kCodes) {
         |  throw new IllegalArgumentException(
         |    "pq_adc: lut has " + $l.numElements() + " slots, need m*kCodes = " + $c.numElements() + " * $kCodes");
         |}
         |double $d = 0.0;
         |for (int $s = 0; $s < $c.numElements(); $s++) {
         |  int $cd = $c.getInt($s);
         |  if ($cd < 0 || $cd >= $kCodes) {
         |    throw new IllegalArgumentException("pq_adc: code " + $cd + " out of range [0, $kCodes)");
         |  }
         |  $d += $l.getDouble($s * $kCodes + $cd);
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dense PQ codebooks as one driver-side value: m subspaces × kCodes
  * codewords of dsub floats, codeword (s, code) at
  * `words((s * kCodes + code) * dsub ...)`. The operand of
  * [[PqEncode]]: it enters a plan as a reference object, so the
  * generated code never sees its values and a new corpus compiles no
  * new class.
  */
final class PqBooks(val m: Int, val kCodes: Int, val dsub: Int, val words: Array[Float])
    extends Serializable {
  require(m >= 1 && kCodes >= 1 && dsub >= 1 && words.length == m * kCodes * dsub,
    s"PqBooks: ${words.length} floats for m=$m, kCodes=$kCodes, dsub=$dsub")
  def dims: Int = m * dsub
  /** Offset of codeword (s, code) in `words`. */
  def at(s: Int, code: Int): Int = (s * kCodes + code) * dsub
  override def toString: String = s"PqBooks(m=$m, kCodes=$kCodes, dsub=$dsub)"
}

/** PQ encode: the m codes of one ARRAY<FLOAT> embedding, ordered by
  * subspace — per subspace s, the code whose codeword is nearest to
  * the embedding's s-th dsub-slice. The distance is `l2_sq`'s exact
  * arithmetic (float→double per component, summed in component
  * order); the argmin compares (distance, code) under Spark's double
  * ordering, so ties go to the lower code — what `min_by(code,
  * struct(d, code))` over the l2_sq rows picks. A length other than
  * m·dsub throws, like l2_sq's mismatch.
  */
case class PqEncode(child: Expression, books: PqBooks) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"pq_encode expects ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(a: Any): Any = PqEncode.encode(a.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("books", books, classOf[PqBooks].getName)
    defineCodeGen(ctx, ev, x => s"${classOf[PqEncode].getName}.encode($x, $b)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object PqEncode {
  def encode(x: ArrayData, b: PqBooks): ArrayData = {
    if (x.numElements() != b.dims)
      throw new IllegalArgumentException(
        s"pq_encode: embedding length ${x.numElements()} vs m*dsub = ${b.m} * ${b.dsub}")
    val codes = new Array[Int](b.m)
    var s = 0
    while (s < b.m) {
      var best = 0; var bestD = 0.0; var code = 0
      while (code < b.kCodes) {
        val w = b.at(s, code); val v = s * b.dsub
        var d = 0.0; var i = 0
        while (i < b.dsub) {
          val t = x.getFloat(v + i).toDouble - b.words(w + i).toDouble; d += t * t; i += 1
        }
        if (code == 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) { best = code; bestD = d }
        code += 1
      }
      codes(s) = best; s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }
}
