package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Vector kernel for graft: native Catalyst expressions (whole-stage-codegen
 * friendly) re-expressing the scalar surface of the reference's datavec
 * extension (reference: contrib/datavec/sql/datavec--0.7.2.sql,
 * contrib/datavec/src/vector.cpp, bitutils.cpp, halfutils.cpp).
 *
 * Storage model: `vector` = array<float> (fp32, like the reference's
 * Vector struct); all distance math accumulates in double (the reference
 * accumulates in float for some metrics, but double is strictly more
 * accurate and matches the DuckDB ::DOUBLE[] oracle bit-for-bit).
 */
object VectorMetrics {
  val L2 = "l2"; val L2Sq = "l2sq"; val Ip = "ip"; val NegIp = "negip"
  val Cosine = "cosine"; val L1 = "l1"; val Spherical = "spherical"
  val all: Seq[String] = Seq(L2, L2Sq, Ip, NegIp, Cosine, L1, Spherical)
}

/**
 * Distance between two fp32 vectors, double accumulation.
 * Reference semantics: contrib/datavec/src/vector.cpp:
 *  - l2_distance (line ~600): sqrt(sum((a-b)^2))
 *  - inner_product / vector_negative_inner_product
 *  - cosine_distance (line 680): 1 - clamp(dot/sqrt(na*nb), -1, 1)
 *  - l1_distance (line ~731): sum(|a-b|)
 *  - vector_spherical_distance (line 712): acos(clamp(dot,-1,1)) / pi
 * Dimension mismatch throws, like the reference's CheckDims.
 */
case class VectorDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {
  require(VectorMetrics.all.contains(metric), s"unknown metric $metric")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"vec_${metric}_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    metric match {
      case VectorMetrics.L2 => VectorKernel.l2(x, y)
      case VectorMetrics.L2Sq => VectorKernel.l2sq(x, y)
      case VectorMetrics.Ip => VectorKernel.dot(x, y)
      case VectorMetrics.NegIp => VectorKernel.negDot(x, y)
      case VectorMetrics.Cosine => VectorKernel.cosineDistance(x, y)
      case VectorMetrics.L1 => VectorKernel.l1(x, y)
      case VectorMetrics.Spherical => VectorKernel.spherical(x, y)
    }
  }

  /** The same [[VectorKernel]] method, called from generated code. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = metric match {
      case VectorMetrics.L2 => "l2"
      case VectorMetrics.L2Sq => "l2sq"
      case VectorMetrics.Ip => "dot"
      case VectorMetrics.NegIp => "negDot"
      case VectorMetrics.Cosine => "cosineDistance"
      case VectorMetrics.L1 => "l1"
      case VectorMetrics.Spherical => "spherical"
    }
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernel.$kernel($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** l2 norm of an fp32 vector (ref: vector.cpp vector_norm, double accum). */
case class VectorL2Norm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_norm"
  override def nullSafeEval(a: Any): Any = VectorKernel.l2Norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernel.l2Norm($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * l2_normalize in full double precision (ref: vector.cpp:794 computes the
 * norm in double then divides; zero norm -> zero vector). Output is
 * array<double>; cast to array<float> for fp32 storage parity.
 */
case class VectorL2Normalize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_l2_normalize"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(VectorKernel.l2Normalize(a.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
      s".fromPrimitiveArray(graft.functions.VectorKernel.l2Normalize($a))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * fp16 round-trip (halfvec emulation; ref: contrib/datavec/src/halfvec.cpp,
 * halfutils.cpp). Each fp32 element is rounded to the nearest IEEE 754
 * binary16 (round-half-even) and widened back, so downstream math sees
 * exactly the values a halfvec column would hold.
 */
case class HalfVecRoundTrip(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "halfvec_round_trip"
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val n = x.numElements()
    val out = new Array[Float](n); var i = 0
    while (i < n) { out(i) = HalfFloat.toFloat(HalfFloat.fromFloatChecked(x.getFloat(i))); i += 1 }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |float[] $out = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = graft.functions.HalfFloat.toFloat(
         |    graft.functions.HalfFloat.fromFloatChecked($a.getFloat($i)));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * binary_quantize: fp32 vector -> packed bit string, bit i set iff x[i] > 0
 * (ref: vector.cpp binary_quantize + bitvec.cpp layout: MSB-first within
 * each byte, like the PostgreSQL varbit type).
 */
case class BinaryQuantize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "binary_quantize"
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val n = x.numElements()
    val out = new Array[Byte]((n + 7) / 8); var i = 0
    while (i < n) {
      if (x.getFloat(i) > 0f) out(i / 8) = (out(i / 8) | (0x80 >>> (i % 8))).toByte
      i += 1
    }
    out
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[($n + 7) / 8];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getFloat($i) > 0f) {
         |    $out[$i / 8] = (byte)($out[$i / 8] | (0x80 >>> ($i % 8)));
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Hamming / Jaccard distance over packed bit strings
 * (ref: contrib/datavec/src/bitutils.cpp BitHammingDistance /
 * BitJaccardDistance). metric: "hamming" | "jaccard".
 */
case class BitDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {
  require(metric == "hamming" || metric == "jaccard")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"bit_${metric}_distance"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    if (metric == "hamming") VectorKernel.hamming(x, y) else VectorKernel.jaccard(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernel.$metric($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Lexicographic vector comparison returning -1/0/1 (ref: vector.cpp
 * vector_cmp — elementwise compare, then shorter < longer).
 */
case class VectorCompare(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_cmp"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements()); var i = 0
    while (i < n) {
      val c = java.lang.Float.compare(x.getFloat(i), y.getFloat(i))
      if (c != 0) return Integer.signum(c)
      i += 1
    }
    Integer.signum(x.numElements() - y.numElements())
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  // interpreted only: comparisons sit in filters rarely on the hot path
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val c = ctx.freshName("c")
      val r = ctx.freshName("r")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |int $r = Integer.signum($a.numElements() - $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  int $c = java.lang.Float.compare($a.getFloat($i), $b.getFloat($i));
         |  if ($c != 0) { $r = Integer.signum($c); break; }
         |}
         |${ev.value} = $r;
       """.stripMargin
    })
}

/**
 * Distance between two sparse vectors, each as (indices: array<int> sorted
 * ascending, values: array<float>) — merge scan, double accumulation
 * (ref: contrib/datavec/src/sparsevec.cpp). metric: l2|l2sq|ip|negip|cosine|l1.
 */
case class SparseVectorDistance(
    aIdx: Expression, aVal: Expression, bIdx: Expression, bVal: Expression,
    metric: String) extends Expression with CodegenFallback {
  require(Seq("l2", "l2sq", "ip", "negip", "cosine", "l1").contains(metric))
  override def children: Seq[Expression] = Seq(aIdx, aVal, bIdx, bVal)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = s"sparsevec_${metric}_distance"
  override def eval(input: InternalRow): Any = {
    val ai = aIdx.eval(input); val av = aVal.eval(input)
    val bi = bIdx.eval(input); val bv = bVal.eval(input)
    if (ai == null || av == null || bi == null || bv == null) return null
    val xi = ai.asInstanceOf[ArrayData]; val xv = av.asInstanceOf[ArrayData]
    val yi = bi.asInstanceOf[ArrayData]; val yv = bv.asInstanceOf[ArrayData]
    val nx = xi.numElements(); val ny = yi.numElements()
    var i = 0; var j = 0
    var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0; var l1 = 0.0
    while (i < nx || j < ny) {
      val ix = if (i < nx) xi.getInt(i) else Int.MaxValue
      val iy = if (j < ny) yi.getInt(j) else Int.MaxValue
      if (ix == iy) {
        val a0 = xv.getFloat(i).toDouble; val b0 = yv.getFloat(j).toDouble
        dot += a0 * b0; na += a0 * a0; nb += b0 * b0
        val d = a0 - b0; l2 += d * d; l1 += math.abs(d)
        i += 1; j += 1
      } else if (ix < iy) {
        val a0 = xv.getFloat(i).toDouble
        na += a0 * a0; l2 += a0 * a0; l1 += math.abs(a0); i += 1
      } else {
        val b0 = yv.getFloat(j).toDouble
        nb += b0 * b0; l2 += b0 * b0; l1 += math.abs(b0); j += 1
      }
    }
    metric match {
      case "l2" => math.sqrt(l2)
      case "l2sq" => l2
      case "ip" => dot
      case "negip" => -dot
      case "cosine" =>
        val sim = dot / math.sqrt(na * nb)
        1.0 - math.max(-1.0, math.min(1.0, sim))
      case "l1" => l1
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(aIdx = c(0), aVal = c(1), bIdx = c(2), bVal = c(3))
}

/** IEEE 754 binary16 conversion helpers (public-domain well-known algorithm,
 *  round-to-nearest-even — matches the reference's Float2Half in
 *  contrib/datavec/src/halfutils.cpp). Used from generated code: keep public. */
object HalfFloat {
  /** fp32 -> fp16 bits with round-to-nearest-even. */
  def fromFloat(f: Float): Short = {
    val bits = java.lang.Float.floatToRawIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    var value = bits & 0x7fffffff
    if (value >= 0x47800000) { // overflow -> inf (or NaN passthrough)
      if (value > 0x7f800000) return (sign | 0x7e00).toShort // NaN
      return (sign | 0x7c00).toShort
    }
    if (value < 0x38800000) { // subnormal half (or zero)
      if (value < 0x33000000) return sign.toShort // underflow -> signed zero
      val shift = 126 - (value >>> 23)
      val mant = (value & 0x7fffff) | 0x800000
      val rounded = (mant + (1 << (shift - 1)) - 1 + ((mant >>> shift) & 1)) >>> shift
      return (sign | rounded).toShort
    }
    val half = ((value >>> 13) - ((127 - 15) << 10)) & 0x7fff
    // round-to-nearest-even on the 13 truncated bits
    val tail = value & 0x1fff
    val out =
      if (tail > 0x1000 || (tail == 0x1000 && (half & 1) == 1)) half + 1
      else half
    (sign | out).toShort
  }
  /** fp32 -> fp16 with the reference's ADMISSION check (halfvec.cpp
    * Float2Half vs the unchecked kernel): a FINITE fp32 that rounds
    * to ±Inf in fp16 is out of range for the halfvec type
    * (cast.out:99-100 — '[65520]'::vector::halfvec errors). */
  def fromFloatChecked(f: Float): Short = {
    val h = fromFloat(f)
    if (!java.lang.Float.isNaN(f) && !java.lang.Float.isInfinite(f) &&
        (h & 0x7fff) == 0x7c00)
      throw new IllegalArgumentException(
        s"""graft: "$f" is out of range for type halfvec""")
    h
  }

  /** fp16 bits -> fp32 (exact). */
  def toFloat(h: Short): Float = {
    val s = (h >> 15) & 1; val e = (h >> 10) & 0x1f; val m = h & 0x3ff
    val v =
      if (e == 0) {
        if (m == 0) if (s == 1) -0.0f else 0.0f
        else (if (s == 1) -1f else 1f) * m * math.pow(2, -24).toFloat
      } else if (e == 0x1f) {
        if (m == 0) { if (s == 1) Float.NegativeInfinity else Float.PositiveInfinity }
        else Float.NaN
      } else {
        val f = java.lang.Float.intBitsToFloat(
          (s << 31) | ((e - 15 + 127) << 23) | (m << 13))
        f
      }
    v
  }
}
