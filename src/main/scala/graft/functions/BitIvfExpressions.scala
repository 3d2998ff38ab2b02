package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/**
 * Bit-vector (Hamming-metric) index-tier expressions (reference:
 * contrib/datavec — the `bit` opclasses `ivfflat_bit_support` /
 * `hnsw_bit_support`, sql/datavec--0.7.2.sql:336-345, over
 * bitutils.cpp BitHammingDistance). Both run as single compiled
 * per-row calls from generated code.
 */

/** Nearest centroid id (argmin Hamming, ties to the lowest id) over a
  * small centroid table carried in the expression — the bit tier's
  * analogue of Ivf.assign's literal-centroid path. */
case class BitNearestCentroid(child: Expression, centroids: Seq[Array[Byte]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "need at least one centroid")
  require(centroids.forall(_.length == centroids.head.length),
    "centroid code widths differ")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bit_nearest_centroid"

  @transient private lazy val cents: Array[Array[Byte]] = centroids.toArray

  def nearest(code: Array[Byte]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cc = cents(c)
      if (cc.length != code.length)
        throw new IllegalArgumentException(
          s"graft: bit code width ${code.length} != centroid width ${cc.length}")
      val d = VectorKernel.hammingBits(cc, code)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override def nullSafeEval(a: Any): Any = nearest(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bitNearestCentroid", this,
      classOf[BitNearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.nearest($a);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Packed bit string → array<int> of 0/1 (bit i of byte j at index
  * 8j+i, MSB first — [[BinaryQuantize]]'s layout). Feeds the
  * majority-vote centroid update. */
case class UnpackBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unpack_bits"

  def unpack(code: Array[Byte]): GenericArrayData = {
    val out = new Array[Any](code.length * 8)
    var i = 0
    while (i < code.length * 8) {
      out(i) = if ((code(i / 8) & (0x80 >>> (i % 8))) != 0) 1 else 0
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = unpack(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unpackBits", this, classOf[UnpackBits].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.unpack($a);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
