package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * The scalar distance kernel over fp32 vectors: `float[]` forms for
 * task-side loops (the fused KNN join, IVF probe ranking, HNSW beams,
 * k-means and PQ encoding), and `ArrayData` forms that
 * [[VectorDistance]], [[VectorL2Norm]] and [[VectorL2Normalize]] call
 * from both their interpreted and their generated code. The bit-vector
 * forms serve [[BitDistance]] the same way, and the bit IVF's centroid
 * ranking.
 *
 * Every element pair is widened to double and accumulated in index
 * order: `acc += ((double) a[i] - (double) b[i])²`. Both forms sum in
 * that order, so a distance computed here is bit-identical to the SQL
 * surface's. Callers of the `float[]` forms must keep
 * `a.length == b.length`; the loops run over `a.length`. The `ArrayData`
 * forms check the dims themselves.
 */
object VectorKernel {

  /** Elements between two checks of a bounded kernel's partial sum. */
  private final val Block = 32

  /** Σ ((double) a[i] − (double) b[i])². */
  def l2sq(a: Array[Float], b: Array[Float]): Double =
    l2sqBounded(a, b, Double.PositiveInfinity)

  /** Σ |(double) a[i] − (double) b[i]|. */
  def l1(a: Array[Float], b: Array[Float]): Double =
    l1Bounded(a, b, Double.PositiveInfinity)

  /** Σ ((double) a[off + j] − c[j])² over j < c.length, in j order: a
    * float vector, or the sub-vector at `off`, against a double centre
    * (k-means centres, PQ codewords). */
  def l2sqAt(a: Array[Float], off: Int, c: Array[Double]): Double = {
    var acc = 0.0; var j = 0
    while (j < c.length) { val d = a(off + j).toDouble - c(j); acc += d * d; j += 1 }
    acc
  }

  /** Σ (double) a[i] · (double) b[i]. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** 1 − clamp(a·b / √(‖a‖²‖b‖²), −1, 1), the three sums in one pass. */
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val xa = a(i).toDouble; val xb = b(i).toDouble
      dot += xa * xb; na += xa * xa; nb += xb * xb; i += 1
    }
    1.0 - math.max(-1.0, math.min(1.0, dot / math.sqrt(na * nb)))
  }

  /**
   * [[l2sq]] that gives up early: every [[Block]] elements it compares
   * the partial sum with `bound` and returns that partial sum once it
   * is greater. The terms are non-negative and IEEE addition is
   * monotone, so the full sum would have been at least as large. A
   * result `<= bound` is the exact [[l2sq]], summed in the same order.
   */
  def l2sqBounded(a: Array[Float], b: Array[Float], bound: Double): Double = {
    val n = a.length
    var acc = 0.0; var i = 0
    while (i < n) {
      val end = math.min(i + Block, n)
      while (i < end) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      if (acc > bound) return acc
    }
    acc
  }

  /** [[l1]] with the early exit of [[l2sqBounded]]. */
  def l1Bounded(a: Array[Float], b: Array[Float], bound: Double): Double = {
    val n = a.length
    var acc = 0.0; var i = 0
    while (i < n) {
      val end = math.min(i + Block, n)
      while (i < end) { acc += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
      if (acc > bound) return acc
    }
    acc
  }

  // ---- the SQL surface: one method per VectorMetrics metric ----

  /** The common length of `a` and `b`; differing dims throw, like the
    * reference's CheckDims. */
  private def dims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"graft: vector dims differ: $n vs ${b.numElements()}")
    n
  }

  /** √Σ ((double) a[i] − (double) b[i])². */
  def l2(a: ArrayData, b: ArrayData): Double = math.sqrt(l2sq(a, b))

  /** Σ ((double) a[i] − (double) b[i])². */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = dims(a, b)
    var acc = 0.0; var i = 0
    while (i < n) { val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Σ (double) a[i] · (double) b[i]. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = dims(a, b)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** −[[dot]]. */
  def negDot(a: ArrayData, b: ArrayData): Double = -dot(a, b)

  /** 1 − clamp(a·b / √(‖a‖²‖b‖²), −1, 1), the three sums in one pass. */
  def cosineDistance(a: ArrayData, b: ArrayData): Double = {
    val n = dims(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xa = a.getFloat(i).toDouble; val xb = b.getFloat(i).toDouble
      dot += xa * xb; na += xa * xa; nb += xb * xb; i += 1
    }
    1.0 - math.max(-1.0, math.min(1.0, dot / math.sqrt(na * nb)))
  }

  /** Σ |(double) a[i] − (double) b[i]|. */
  def l1(a: ArrayData, b: ArrayData): Double = {
    val n = dims(a, b)
    var acc = 0.0; var i = 0
    while (i < n) { acc += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble); i += 1 }
    acc
  }

  /** acos(clamp(a·b, −1, 1)) / π. */
  def spherical(a: ArrayData, b: ArrayData): Double =
    math.acos(math.max(-1.0, math.min(1.0, dot(a, b)))) / math.Pi

  // ---- one vector: the norm and the normalized vector ----

  /** √Σ (double) a[i]². */
  def l2Norm(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0; var i = 0
    while (i < n) { val v = a.getFloat(i).toDouble; acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  /** (double) a[i] / [[l2Norm]]; the zero vector when the norm is 0. */
  def l2Normalize(a: ArrayData): Array[Double] = {
    val n = a.numElements()
    val norm = l2Norm(a)
    val out = new Array[Double](n)
    if (norm > 0) { var i = 0; while (i < n) { out(i) = a.getFloat(i).toDouble / norm; i += 1 } }
    out
  }

  // ---- bit vectors (one bit per dimension, packed into bytes) ----

  /** Σ popcount(a[i] ^ b[i]) over a's bytes; callers keep
    * `a.length == b.length`. */
  def hammingBits(a: Array[Byte], b: Array[Byte]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { acc += Integer.bitCount((a(i) ^ b(i)) & 0xff); i += 1 }
    acc
  }

  /** Throws unless `a` and `b` have one byte length. */
  private def bitDims(a: Array[Byte], b: Array[Byte]): Unit =
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"graft: bit vector lengths differ: ${a.length} vs ${b.length}")

  /** The number of differing bits. */
  def hamming(a: Array[Byte], b: Array[Byte]): Double = {
    bitDims(a, b)
    hammingBits(a, b).toDouble
  }

  /** 1 − |a ∧ b| / |a ∨ b|; NaN when both are all zero bits. */
  def jaccard(a: Array[Byte], b: Array[Byte]): Double = {
    bitDims(a, b)
    var ab = 0L; var aob = 0L; var i = 0
    while (i < a.length) {
      ab += Integer.bitCount(a(i) & b(i) & 0xff)
      aob += Integer.bitCount((a(i) | b(i)) & 0xff)
      i += 1
    }
    if (aob == 0) Double.NaN else 1.0 - ab.toDouble / aob.toDouble
  }
}
