package graft.functions

/**
 * The scalar distance kernel over fp32 vectors held in `float[]`, for
 * task-side loops (the fused KNN join, IVF probe ranking, HNSW beams).
 *
 * Every element pair is widened to double and accumulated in index
 * order: `acc += ((double) a[i] - (double) b[i])²`. That is the
 * summation order of [[VectorDistance]]'s generated code, so a distance
 * computed here is bit-identical to the SQL surface's. Callers must keep
 * `a.length == b.length`; the loops run over `a.length`.
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
}
