package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/**
 * Independent exact top-k on the driver, the benchmark's answer key.
 * Distances accumulate in double over the fp32 coordinates in index
 * order, are rounded to 6 decimals half-up (Spark's `round(x, 6)` on a
 * double), and rank by (rounded distance, id).
 */
object Reference {
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Raw distance of corpus vector `x` from query `q` (corpus operand first). */
  def dist(metric: String, x: Array[Float], q: Array[Float]): Double = {
    require(x.length == q.length, s"dims differ: ${x.length} vs ${q.length}")
    metric match {
      case "l2" =>
        var acc = 0.0; var i = 0
        while (i < x.length) { val d = x(i).toDouble - q(i).toDouble; acc += d * d; i += 1 }
        math.sqrt(acc)
      case "negip" =>
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i).toDouble * q(i).toDouble; i += 1 }
        -acc
      case "cosine" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < x.length) {
          val a = x(i).toDouble; val b = q(i).toDouble
          dot += a * b; na += a * a; nb += b * b; i += 1
        }
        1.0 - math.max(-1.0, math.min(1.0, dot / math.sqrt(na * nb)))
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }
  }

  /** Order on (rounded distance, id), as the engine's top-k heap uses. */
  def before(a: (Long, Double), b: (Long, Double)): Boolean = {
    val c = java.lang.Double.compare(a._2, b._2)
    if (c != 0) c < 0 else a._1 < b._1
  }

  /**
   * Exact top-k of `q` over rows `rows` of (ids, vecs). Rounding is
   * monotone, so only rows within 2e-6 of the k-th raw distance can
   * enter the rounded top-k; just those are rounded and ranked.
   */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int,
      metric: String = "l2", rows: Array[Int] = null): Array[(Long, Double)] = {
    val idx = if (rows == null) Array.range(0, ids.length) else rows
    if (idx.isEmpty || k <= 0) return Array.empty
    val raw = idx.map(i => dist(metric, vecs(i), q))
    val sorted = raw.clone()
    java.util.Arrays.sort(sorted)
    val cut = sorted(math.min(k, sorted.length) - 1) + 2e-6
    idx.indices.iterator.filter(j => raw(j) <= cut)
      .map(j => (ids(idx(j)), round6(raw(j))))
      .toArray.sortWith(before).take(k)
  }

  def recall(found: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else found.toSet.intersect(truth.toSet).size.toDouble / truth.size

  /**
   * Why an ANN answer for one query is wrong, if it is: more than k
   * rows, a repeated id, an id outside the corpus, a distance that is
   * not the exact rounded distance of that pair, or rows out of
   * (distance, id) order. Missing true neighbours are recall, not error.
   */
  def annError(got: Seq[(Long, Double)], vecOf: Long => Array[Float],
      q: Array[Float], k: Int, metric: String = "l2"): Option[String] = {
    if (got.size > k) return Some(s"${got.size} rows > k=$k")
    if (got.map(_._1).distinct.size != got.size) return Some("repeated id")
    val bad = got.find { case (id, d) =>
      val v = vecOf(id)
      v == null || round6(dist(metric, v, q)) != d
    }
    if (bad.nonEmpty) return Some(s"wrong distance for id ${bad.get._1}")
    if (got.zip(got.drop(1)).exists { case (a, b) => !before(a, b) })
      return Some("rows out of (distance, id) order")
    None
  }
}
