package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

final case class VecRow(id: Long, vec: Array[Float], label: Int)

/**
 * Seeded Gaussian mixture: `clusters` centres drawn N(0, spread²) per
 * coordinate, each point a uniformly chosen centre plus N(0, sigma²)
 * noise. Row `i` draws from its own stream keyed by (seed, i), so the
 * content depends on the seed alone, never on partitioning or thread
 * count. Clustering matters: an isotropic corpus is routing's worst
 * case and would make every ANN probe budget a coin flip.
 */
final case class Mixture(seed: Long, n: Int, dim: Int, clusters: Int,
    spread: Double, sigma: Double) {
  @transient lazy val centers: Array[Array[Float]] = {
    val r = new SplittableRandom(Gen.mix(seed, -1L))
    Array.fill(clusters)(Array.fill(dim)((r.nextGaussian() * spread).toFloat))
  }

  private def point(r: SplittableRandom): (Int, Array[Float]) = {
    val c = r.nextInt(clusters)
    val ctr = centers(c)
    (c, Array.tabulate(dim)(j => (ctr(j) + r.nextGaussian() * sigma).toFloat))
  }

  def row(i: Long): VecRow = {
    val (c, v) = point(new SplittableRandom(Gen.mix(seed, i)))
    VecRow(i, v, c)
  }

  /** Query batch `batch`: fresh points from the same mixture on a
    * stream disjoint from the corpus rows, with globally unique ids. */
  def queries(batch: Long, size: Int): Array[(Long, Array[Float])] = {
    val r = new SplittableRandom(Gen.mix(seed ^ 0x5DEECE66DL, batch))
    Array.tabulate(size)(j => (batch * size + j, point(r)._2))
  }

  def describe: Map[String, Any] = Map("seed" -> seed, "n" -> n, "dim" -> dim,
    "clusters" -> clusters, "spread" -> spread, "sigma" -> sigma)
}

object Gen {
  /** splitmix64 finaliser over (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def corpus(spark: SparkSession, m: Mixture,
      parts: Int = 0): Dataset[VecRow] = {
    import spark.implicits._
    val mm = m
    spark.range(0L, m.n.toLong, 1L,
        if (parts > 0) parts else spark.sparkContext.defaultParallelism)
      .map(i => mm.row(i))
  }

  /** Order-independent content hash of a written vector table. */
  def vectorHash(df: DataFrame, cols: String*): Long =
    df.agg(expr(s"bit_xor(xxhash64(${cols.mkString(", ")}))")).head.getLong(0)

  /**
   * TPC-H-shaped `lineitem`: the columns q1 and q6 read, each a pure
   * function of (row id, seed) through xxhash64, so the table is the
   * same at any parallelism. Prices carry two decimals and quantities
   * are integral, which keeps the oracle sums exact in both engines.
   */
  def lineitem(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def h(k: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(m))
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism).select(
      (col("id") / 4).cast("long").plus(1).as("l_orderkey"),
      (h(1, 20000L) + 1).as("l_partkey"),
      (h(2, 1000L) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (h(3, 50L) + 1).cast("double").as("l_quantity"),
      ((h(4, 10410000L) + 90000).cast("double") / 100.0).as("l_extendedprice"),
      (h(5, 11L).cast("double") / 100.0).as("l_discount"),
      (h(6, 9L).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(7, 3L) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(8, 2L) + 1).cast("int"))
        .as("l_linestatus"),
      date_add(lit("1995-01-02").cast("date"), h(9, 2498L).cast("int"))
        .cast("timestamp").as("l_shipdate"))
  }
}
