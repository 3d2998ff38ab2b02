package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/**
 * Z-order contracts: the Column z-value equals a reference Morton
 * interleave, static buckets are aligned Morton tiles (the
 * data-skipping locality guarantee), and the production writer path
 * produces partitions with disjoint, increasing z-ranges.
 */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def refZ(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map(i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  test("zValue equals the reference interleave on random points") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(500)((rnd.nextInt(1 << 12).toLong, rnd.nextInt(1 << 12).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y"), 12).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == refZ(r.getLong(0), r.getLong(1), 12))
    }
  }

  test("SQL surface: zvalue() matches the Column API; bits must be literal") {
    val r = spark.sql("SELECT zvalue(5, 3, 4) AS z").head().getLong(0)
    assert(r == refZ(5L, 3L, 4))
    val e = intercept[Exception] {
      spark.sql("SELECT zvalue(5, 3, 1 + 3) AS z").head()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("buckets are aligned Morton tiles: every extent fits 64x64") {
    // 16 buckets over a 16-bit z-span: each bucket is one aligned
    // 2^12 z-block = exactly a 64x64 (x, y) tile — so per-bucket
    // min/max stats prune scans on EITHER dimension
    val ev = spark.read.parquet(s"$sfDir/events.parquet").select(
      pmod(col("user_id"), lit(256)).cast("int").as("x"),
      pmod(floor(col("value")).cast("long"), lit(256)).cast("int").as("y"))
    val ext = Layout.zorderBuckets(ev, "x", "y", bits = 8, nBuckets = 16)
      .groupBy("bucket")
      .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"),
        min("zval").as("zlo"), max("zval").as("zhi"))
      .collect()
    assert(ext.nonEmpty)
    ext.foreach { r =>
      assert(r.getInt(1) < 64 && r.getInt(2) < 64,
        s"bucket ${r.getInt(0)} extent ${r.getInt(1)}x${r.getInt(2)}")
      val b = r.getInt(0).toLong
      assert(r.getLong(3) >= b * 4096 && r.getLong(4) < (b + 1) * 4096)
    }
  }

  test("clusterByZ partitions carry disjoint increasing z-ranges") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet").select(
      pmod(col("user_id"), lit(256)).cast("int").as("x"),
      pmod(floor(col("value")).cast("long"), lit(256)).cast("int").as("y"))
    val parts = Layout.clusterByZ(ev, "x", "y", bits = 8, nFiles = 8)
      .select("zval").as[Long].rdd
      .mapPartitionsWithIndex { case (i, it) =>
        val s = it.toSeq
        if (s.isEmpty) Iterator.empty
        else Iterator((i, s.min, s.max, s.sliding(2).forall(p => p.head <= p.last)))
      }.collect().sortBy(_._1)
    assert(parts.length > 1, "expected multiple non-empty partitions")
    parts.foreach { case (i, _, _, sorted) => assert(sorted, s"partition $i unsorted") }
    parts.sliding(2).foreach { case Array((_, _, hi, _), (_, lo, _, _)) =>
      assert(hi <= lo, "partition z-ranges must not overlap")
    case _ => ()
    }
  }

  test("hilbertValue: bijective on the grid, consecutive cells adjacent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val bits = 6; val n = 1 << bits
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val d = grid
      .select(col("x"), col("y"),
        graft.operators.Layout.hilbertValue(col("x"), col("y"), bits).as("d"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    // bijection: every index in [0, n²) exactly once
    assert(d.map(_._1).sorted.toSeq == (0L until (n.toLong * n)).toSeq)
    // the DEFINING Hilbert property (Morton lacks it): consecutive
    // indices are Manhattan-distance-1 neighbors — every bucket of a
    // range split is one connected region
    val byD = d.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump between d-neighbors: ($x1,$y1) -> ($x2,$y2)")
    case _ => ()
    }
  }
}
