package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Knob advisor — the X-Tuner half of gs_dbmind (src/gausskernel/
 * dbmind's knob-tuning tool) re-expressed deterministically: where the
 * reference drives an RL loop against live benchmark runs, a Spark
 * deployment derives its first-order knobs from measured WORKLOAD
 * STATISTICS with a closed-form cost model — the part of tuning that
 * is reproducible, auditable, and runs as one aggregation pass
 * (the RL refinement loop needs live re-benchmarking, out of scope by
 * design; F12's index advisor and F14's what-if cover the
 * search-based half).
 *
 * Statistics per table are ONE map-side-combined aggregate (row count
 * + schema-derived byte estimate: fixed widths per type, measured
 * lengths for strings); the skew probe is one groupBy(key). The knob
 * arithmetic itself runs driver-side on the model-sized stat rows —
 * the Ml.scala discipline (collects are model-sized, never data-
 * sized).
 *
 * Recommended knobs (integer-exact arithmetic, oracle-mirrorable):
 *  - spark.sql.shuffle.partitions: total workload bytes / 128 MB
 *    target, floored at the core count;
 *  - spark.sql.files.maxPartitionBytes: largest table split across
 *    the cores, clamped to [4 MB, 128 MB];
 *  - broadcast.<table>: 1 when the table's estimate fits the 10 MB
 *    broadcast budget;
 *  - aqe.skew_ratio_x100.<key>: max key frequency over the mean,
 *    ×100 (integer); skew.salt.<key>: the salting factor when the
 *    ratio crosses 4× (AQE skew-join territory), else 1.
 */
object KnobAdvisor {

  private val TargetPartitionBytes = 134217728L // 128 MB
  private val MinPartitionBytes = 4194304L // 4 MB
  private val BroadcastBytes = 10485760L // 10 MB
  private val SkewRatioX100Threshold = 400L

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** Fixed byte width of a field (0 for measured/variable types). */
  def fixedWidth(dt: DataType): Int = dt match {
    case BooleanType | ByteType => 1
    case ShortType => 2
    case IntegerType | FloatType | DateType => 4
    case LongType | DoubleType | TimestampType | TimestampNTZType => 8
    case _: DecimalType => 16
    case StringType | BinaryType => 0
    case other => 16 // conservative default for nested/complex
  }

  /** The (n_rows, var_bytes) 1-row aggregate for a table, tagged with
    * its position — unioned with the other tables' so the whole
    * workload profile is ONE Spark action ([[recommend]]); the
    * fixed-width arithmetic stays driver-side. */
  private def statAgg(pos: Int, df: DataFrame): DataFrame = {
    val strCols = df.schema.fields.filter(f =>
      f.dataType == StringType || f.dataType == BinaryType)
    val varBytes = strCols.map(f => sum(length(col(f.name)).cast("long")))
      .reduceOption(_ + _).getOrElse(lit(0L))
    df.agg(count(lit(1)).as("a"), coalesce(varBytes, lit(0L)).as("b"))
      .select(lit(pos).as("t"), col("a"), col("b"), lit(0L).as("c"))
  }

  /** (n_rows, est_bytes) in one map-side-combined aggregate. */
  def tableStats(df: DataFrame): (Long, Long) = {
    val fixed = df.schema.fields.map(f => fixedWidth(f.dataType).toLong).sum
    val row = statAgg(0, df).collect()(0)
    val n = row.getLong(1)
    (n, n * fixed + row.getLong(2))
  }

  /** Skew probe: (max key count ×100 over the mean, as integer). */
  def skewRatioX100(df: DataFrame, key: String): Long = {
    val row = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), count(lit(1)).as("k"),
        sum(col("c")).as("t")).collect()(0)
    row.getLong(0) * row.getLong(1) * 100L / row.getLong(2)
  }

  /** The advisor relation: (knob, value, detail), deterministic. */
  def recommend(spark: SparkSession, tables: Seq[(String, DataFrame)],
      skewProbe: (String, DataFrame, String), cores: Int): DataFrame = {
    val (skewName, skewDf, skewKey) = skewProbe
    // ONE action for the whole workload profile: every table's 1-row
    // stat aggregate and the skew probe's 1-row summary union into a
    // single job (their branches run concurrently) instead of one
    // scheduling round-trip per table (measured 16 construction jobs
    // for 4 tables + probe; now 1). Same numbers, same knob rows.
    // Rows are keyed by table position (the skew probe is -1), so
    // repeated table names never collapse into one stats row.
    val skewAgg = skewDf.groupBy(col(skewKey)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("a"), count(lit(1)).as("b"),
        sum(col("c")).as("c"))
      .select(lit(-1).as("t"), col("a"), col("b"), col("c"))
    val profile = (tables.zipWithIndex.map { case ((_, df), i) => statAgg(i, df) } :+
      skewAgg).reduce(_ unionByName _).collect()
    val byPos = profile.map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val stats = tables.zipWithIndex.map { case ((name, df), i) =>
      val fixed = df.schema.fields.map(f => fixedWidth(f.dataType).toLong).sum
      val (n, v, _) = byPos(i)
      (name, n, n * fixed + v)
    }
    val totalBytes = stats.map(_._3).sum
    val maxBytes = stats.map(_._3).max
    val parts = math.max(cores.toLong,
      ceilDiv(totalBytes, TargetPartitionBytes))
    val mpb = math.min(TargetPartitionBytes,
      math.max(MinPartitionBytes, ceilDiv(maxBytes, cores.toLong)))
    val (mx, k, tot) = byPos(-1)
    val ratio = mx * k * 100L / tot
    val salt = if (ratio > SkewRatioX100Threshold) ceilDiv(ratio, 100L)
      else 1L
    val rows =
      Seq(("spark.sql.shuffle.partitions", parts,
        "total workload bytes over the 128MB-per-partition target, " +
          "floored at the core count"),
        ("spark.sql.files.maxPartitionBytes", mpb,
          "largest table split across the cores, clamped to [4MB, 128MB]"),
        (s"aqe.skew_ratio_x100.$skewKey", ratio,
          s"max $skewName.$skewKey frequency over the mean, x100"),
        (s"skew.salt.$skewKey", salt,
          "salting factor when the ratio crosses 4x, else 1")) ++
        stats.map { case (name, _, b) =>
          (s"broadcast.$name", if (b <= BroadcastBytes) 1L else 0L,
            "1 when the estimate fits the 10MB broadcast budget")
        }
    import spark.implicits._
    rows.toDF("knob", "value", "detail")
  }
}
