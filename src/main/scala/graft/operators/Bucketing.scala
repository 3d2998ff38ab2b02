package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Bucketed-table helpers (SURVEY §5 shuffle hygiene): two tables
 * bucketed and sorted on the same join key sort-merge-join WITHOUT any
 * Exchange — at 100 TB this turns the dominant fact-fact shuffle into a
 * local merge per bucket.
 */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table (overwrites). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    // DROP on a vanished catalog entry leaves the directory behind —
    // clear it so CTAS doesn't refuse the non-empty location
    val dir = new java.io.File(tablePath(df.sparkSession, table))
    if (dir.exists()) graft.Sessions.rmTree(dir)
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .option("path", tablePath(df.sparkSession, table))
      .saveAsTable(table)
  }

  private def tablePath(spark: SparkSession, table: String): String =
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + "/" + table

  /** Join two same-bucketed tables on their bucket key (no shuffle). */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String): DataFrame =
    spark.table(left).join(spark.table(right),
      spark.table(left)(leftKey) === spark.table(right)(rightKey))
}
