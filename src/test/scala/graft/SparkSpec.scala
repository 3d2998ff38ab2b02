package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all graft specs. */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.local("4")
  val sfDir = "/root/testdata/sf0.001"

  /** Driver generations have written events.ts both as timestamp[ns]
    * (read as LONG nanos under nanosAsLong) and as timestamp[us] (read
    * as a timestamp directly) — normalize to a plain timestamp either
    * way, the same guard Tables.apply applies. */
  def normTs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts DIV 1000")))
    else df
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sfDir: String = SparkTestSession.sfDir
}
