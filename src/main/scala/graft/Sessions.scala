package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: the mains and the test fixture. */
object Sessions {
  /**
   * A `local[cpus]` session with graft installed through its extension,
   * as a cluster deployment would run it.
   */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // deployment config: SQL functions + PG operator parser + topk
      // rule/strategy ride the extension, as they would on a cluster
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are written tz-naive (timestamp[us], not UTC-
      // adjusted); read them as LTZ under the UTC session zone, as every
      // operator and oracle expects, instead of Spark 4's NTZ inference
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the sf tables are single smallish parquet files; default 128MB
      // maxPartitionBytes would make every scan single-threaded
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    // ERROR, not WARN: benign per-query WARNs (WindowExec single-
    // partition notes from small literal frames etc.) flooded the
    // driver's bounded output-capture window in r11.
    spark.sparkContext.setLogLevel("ERROR")
    initCheckpoints(spark)
    spark
  }

  /**
   * Point the context at a fresh reliable-checkpoint dir (used by
   * Iterate.fixpoint for cross-round lineage truncation) and remove
   * it on JVM exit — the cleaner's cleanCheckpoints only covers RDDs
   * GC'd during the session, so converged final states would
   * otherwise accumulate across bench/verify runs.
   */
  private def initCheckpoints(spark: SparkSession): Unit = {
    val dir = new java.io.File(
      s"target/graft-checkpoints/${java.util.UUID.randomUUID()}")
    spark.sparkContext.setCheckpointDir(dir.toString)
    sys.addShutdownHook(rmTree(dir))
    ()
  }

  /** Recursive delete of a file or directory tree; a missing path or
    * an unreadable directory is skipped, never thrown on. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }
}
