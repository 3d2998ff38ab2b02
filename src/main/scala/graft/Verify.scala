package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: run only these query names (dev iteration)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // filtered runs must not leave stale parquet from earlier full runs:
    // check_oracle.py compares EVERY subdir, so a leftover dir would
    // silently (re)validate outdated results as current. Keep only the
    // selected queries' dirs.
    if (only.nonEmpty) {
      val keep = only + "oracle_sql.json"
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(f => !keep(f.getName))
        .foreach(Sessions.rmTree)
    }
    // the partsupp-dependent TPC-H keys run only when the driver data
    // actually ships a partsupp table (today it doesn't — they gate at
    // spec level against synthetic partsupp; this auto-enables them)
    val havePartsupp = Files.exists(Paths.get(s"$sfDir/partsupp.parquet"))
    SparkEntry.queries
      .filter { case (name, _) =>
        havePartsupp || !graft.queries.RelationalSuite3.partsuppKeys(name) }
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
