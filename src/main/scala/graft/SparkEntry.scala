package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("vec_l2_topk")(spark, "/root/testdata/sf0.001")

  /** Every gated suite's (queries, oracle SQL) pair. */
  private def suites: Seq[(Map[String, Q], Map[String, String])] = {
    import graft.queries._
    Seq(VectorSuite.queries -> VectorSuite.oracle,
      RelationalSuite.queries -> RelationalSuite.oracle,
      RelationalSuite2.queries -> RelationalSuite2.oracle,
      RelationalSuite3.queries -> RelationalSuite3.oracle,
      RelationalSuite4.queries -> RelationalSuite4.oracle,
      RelationalSuite5.queries -> RelationalSuite5.oracle,
      MlSuite.queries -> MlSuite.oracle,
      SeasonalSuite.queries -> SeasonalSuite.oracle,
      AnnSuite.queries -> AnnSuite.oracle,
      TextSuite.queries -> TextSuite.oracle,
      DedupSuite.queries -> DedupSuite.oracle,
      SqlStatementSuite.queries -> SqlStatementSuite.oracle,
      StreamingSuite.queries -> StreamingSuite.oracle)
  }

  /** Union of per-suite maps. A name two suites define throws: `++`
    * would silently keep the last one and drop the other's query. */
  private[graft] def union[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = acc.keySet.intersect(m.keySet)
      require(dup.isEmpty,
        s"graft: query names defined by two suites: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = union(suites.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] = union(suites.map(_._2))
}
