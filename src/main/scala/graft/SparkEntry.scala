package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  type Q = (SparkSession, String) => DataFrame

  /** One gated query: its builder and the equivalent ANSI SQL the DuckDB
    * oracle runs on the same parquet tables (None → rows-only check). */
  final case class Gated(name: String, build: Q, oracle: Option[String])

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("vec_l2_topk")(spark, "/root/testdata/sf0.001")

  /** Every gated suite's records, in suite order. */
  private def gated: Seq[Gated] = {
    import graft.queries._
    union(Seq(VectorSuite.gated, RelationalSuite.gated,
      RelationalSuite2.gated, RelationalSuite3.gated, RelationalSuite4.gated,
      RelationalSuite5.gated, MlSuite.gated, SeasonalSuite.gated,
      AnnSuite.gated, TextSuite.gated, DedupSuite.gated,
      SqlStatementSuite.gated, StreamingSuite.gated))
  }

  /** Concatenation of per-suite records. A name defined twice throws: a
    * map keyed by name would silently keep one and drop the other. */
  private[graft] def union(suites: Seq[Seq[Gated]]): Seq[Gated] = {
    val all = suites.flatten
    val dup = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dup.isEmpty,
      s"graft: query names defined twice: ${dup.toSeq.sorted.mkString(", ")}")
    all
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = gated.map(g => g.name -> g.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] =
    gated.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
