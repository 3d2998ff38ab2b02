package graft

import graft.operators.Ivf

class EntrySpec extends SparkSpec {

  test("driver contract: entry returns rows; every oracle key has a query") {
    assert(SparkEntry.entry(spark).count() > 0)
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    // a name defined twice is an error, not a silent last-one-wins
    def g(n: String) = SparkEntry.Gated(n, (_, _) => null, None)
    val e = intercept[IllegalArgumentException](
      SparkEntry.union(Seq(Seq(g("a"), g("b")), Seq(g("c")), Seq(g("b")))))
    assert(e.getMessage.contains("defined twice: b"), e.getMessage)
  }

  test("gated set: 348 builders, 341 oracles, 7 rows-only queries") {
    // a record that loses its oracle must fail here, not silently turn
    // rows-only (the 348 include the 4 partsupp-only TPC-H keys)
    assert(SparkEntry.queries.size == 348)
    assert(SparkEntry.oracleSql.size == 341)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("index_advisor", "crypto_cipher", "crypto_crypt", "crypto_hmac",
        "crypto_pgp", "crypto_pgp_pub", "fuzzy_phonetic"))
  }

  test("GraftExtensions wires the topk rewrite rule and strategy") {
    // getOrCreate would return the shared test session (ignoring the
    // extensions conf), so exercise the injection path directly: this
    // is exactly what session building runs under spark.sql.extensions.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val (rules, strategies) =
      org.apache.spark.sql.graft.Bridge.injectedRulesAndStrategies(ext, spark)
    assert(rules.contains(graft.plans.RewriteWindowTopK))
    assert(rules.contains(graft.plans.KnnJoin.pushQidFilter))
    assert(strategies.contains(graft.plans.TopKPerKey.strategy))
    assert(strategies.contains(graft.plans.KnnJoin.strategy))
    assert(org.apache.spark.sql.graft.Bridge.injectedColumnarRules(ext, spark) ==
      Seq(graft.plans.ParamLiterals))
    // the whole SQL-name surface injects at session build (r16)
    val names =
      org.apache.spark.sql.graft.Bridge.injectedFunctionNames(ext).toSet
    assert(graft.functions.SqlFunctions.allBuilders.keySet.subsetOf(names),
      s"missing: ${graft.functions.SqlFunctions.allBuilders.keySet -- names}")
    assert(names.contains("to_tsvector") && names.contains("akeys") &&
      names.contains("crypt") && names.contains("l2_distance"))
    val tfNames =
      org.apache.spark.sql.graft.Bridge.injectedTableFunctionNames(ext).toSet
    assert(tfNames.contains("generate_series") &&
      tfNames.contains("normal_rand"))
  }

  test("GraftExtensions.install is idempotent on an existing session") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    // the extension's injections live in the session state builder, so
    // the experimental lists hold only what install added
    val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(exp.extraOptimizations.count(_ eq graft.plans.RewriteWindowTopK) == 1)
    assert(exp.extraOptimizations.count(_ eq graft.plans.KnnJoin.pushQidFilter) == 1)
    assert(exp.extraStrategies.count(_ eq graft.plans.TopKPerKey.strategy) == 1)
    assert(exp.extraStrategies.count(_ eq graft.plans.KnnJoin.strategy) == 1)
    val fnCounts = s.catalog.listFunctions().collect().toSeq
      .groupBy(_.name).view.mapValues(_.size).toMap
    val want = graft.functions.SqlFunctions.allBuilders.keySet + "generate_series"
    assert(want.forall(n => fnCounts.get(n).contains(1)),
      want.filterNot(n => fnCounts.get(n).contains(1)))
    assert(s.sql("SELECT l2_distance(array(0F, 0F), array(3F, 4F))").head().getDouble(0) == 5.0)
    assert(s.sql("SELECT * FROM generate_series(1, 3)").count() == 3)
  }

  test("generate_series: PG inclusive bounds, signed step, Range plan") {
    assert(spark.sql("SELECT * FROM generate_series(1, 5)")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(spark.sql("SELECT * FROM generate_series(5, 1, -2)")
      .collect().map(_.getLong(0)).toSeq == Seq(5L, 3L, 1L))
    assert(spark.sql("SELECT * FROM generate_series(3, 1)").count() == 0)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM generate_series(1, 5, 0)").collect())
    assert(e.getMessage.contains("step size cannot equal zero"))
    // compiles to a Range scan — distributed, no driver list
    val plan = spark.sql("SELECT * FROM generate_series(1, 1000000)")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Range"), plan)
  }

  test("ivf model save/load round-trips") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    Ivf.saveModel(spark, model, dir)
    val loaded = Ivf.loadModel(spark, dir)
    assert(loaded.nlists == model.nlists)
    assert(loaded.centroids.zip(model.centroids).forall {
      case (a, b) => a.sameElements(b)
    })
  }
}
