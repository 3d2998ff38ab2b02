package graft

import graft.functions.{VectorDistance, VectorMetrics}
import graft.operators.{Ivf, Knn}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/**
 * The crossJoin formulation that `Knn.knnJoin` ran before the fused
 * operator: a broadcast nested-loop join, `round(dist, 6)` per pair and
 * a partial `topk_pairs` aggregate. Kept as the parity reference.
 */
object KnnJoinReference {
  def knnJoin(queries: DataFrame, qVecCol: String, qIdCol: String,
      corpus: DataFrame, vecCol: String, idCol: String, k: Int,
      metric: String): DataFrame = {
    def dist(a: Column, b: Column): Column = Bridge.column(VectorDistance(
      Bridge.expression(a.cast("array<float>")),
      Bridge.expression(b.cast("array<float>")), metric))
    val q = broadcast(queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qv")))
    val pairs = corpus.crossJoin(q)
      .select(col("qid"), col(idCol).cast("long").as("nid"),
        round(dist(col(vecCol), col("qv")), 6).as("dist"))
    Knn.explodeTopK(pairs
      .groupBy(col("qid"))
      .agg(Knn.topKPairs(col("nid"), col("dist"), k).as("nn")))
  }
}

class KnnJoinSpec extends SparkSpec {

  private val corpusSchema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
  private val querySchema = StructType(Seq(
    StructField("qid", LongType), StructField("qv", ArrayType(FloatType))))

  /** An RDD-backed frame, so Catalyst cannot fold it into a local relation;
    * `slices` above the row count leaves partitions empty. */
  private def frame(schema: StructType, rows: Seq[Row], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  private def corpus(rows: Seq[(java.lang.Long, Array[Float])], slices: Int): DataFrame =
    frame(corpusSchema, rows.map { case (id, v) => Row(id, Option(v).map(_.toSeq).orNull) },
      slices)

  private def queries(rows: Seq[(java.lang.Long, Array[Float])]): DataFrame =
    frame(querySchema, rows.map { case (id, v) => Row(id, Option(v).map(_.toSeq).orNull) }, 2)

  /** (qid, rank, nid, dist bits), in (qid, rank) order. */
  private def rows(df: DataFrame): Seq[(Any, Int, Long, Long)] =
    df.collect().toSeq.map(r => (r.get(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(t => (Option(t._1).map(_.toString).getOrElse(""), t._2))

  private def assertParity(q: DataFrame, qVec: String, c: DataFrame, k: Int,
      metrics: Seq[String] = VectorMetrics.all): Unit =
    for (m <- metrics) {
      val fused = Knn.knnJoin(q, qVec, "qid", c, "vec", "id", k, m)
      val ref = KnnJoinReference.knnJoin(q, qVec, "qid", c, "vec", "id", k, m)
      val (got, want) = (rows(fused), rows(ref))
      assert(want.nonEmpty, s"$m: empty reference")
      assert(got == want, s"$m: fused\n${got.mkString("\n")}\nreference\n${want.mkString("\n")}")
    }

  private val rnd = new scala.util.Random(7)
  private def vec(d: Int): Array[Float] = Array.fill(d)(rnd.nextGaussian().toFloat)

  test("fused knn join is bit-identical to the crossJoin formulation for every metric") {
    val dup = vec(8)
    val base = (0 until 60).map(i => (java.lang.Long.valueOf(i.toLong), vec(8)))
    // exact ties: the same vector under several ids, some below the
    // duplicates' own position so the id tie-break decides
    val ties = Seq(100L, 3L, 55L, 61L).map(i => (java.lang.Long.valueOf(i), dup.clone()))
    val c = corpus(base ++ ties, 7)
    val q = queries(Seq((10L, dup.clone()), (11L, vec(8)), (12L, vec(8)), (13L, base(5)._2)))
    assertParity(q, "qv", c, 5)
    assertParity(q, "qv", c, 1)
  }

  test("ties created by rounding at the k-th boundary go to the smaller id") {
    // distances 1, 2, then 3.0 (id 20) and 3.00000048 (id 9), equal only
    // after round(·,6). The raw-nearer one has the larger id and is
    // scanned first, so it fills the heap and sets the bound that the
    // later candidate must still pass; 3.000005 (id 7) must not.
    def at(x: Float): Array[Float] = Array(x, 0f, 0f, 0f)
    val c = corpus(Seq(
      (java.lang.Long.valueOf(1L), at(1f)), (java.lang.Long.valueOf(2L), at(2f)),
      (java.lang.Long.valueOf(20L), at(3f)), (java.lang.Long.valueOf(7L), at(3f + 5e-6f)),
      (java.lang.Long.valueOf(9L), at(3.0000004f)), (java.lang.Long.valueOf(3L), at(9f))), 1)
    val q = queries(Seq((1L, at(0f))))
    assertParity(q, "qv", c, 3)
    val got = Knn.knnJoin(q, "qv", "qid", c, "vec", "id", 3, VectorMetrics.L2)
      .orderBy("rank").select("nid").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 9L))
  }

  test("null ids, null vectors, NaN, k past the corpus and empty partitions") {
    val nan = vec(6); nan(2) = Float.NaN
    val c = corpus(Seq(
      (java.lang.Long.valueOf(1L), vec(6)), (null, vec(6)), (java.lang.Long.valueOf(2L), null),
      (java.lang.Long.valueOf(3L), nan), (java.lang.Long.valueOf(4L), vec(6)),
      (java.lang.Long.valueOf(5L), vec(6))), 16)
    val q = queries(Seq((1L, vec(6)), (2L, null), (null, vec(6))))
    assertParity(q, "qv", c, 50)
    // every non-null row of the corpus, for each non-null query vector
    val n = Knn.knnJoin(q, "qv", "qid", c, "vec", "id", 50).count()
    assert(n == 2 * 4)
  }

  test("array<double> queries are read as array<float>, like the reference") {
    val c = corpus((0 until 30).map(i => (java.lang.Long.valueOf(i.toLong), vec(5))), 3)
    val q = frame(StructType(Seq(StructField("qid", LongType),
        StructField("qd", ArrayType(DoubleType)))),
      (0 until 3).map(i => Row(i.toLong, Seq.fill(5)(rnd.nextGaussian() / 3))), 1)
    assertParity(q, "qd", c, 4)
  }

  test("a dimension mismatch throws") {
    val c = corpus(Seq((java.lang.Long.valueOf(1L), vec(4)), (java.lang.Long.valueOf(2L), vec(3))), 1)
    val q = queries(Seq((1L, vec(4))))
    val e = intercept[Exception](Knn.knnJoin(q, "qv", "qid", c, "vec", "id", 2).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("vector dims differ")), chain(e).mkString(" | "))
  }

  test("knn join plans the fused node, keeps the corpus scan pruned and runs no job to build") {
    // a private copy: other specs cache the shared embeddings table, and a
    // cached plan would replace the file scan under test
    val dir = java.nio.file.Files.createTempDirectory("graft_knnjoin").toFile
    try {
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .write.mode("overwrite").parquet(dir.getPath)
      val emb = spark.read.parquet(dir.getPath)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val df = try {
        val df = Knn.knnJoin(emb.filter(col("vec_id") < 3), "embedding", "vec_id",
          emb, "embedding", "vec_id", 5)
        Thread.sleep(300) // the listener bus is asynchronous
        df
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get() == 0, "knnJoin ran a job before its action")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("KnnJoin 5, l2"))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def nodes(n: SparkPlan): Seq[SparkPlan] = n match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case s: QueryStageExec => s +: nodes(s.plan)
        case o => o +: o.children.flatMap(nodes)
      }
      val all = nodes(df.queryExecution.executedPlan)
      val scan = all.collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.requiredSchema.fieldNames.contains("embedding") && f.dataFilters.isEmpty => f }.get
      assert(scan.requiredSchema.fieldNames.toSeq == Seq("vec_id", "embedding"))
      val node = all.collect { case n: graft.plans.KnnJoinExec => n }.head
      val m = node.metrics.map { case (k, v) => k -> v.value }
      assert(m("pairs") == 3 * emb.count())
      assert(m("pairs") == m("pairs_pruned") + m("pairs_rounded"))
      assert(m("pairs_pruned") > 0, s"no candidate pruned: $m")
    } finally rmTree(dir)
  }

  test("query columns named qv/qid and a corpus with its own qid column") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpusWithQid = emb.withColumn("qid", lit(-1L))
    val exact = Knn.knnJoin(qs, "qv", "qid", corpusWithQid, "embedding", "vec_id", 5)
    val want = Knn.knnJoin(emb.filter(col("vec_id") < 3), "embedding", "vec_id",
      emb, "embedding", "vec_id", 5)
    assert(rows(exact) == rows(want))
    val model = Ivf.build(emb, "embedding", nlists = 4)
    val tagged = Ivf.assign(emb, "embedding", model).withColumn("qid", lit(-1L))
    val viaIvf = Ivf.knnJoin(qs, "qv", "qid", tagged, "embedding", "vec_id",
      model, 5, nprobe = 4)
    assert(rows(viaIvf) == rows(want))
  }
}
