package perfbench

import java.io.File
import java.util.concurrent.Executors

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Ivf, Knn}

/** One measured op: its kind, latency and verdict (None = checked outside the JVM). */
final class OpRecord(val i: Int, val kind: String) {
  var ms: Double = 0.0
  var traced: Boolean = false
  var ok: Option[Boolean] = Some(true)
  var err: String = ""
  def fail(why: String): Unit = if (ok.contains(true)) { ok = Some(false); err = why }
  def toMap: Map[String, Any] = Map("i" -> i, "kind" -> kind, "ms" -> ms,
    "traced" -> traced, "ok" -> ok, "err" -> err)
}

/** Vectors of a generated table, held on the driver for the answer key. */
final class VecTable(val ids: Array[Long], val vecs: Array[Array[Float]],
    val labels: Array[Int]) {
  private val pos: Map[Long, Int] = ids.zipWithIndex.toMap
  def vecOf(id: Long): Array[Float] = pos.get(id).map(vecs(_)).orNull
  def bytes: Long = vecs.map(_.length.toLong * 4).sum
}

object VecTable {
  def load(df: DataFrame, idCol: String, vecCol: String, labelCol: String): VecTable = {
    val rows = df.select(col(idCol).cast("long"), col(vecCol), col(labelCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).sortBy(_._1)
    new VecTable(rows.map(_._1), rows.map(_._2), rows.map(_._3))
  }
}

/**
 * A workload: inputs made from the seed, one op mix, and the answer
 * checks for every op it ran.
 */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  def params: Map[String, Any]
  /** Write this repetition's inputs; returns (write ms, content hash). */
  def datagen(rep: Int): (Double, Long)
  /** Point the workload at the inputs of repetition `rep` (untimed). */
  def prepare(rep: Int): Unit
  /** Ops before the window, numbered below 0: JIT, codegen and caches.
    * A fixed count of ops, long enough that op latency has stopped
    * falling when the window opens. */
  def warmup(): Unit
  /** One timed storage build after the window, warm; its ms. */
  def build(rep: Int): Double
  /** build_s samples in ms, taken after the window. */
  def builds(): Seq[Double] = (0 until 6).map(build)
  /** Closed-loop clients in an untraced window, each sending its next
    * op when its last one returns. */
  def clients: Int = 1
  /** Distance evaluations one op makes (0 where the count is not known up front). */
  def distEvalsPerOp: Double = 0.0
  def op(i: Int, ctx: OpCtx): OpRecord
  /** Check every recorded op against the answer key (after the window). */
  def check(ops: Seq[OpRecord], pool: ExecutionContext): Unit
  /** (true neighbours returned, true neighbours asked for) over the checked ops. */
  def recall: (Double, Double)
  def storageRatio: Double
  /** Per-layer counters this workload computes itself. */
  def layerExtras(ops: Seq[OpRecord]): Map[String, Double] = Map.empty
  /** Traced probes run after the window of a traced run; their per-layer counters. */
  def traceProbes(t: Tracer): Map[String, Double] = Map.empty
  /** Extra rows the Python side checks with DuckDB. */
  def relational: Seq[Map[String, Any]] = Seq.empty
  def tables: Map[String, String] = Map.empty

  import spark.implicits._
  protected def queryDF(qs: Array[(Long, Array[Float])]): DataFrame = qs.toSeq.toDF("query_id", "query_vec")

  protected def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new File(path))
  }

  protected def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Rows of a (qid, rank, nid, dist) answer, grouped per query in rank order. */
  protected def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._2).map(x => (x._3, x._4)).toSeq }

  protected def parallel[T](xs: Seq[T], pool: ExecutionContext)(f: T => Unit): Unit =
    xs.map(x => Future(f(x))(pool)).foreach(Await.result(_, Duration.Inf))

  /** Input of the distance-kernel probe: (table path, vector column, rows). */
  def probeInput: (String, String, Long)
}

object Workload {
  val K = 10
  val Batch = 16

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload = name match {
    case "knn_exact" => new KnnExact(spark, seed, work)
    case "sql_point" => new SqlPoint(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def checkPool(cores: Int): (ExecutionContext, () => Unit) = {
    val ex = Executors.newFixedThreadPool(cores)
    (ExecutionContext.fromExecutor(ex), () => ex.shutdownNow())
  }
}

/**
 * Exact batch KNN: 16-query batches through Knn.knnJoin (k = 10) over a
 * 16k x 256 fp32 clustered corpus whose parquet files every op scans.
 * The distance kernel, the broadcast nested-loop join and the top-k
 * heap do nearly all the work; planning does almost none.
 */
final class KnnExact(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import Workload._
  val mix = Mixture(seed, 16000, 256, 32, 1.0, 0.5)
  // several files per core: a scan task slowed by another tenant then
  // holds up a quarter of a core's share, not all of it
  val Files: Int = 4 * spark.sparkContext.defaultParallelism
  def params: Map[String, Any] = Map("corpus" -> mix.describe, "k" -> K, "batch" -> Batch,
    "files" -> Files)
  private var path = ""
  private var corpus: DataFrame = _
  private var ref: VecTable = _
  private val answers = mutable.Map.empty[Int, (Array[(Long, Array[Float])], Map[Long, Seq[(Long, Double)]])]
  val WarmupOps = 12
  def warmup(): Unit = (1 to WarmupOps).foreach(j => op(-j, Untraced))

  /** A rewrite of the corpus table, the only structure the exact path has. */
  def build(rep: Int): Double =
    timeMs(Gen.corpus(spark, mix, Files).write.mode("overwrite").parquet(s"$work/knn/build"))._2

  def datagen(rep: Int): (Double, Long) = {
    val p = s"$work/knn/rep$rep"
    val (_, ms) = timeMs(Gen.corpus(spark, mix, Files).write.mode("overwrite").parquet(p))
    (ms, Gen.vectorHash(spark.read.parquet(p), "id", "vec", "label"))
  }

  def prepare(rep: Int): Unit = {
    path = s"$work/knn/rep$rep"
    // the table is resolved once; every op's scan still reads the files
    corpus = spark.read.parquet(path)
    ref = VecTable.load(corpus, "id", "vec", "label")
  }

  def op(i: Int, ctx: OpCtx): OpRecord = {
    val rec = new OpRecord(i, "knn_join")
    val qs = mix.queries(i, Batch)
    val df = ctx.call("Knn.knnJoin") {
      Knn.knnJoin(queryDF(qs), "query_vec", "query_id", corpus, "vec", "id", K)
    }
    answers(i) = (qs, byQuery(ctx.collect("collect", df)))
    rec
  }

  private var hits = 0.0
  private var total = 0.0

  def check(ops: Seq[OpRecord], pool: ExecutionContext): Unit =
    parallel(ops, pool) { rec =>
      answers.get(rec.i).foreach { case (qs, got) =>
        qs.foreach { case (qid, q) =>
          val want = Reference.topK(ref.ids, ref.vecs, q, K).toSeq
          val res = got.getOrElse(qid, Seq.empty)
          if (res != want) rec.fail(s"query $qid differs from the exact top-$K")
          synchronized {
            hits += Reference.recall(res.map(_._1), want.map(_._1)) * want.size
            total += want.size
          }
        }
      }
    }

  override def recall: (Double, Double) = (hits, total)

  def storageRatio: Double = dirBytes(path).toDouble / ref.bytes
  override def distEvalsPerOp: Double = Batch.toDouble * mix.n

  override def layerExtras(ops: Seq[OpRecord]): Map[String, Double] = Map(
    "operators.candidates_per_query" -> mix.n.toDouble,
    "operators.useful_ratio" -> K.toDouble / mix.n)

  def probeInput: (String, String, Long) = (path, "vec", mix.n.toLong)
}

/**
 * Short pgvector-style statements through spark.sql over a 2,000-row
 * clustered embeddings table and a 100k-row lineitem: the PG parser and
 * rewriter, statement routing, Catalyst and job scheduling own the
 * latency floor, and the distance kernel does almost nothing. One
 * closed-loop client per core draws from a seed-shuffled deck of 30
 * statements with exactly one CREATE INDEX ... USING ivfflat per deck;
 * build_s times more of them after the window. The index-routed KNN
 * statements probe 4 of 16 ivfflat lists or 4 of 8 hnsw shards, so
 * they are approximate: their rows are checked exactly and their
 * misses are recall.
 */
final class SqlPoint(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import Workload._
  import spark.implicits._
  val mix = Mixture(seed, 2000, 64, 20, 1.0, 0.6)
  val LineitemRows = 100000L
  val IvfLists = 16
  val HnswLists = 8
  val Probes = 4
  // Ordered by typical latency the deck stacks into bands: l2/cos/ip/ivf/
  // filter 0-73%, q6 + dist_proj 73-80%, hnsw 80-83%, q1 83-97%, create
  // 97-100%. The median falls well inside the first band and the p90
  // tail inside the q1 band, so neither sits on the thin stretch
  // between two bands, where a few slower ops would move it far.
  val deck: Seq[String] = Seq("create_index") ++ Seq.fill(5)("knn_l2") ++
    Seq.fill(4)("knn_cos") ++ Seq.fill(4)("knn_ip") ++ Seq.fill(5)("knn_ivf") ++
    Seq.fill(4)("knn_filter") ++ Seq("q6", "dist_proj", "knn_hnsw") ++ Seq.fill(4)("q1")
  /** Statements before the window: one deck, in order. */
  val WarmupOps = 30
  // One client per core. With one, each statement's dozen thread
  // hand-offs (driver, DAG scheduler, executor) mostly wake an idle
  // vCPU, and on a shared host that wake-up cost follows the host's
  // steal: the median moved by a third between runs. With every core
  // busy, steal costs the statements only the CPU time it takes.
  override def clients: Int = spark.sparkContext.defaultParallelism
  def params: Map[String, Any] = Map("embeddings" -> mix.describe, "lineitem_rows" -> LineitemRows,
    "k" -> K, "ivf_lists" -> IvfLists, "hnsw_lists" -> HnswLists, "probes" -> Probes, "deck" -> deck)
  private var dir = ""
  private var ref: VecTable = _
  private val answers = TrieMap.empty[Int, (String, Array[Float], Int, Array[Row])]
  private val rel = ArrayBuffer.empty[Map[String, Any]]
  private val sqls = ArrayBuffer.empty[String]
  private val pathRecall = mutable.Map.empty[String, (Double, Double)].withDefaultValue((0.0, 0.0))
  def warmup(): Unit = (0 until WarmupOps).foreach(j => run(-1 - j, deck(j % deck.size), Untraced))

  def build(rep: Int): Double = timeMs(run(-1000 - rep, "create_index", Untraced))._2

  /** Two rounds of one build per client at once: like the window's
    * statements, a build timed alone mostly waits on waking idle vCPUs. */
  override def builds(): Seq[Double] = {
    val (pool, stop) = Workload.checkPool(clients)
    try (0 until 2).flatMap { round =>
      (0 until clients).map(c => Future(build(round * clients + c))(pool))
        .map(Await.result(_, Duration.Inf))
    } finally stop()
  }

  private def createIvf(table: String, index: String) = s"CREATE INDEX $index ON $table " +
    s"USING ivfflat (embedding vector_l2_ops) WITH (lists = $IvfLists)"
  private val createHnsw = "CREATE INDEX emb_hx_idx ON emb_hx USING hnsw " +
    s"(embedding vector_l2_ops) WITH (m = 8, ef_construction = 48, lists = $HnswLists)"

  def datagen(rep: Int): (Double, Long) = {
    val d = s"$work/sql/rep$rep"
    val (_, ms) = timeMs {
      Gen.corpus(spark, mix).select(col("id").as("vec_id"), col("vec").as("embedding"),
        col("label")).coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings")
      Gen.lineitem(spark, seed, LineitemRows).write.mode("overwrite").parquet(s"$d/lineitem")
    }
    val h = Gen.vectorHash(spark.read.parquet(s"$d/embeddings"), "vec_id", "embedding", "label") ^
      Gen.vectorHash(spark.read.parquet(s"$d/lineitem"), "*")
    (ms, h)
  }

  def prepare(rep: Int): Unit = {
    dir = s"$work/sql/rep$rep"
    val emb = spark.read.parquet(s"$dir/embeddings")
    Seq("emb", "emb_ix", "emb_hx", "emb_cx").foreach(emb.createOrReplaceTempView)
    spark.read.parquet(s"$dir/lineitem").createOrReplaceTempView("lineitem")
    ref = VecTable.load(emb, "vec_id", "embedding", "label")
    spark.conf.set("ivfflat.probes", Probes.toString)
    spark.conf.set("hnsw.nprobe", Probes.toString)
    Seq(createIvf("emb_ix", "emb_ix_idx"), createHnsw).foreach(spark.sql(_).collect())
  }

  private def kindOf(i: Int): String = {
    val r = new java.util.Random(Gen.mix(seed, 7000000L + i / deck.size))
    val shuffled = deck.toArray
    for (j <- shuffled.indices.reverse) {
      val s = r.nextInt(j + 1); val t = shuffled(j); shuffled(j) = shuffled(s); shuffled(s) = t
    }
    shuffled(Math.floorMod(i, deck.size))
  }

  private def vecLit(q: Array[Float]) = q.mkString("'[", ",", "]'::vector")

  private def knnSql(table: String, op: String, q: Array[Float], where: String) =
    s"SELECT vec_id, round(embedding $op ${vecLit(q)}, 6) AS d FROM $table$where " +
      s"ORDER BY embedding $op ${vecLit(q)}, vec_id LIMIT $K"

  private lazy val q1Template = graft.SparkEntry.oracleSql("q1_pricing")
  private lazy val q6Template = graft.SparkEntry.oracleSql("q6_forecast")

  def op(i: Int, ctx: OpCtx): OpRecord = run(i, kindOf(i), ctx)

  private def run(i: Int, kind: String, ctx: OpCtx): OpRecord = {
    val rec = new OpRecord(i, kind)
    val r = new java.util.Random(Gen.mix(seed, 9000000L + i))
    val q = mix.queries(i.toLong, 1).head._2
    def exec(sql: String): Array[Row] = {
      sqls.synchronized { sqls += sql }
      val df = ctx.call("spark.sql")(spark.sql(sql))
      ctx.collect("collect", df)
    }
    def answer(arg: Int, sql: String): Unit = answers(i) = (kind, q, arg, exec(sql))
    kind match {
      case "create_index" =>
        // its own table and index name, so statements running beside it
        // never see the routed indexes change; dropped again, so the
        // index directory does not grow with the op count
        val name = s"emb_cx_idx_${i.toString.replace('-', 'n')}"
        exec(createIvf("emb_cx", name))
        exec(s"DROP INDEX $name")
      case "knn_l2" => answer(-1, knnSql("emb", "<->", q, ""))
      case "knn_cos" => answer(-1, knnSql("emb", "<=>", q, ""))
      case "knn_ip" => answer(-1, knnSql("emb", "<#>", q, ""))
      case "knn_ivf" => answer(-1, knnSql("emb_ix", "<->", q, ""))
      case "knn_hnsw" => answer(-1, knnSql("emb_hx", "<->", q, ""))
      case "knn_filter" =>
        val label = r.nextInt(mix.clusters)
        answer(label, knnSql("emb", "<->", q, s" WHERE label = $label"))
      case "dist_proj" =>
        val m = r.nextInt(50)
        answer(m, s"SELECT vec_id, round(embedding <-> ${vecLit(q)}, 6) AS d " +
          s"FROM emb WHERE vec_id % 50 = $m ORDER BY vec_id")
      case "q1" =>
        val cut = java.time.LocalDate.of(1998, 6, 1).plusDays(r.nextInt(1190).toLong)
        require(q1Template.contains("2001-09-02"), "q1 template changed shape")
        val sql = q1Template.replace("2001-09-02", cut.toString)
        val rows = exec(sql)
        if (i >= 0) rel.synchronized { rel += relational(i, sql, rows) }
      case "q6" =>
        require(Seq("1997-01-01", "1998-01-01", "BETWEEN 0.05 AND 0.07", "l_quantity < 24")
          .forall(q6Template.contains), "q6 template changed shape")
        val y = 1995 + r.nextInt(6); val d = 2 + r.nextInt(7); val qty = 20 + r.nextInt(11)
        val sql = q6Template.replace("1997-01-01", s"$y-01-01").replace("1998-01-01", s"${y + 1}-01-01")
          .replace("BETWEEN 0.05 AND 0.07", s"BETWEEN 0.0${d - 1} AND 0.0${d + 1}")
          .replace("l_quantity < 24", s"l_quantity < $qty")
        val rows = exec(sql)
        if (i >= 0) rel.synchronized { rel += relational(i, sql, rows) }
    }
    if (kind == "q1" || kind == "q6") rec.ok = None
    rec
  }

  private def relational(i: Int, sql: String, rows: Array[Row]): Map[String, Any] =
    Map("op" -> i, "sql" -> sql, "rows" -> rows.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.doubleValue()
      case x => x
    }).toSeq)

  def check(ops: Seq[OpRecord], pool: ExecutionContext): Unit =
    parallel(ops, pool) { rec =>
      answers.get(rec.i).foreach { case (kind, q, arg, rows) =>
        val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        def exact(metric: String, rows: Array[Int] = null) =
          Reference.topK(ref.ids, ref.vecs, q, K, metric, rows).toSeq
        kind match {
          case "knn_ivf" | "knn_hnsw" =>
            Reference.annError(got, ref.vecOf, q, K).foreach(e => rec.fail(s"$kind: $e"))
            val want = exact("l2").map(_._1)
            val h = Reference.recall(got.map(_._1), want) * want.size
            synchronized {
              val (a, b) = pathRecall(kind); pathRecall(kind) = (a + h, b + want.size)
            }
          case _ =>
            val want = kind match {
              case "knn_l2" => exact("l2")
              case "knn_cos" => exact("cosine")
              case "knn_ip" => exact("negip")
              case "knn_filter" => exact("l2", ref.labels.indices.filter(ref.labels(_) == arg).toArray)
              case "dist_proj" =>
                ref.ids.indices.filter(j => ref.ids(j) % 50 == arg)
                  .map(j => (ref.ids(j), Reference.round6(Reference.dist("l2", ref.vecs(j), q))))
            }
            if (got != want) rec.fail(s"$kind differs from the reference")
        }
      }
    }

  override def recall: (Double, Double) =
    pathRecall.values.foldLeft((0.0, 0.0)) { case ((a, b), (h, t)) => (a + h, b + t) }

  def storageRatio: Double = dirBytes(s"$work/vindex").toDouble / ref.bytes

  override def relational: Seq[Map[String, Any]] = rel.toSeq
  override def tables: Map[String, String] = Map("lineitem" -> s"$dir/lineitem")

  override def layerExtras(ops: Seq[OpRecord]): Map[String, Double] = {
    val texts = sqls.distinct.toSeq
    val ms = texts.map(s => timeMs(graft.plans.PgSqlRewrite.rewrite(s))._2)
    def rec(p: String) = { val (a, b) = pathRecall(p); if (b > 0) a / b else 0.0 }
    Map("plans.rewrite_ms" -> (if (ms.isEmpty) 0.0 else ms.sum / ms.size),
      "ann.ivf_recall_at_10" -> rec("knn_ivf"), "ann.hnsw_recall_at_10" -> rec("knn_hnsw"))
  }

  /**
   * The index lifecycle behind this workload's CREATE INDEX and routed
   * statements, through the operator API on the same table: IVF
   * training and list write, the clustered HNSW build, and batch search
   * through Ivf.knnJoin and Hnsw.searchManyRoutedDF.
   */
  override def traceProbes(t: Tracer): Map[String, Double] = {
    val emb = spark.read.parquet(s"$dir/embeddings")
    val p = s"$work/probe"
    var ivf: Ivf.Model = null
    var ms = Map.empty[String, Double]
    t.op(3000000, "index build") { ctx =>
      val (m, trainMs) = timeMs(ctx.call("Ivf.buildSampled")(Ivf.buildSampled(emb, "embedding", IvfLists)))
      val (_, writeMs) = timeMs(ctx.call("Ivf.writeIndex")(Ivf.writeIndex(emb, "embedding", m, s"$p/ivf")))
      val (_, hnswMs) = timeMs(ctx.call("Hnsw.buildIndexClustered") {
        val m8 = Ivf.buildSampled(emb, "embedding", HnswLists)
        Hnsw.buildIndexClustered(emb, "embedding", "vec_id", m8).toDF
          .write.mode("overwrite").partitionBy("part_id").parquet(s"$p/hnsw")
        ivf = m8
      })
      ms = Map("operators.ivf_train_ms" -> trainMs, "operators.ivf_write_ms" -> writeMs,
        "operators.hnsw_build_ms" -> hnswMs)
      // candidates the routed statements scan: rows in their probed lists
      val sizes = spark.read.parquet(s"$p/ivf").groupBy("list_id").count().as[(Int, Long)].collect().toMap
      val cand = answers.collect { case (i, ("knn_ivf", q, _, _)) if i >= 0 =>
        m.probes(q, Probes).map(l => sizes.getOrElse(l, 0L)).sum.toDouble }
      if (cand.nonEmpty) {
        val c = cand.sum / cand.size
        ms ++= Map("operators.candidates_per_query" -> c, "operators.useful_ratio" -> K / c)
      }
    }
    val hnsw = spark.read.parquet(s"$p/hnsw").as[Hnsw.GraphRow]
    val batches = (0 until 2).map { b =>
      val qs = mix.queries(5000000L + b, Batch)
      val iv = timeMs(t.op(3000001 + 2 * b, "Ivf.knnJoin batch") { ctx =>
        ctx.collect("collect", ctx.call("Ivf.knnJoin")(Ivf.knnJoin(queryDF(qs), "query_vec", "query_id",
          spark.read.parquet(s"$p/ivf"), "embedding", "vec_id", ivf, K, Probes)))
      })._2
      val hs = timeMs(t.op(3000002 + 2 * b, "Hnsw.searchManyRoutedDF batch") { ctx =>
        ctx.collect("collect", ctx.call("Hnsw.searchManyRoutedDF")(Hnsw.searchManyRoutedDF(
          hnsw, ivf, queryDF(qs), "query_id", "query_vec", K, Probes)))
      })._2
      (iv, hs, t.counter(3000002 + 2 * b, "exec.shuffle_write_bytes"))
    }
    ms ++ Map("ann.ivf_batch_ms" -> Stats.median(batches.map(_._1)),
      "ann.hnsw_batch_ms" -> Stats.median(batches.map(_._2)),
      "ann.hnsw_shuffle_bytes" -> Stats.median(batches.map(_._3)))
  }

  def probeInput: (String, String, Long) = (s"$dir/embeddings", "embedding", mix.n.toLong)
}
