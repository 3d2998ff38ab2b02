package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/**
 * One benchmark run of one workload in one JVM, driven by perfbench/run.py:
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --work DIR --out FILE [--spans FILE] [--cores C]
 *
 * Order: box probe, session, SetupReps input generations (their hashes
 * must agree: the determinism check), warm-up ops, the measured closed
 * loop of the workload's clients for S seconds, timed storage builds,
 * answer checks, box probe. With --trace 1 every other op runs traced,
 * so the tracing overhead is the latency gap between the two halves.
 */
object Main {
  val SetupReps = 2
  val ProbeReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

    val jvm0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: ${(System.nanoTime() - jvm0) / 1e9}%.1fs $what")
    val box0 = Box.sample(cores)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    try {
      phase("session up")
      val wl = Workload(workload, spark, seed, work)
      val setups = (0 until SetupReps).map(wl.datagen)
      phase("inputs generated")
      wl.prepare(SetupReps - 1)
      phase("inputs prepared")
      val w0 = System.nanoTime()
      wl.warmup()
      val warmupMs = (System.nanoTime() - w0) / 1e6
      phase("warmed up")

      val tracer = if (trace) Some(new Tracer(spark, cores)) else None
      // A traced run keeps one client: the tracer's GC, JIT and codegen
      // counters are process-wide, so they are an op's own only when no
      // other op runs beside it.
      val clients = if (trace) 1 else wl.clients
      val ops = ArrayBuffer.empty[OpRecord]
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val m0 = System.nanoTime()
      def client(): Unit = while ((System.nanoTime() - m0) / 1e9 < seconds) {
        val i = next.getAndIncrement()
        val traced = tracer.isDefined && i % 2 == 1
        val s0 = System.nanoTime()
        val rec = try {
          tracer.filter(_ => traced) match {
            case Some(t) => t.op(i, s"op $i")(ctx => wl.op(i, ctx))
            case None => wl.op(i, Untraced)
          }
        } catch {
          case e: Throwable =>
            val r = new OpRecord(i, "error")
            r.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
            r
        }
        rec.ms = (System.nanoTime() - s0) / 1e6
        rec.traced = traced
        ops.synchronized { ops += rec }
      }
      val others = (1 until clients).map(_ => new Thread(() => client()))
      others.foreach(_.start())
      client()
      others.foreach(_.join())
      ops.sortInPlaceBy(_.i)
      val windowS = (System.nanoTime() - m0) / 1e9

      phase(s"window closed after ${ops.size} ops")
      val buildMs = wl.builds()
      phase("builds timed")
      val (pool, stop) = Workload.checkPool(cores)
      try wl.check(ops.toSeq, pool) finally stop()
      phase("answers checked")

      val layers: Map[String, Double] = tracer.map { t =>
        val (p, vc, n) = wl.probeInput
        val dim = spark.read.parquet(p).select(col(vc)).head().getSeq[Float](0).length
        val probeIds = (0 until ProbeReps).map(r => 1000000 + r)
        probeIds.foreach { id =>
          t.op(id, "l2 probe") { _ =>
            spark.read.parquet(p)
              .select(graft.functions.VectorFunctions.l2Distance(col(vc), lit(Array.fill(dim)(0.5f))))
              .write.format("noop").mode("overwrite").save()
          }
        }
        val probeNs = Stats.median(probeIds.map(id => t.counter(id, "exec.task_cpu_ms") * 1e6 / n))
        val probes = wl.traceProbes(t)
        val (perOp, spans) = t.summary(ops.filter(_.traced).map(_.i).toSet)
        writeSpans(a.get("spans"), spans)
        val cpuS = perOp.getOrElse("exec.task_cpu_ms", 0.0) / 1000
        perOp ++ wl.layerExtras(ops.toSeq) ++ probes ++ Map(
          "setup.session_ms" -> sessionMs,
          "setup.datagen_ms" -> Stats.median(setups.map(_._1)),
          "setup.warmup_ms" -> warmupMs,
          "functions.l2_probe_ns_per_eval" -> probeNs,
          "functions.dist_evals_per_cpu_s" ->
            (if (cpuS > 0 && wl.distEvalsPerOp > 0) wl.distEvalsPerOp / cpuS else 0.0))
      }.getOrElse(Map.empty)

      val box = Box.verdict(box0, Box.sample(cores), cores)
      val (hits, total) = wl.recall
      val result = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
        "trace" -> trace, "params" -> wl.params,
        "setup" -> Map("session_ms" -> sessionMs, "datagen_ms" -> setups.map(_._1),
          "warmup_ms" -> warmupMs, "hashes" -> setups.map(_._2.toString),
          "deterministic" -> (setups.map(_._2).distinct.size == 1)),
        "build_ms" -> buildMs, "window_s" -> windowS,
        "ops" -> ops.map(_.toMap), "recall" -> Map("hits" -> hits, "total" -> total),
        "storage_ratio" -> wl.storageRatio, "relational" -> wl.relational,
        "tables" -> wl.tables, "layers" -> layers, "box" -> box,
        "peak_rss_mb" -> peakRssMb())
      Files.write(Paths.get(a("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
      phase("result written")
    } finally spark.stop()
    phase("session stopped")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("graft.index.dir", s"$work/vindex")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def writeSpans(path: Option[String], spans: Seq[Span]): Unit =
    path.foreach { p =>
      val body = spans.sortBy(s => (s.op, s.start)).map(s => Json.render(s.toMap)).mkString("\n")
      Files.write(Paths.get(p), (body + "\n").getBytes(StandardCharsets.UTF_8))
    }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
