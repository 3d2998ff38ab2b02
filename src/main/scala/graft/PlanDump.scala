package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

/**
 * Dev/measurement tool (guide §1): for each named query, write
 * `.explain("formatted")` to <outDir>/<name>.txt and print a
 * one-line breakdown — construction seconds (plan-time jobs included),
 * timed noop-sink execution seconds, and the JOB / STAGE / TASK counts
 * observed in each phase, plus the codegen compiles and their ms
 * (Spark's `CodegenMetrics` deltas) of the timed run. Multi-job queries
 * (driver-side loops, eager statement routing) show up immediately as
 * high job counts. The dump
 * ends with every physical node's SQLMetrics from the timed run (e.g.
 * KnnJoin's pairs / pairs_pruned / pairs_rounded).
 *
 *   sbt "runMain graft.PlanDump <sfDir> <outDir> <name> [<name>...]"
 *
 * Same session config as Bench so the plans match what the driver
 * benches.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <query>...")
    val sfDir = args(0); val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          taskMs.addAndGet(e.taskMetrics.executorRunTime)
      }
    })
    def snap(): (Int, Int, Int, Long) =
      (jobs.get(), stages.get(), tasks.get(), taskMs.get())
    val lastRun = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastRun.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }

    val qs = SparkEntry.queries
    for (name <- args.drop(2)) {
      // warmup (codegen/JIT) — also flushes one full construction
      try {
        qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name warmup failed: ${e.getMessage}")
      }
      val (j0, s0, t0c, m0) = snap()
      val tc0 = System.nanoTime()
      val df = qs(name)(spark, sfDir)
      val tc1 = System.nanoTime()
      // listener events are async — give the bus a beat before snapping
      Thread.sleep(300)
      val (j1, s1, t1c, m1) = snap()
      val planText = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      lastRun.set(null)
      val (cg0, cgMs0) = codegenCompiles()
      val te0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val te1 = System.nanoTime()
      val (cg1, cgMs1) = codegenCompiles()
      Thread.sleep(300)
      val (j2, s2, t2c, m2) = snap()
      val metricText = Option(lastRun.get()).toSeq.flatMap(qe => nodes(qe.executedPlan))
        .filter(_.metrics.nonEmpty)
        .map(n => s"${n.nodeName}: " + n.metrics.toSeq.sortBy(_._1)
          .collect { case (k, m) if m.value != 0 => s"$k=${m.value}" }.mkString(", "))
      Files.writeString(Paths.get(s"$outDir/$name.txt"), planText +
        metricText.mkString("\n== SQL metrics (timed run) ==\n", "\n", "\n"))
      println(f"PLANDUMP $name construct=${(tc1 - tc0) / 1e9}%.3fs " +
        f"(jobs=${j1 - j0} stages=${s1 - s0} tasks=${t1c - t0c} taskMs=${m1 - m0}) " +
        f"exec=${(te1 - te0) / 1e9}%.3fs " +
        f"(jobs=${j2 - j1} stages=${s2 - s1} tasks=${t2c - t1c} taskMs=${m2 - m1} " +
        f"compiles=${cg1 - cg0} compileMs=${cgMs1 - cgMs0}%.1f)")
    }
    spark.stop()
  }

  /** (codegen compiles so far in this JVM, their summed ms while
    * Spark's histogram still holds every sample, else count × mean). */
  private def codegenCompiles(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    (n, if (n <= snap.size()) snap.getValues.sum.toDouble else snap.getMean * n)
  }
}
