package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.SparkAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One span: `layer` is op, call, action, catalyst, job, stage or task. */
final case class Span(op: Int, id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("op" -> op, "id" -> id, "parent" -> parent,
    "layer" -> layer, "name" -> name, "start_ms" -> start, "end_ms" -> end)
}

/** Per-op counters filled by the harness and the Spark listener. */
final class OpStats {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
}

/** What a workload's op body sees: the layer boundaries it crosses. */
trait OpCtx {
  /** An operator call or `spark.sql` call that returns a DataFrame. */
  def call[T](name: String)(body: => T): T
  /** The action that runs a DataFrame; returns its rows. */
  def collect(name: String, df: DataFrame): Array[Row]
}

object Untraced extends OpCtx {
  def call[T](name: String)(body: => T): T = body
  def collect(name: String, df: DataFrame): Array[Row] = df.collect()
}

/**
 * The traced run's recorder. Spans of one op share its number, which
 * also tags every Spark job the op starts (local property
 * `perfbench.op`, carried into the job's properties); stages and tasks
 * inherit the op of their job. Spans stay in memory and are written
 * once, when the run ends.
 */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  private val stats = mutable.Map.empty[Int, OpStats]
  private val jobs = mutable.Map.empty[Int, (Int, Long, Double)] // job -> (op, span, start)
  private val stages = mutable.Map.empty[Int, (Int, Long, Long)] // stage -> (op, job span, span)
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def add(s: Span): Unit = spans.synchronized { spans += s }
  private def statsOf(op: Int): OpStats = stats.synchronized(stats.getOrElseUpdate(op, new OpStats))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      tag.flatMap(_.toIntOption).foreach { op =>
        val id = ids.getAndIncrement()
        jobs.synchronized { jobs(e.jobId) = (op, id, e.time.toDouble) }
        stages.synchronized { e.stageIds.foreach(s => stages(s) = (op, id, ids.getAndIncrement())) }
        statsOf(op).add("exec.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.remove(e.jobId)).foreach { case (op, id, start) =>
        add(Span(op, id, 0L, "job", s"job ${e.jobId}", start, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.synchronized(stages.get(si.stageId)).foreach { case (op, jobSpan, span) =>
        val s0 = si.submissionTime.getOrElse(0L).toDouble
        val s1 = si.completionTime.getOrElse(s0.toLong).toDouble
        add(Span(op, span, jobSpan, "stage",
          s"stage ${si.stageId}.${si.attemptNumber()}", s0, s1))
        statsOf(op).add("exec.stages", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.synchronized(stages.get(e.stageId)).foreach { case (op, _, stageSpan) =>
        val st = statsOf(op)
        val ti = e.taskInfo
        add(Span(op, ids.getAndIncrement(), stageSpan, "task", s"task ${ti.taskId}",
          ti.launchTime.toDouble, ti.finishTime.toDouble))
        st.add("exec.tasks", 1)
        if (e.reason != org.apache.spark.Success) st.add("exec.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          val run = m.executorRunTime.toDouble
          val dur = (ti.finishTime - ti.launchTime).toDouble
          st.add("exec.task_run_ms", run)
          st.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          st.add("exec.gc_ms", m.jvmGCTime.toDouble)
          st.add("exec.scheduler_delay_ms", math.max(0.0, dur - run -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L)))
          st.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          st.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          st.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          st.add("exec.result_bytes", m.resultSize.toDouble)
        }
      }
  }
  sc.addSparkListener(listener)

  private def gcMs(): Double = {
    var s = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s.toDouble
  }
  private def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Run one op with every layer boundary recorded; returns its body's value. */
  def op[T](op: Int, name: String)(body: OpCtx => T): T = {
    val st = statsOf(op)
    val opSpan = ids.getAndIncrement()
    val gc0 = gcMs(); val jit0 = jitMs(); val (cg0, cgMs0) = SparkAccess.codegen()
    sc.setLocalProperty("perfbench.op", op.toString)
    sc.setJobDescription(s"perfbench op $op $name")
    val ctx = new OpCtx {
      def call[A](n: String)(b: => A): A = {
        val t0 = nowMs
        try b finally {
          val t1 = nowMs
          add(Span(op, ids.getAndIncrement(), opSpan, "call", n, t0, t1))
        }
      }
      def collect(n: String, df: DataFrame): Array[Row] = {
        val t0 = nowMs
        val rows = try df.collect() finally {
          add(Span(op, ids.getAndIncrement(), opSpan, "action", n, t0, nowMs))
        }
        val qe = df.queryExecution
        qe.tracker.phases.foreach { case (phase, p) =>
          add(Span(op, ids.getAndIncrement(), opSpan, "catalyst", phase,
            p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          st.add(s"catalyst.${phase}_ms", p.durationMs.toDouble)
        }
        planNodes(qe.executedPlan).foreach { node =>
          val kind = node.getClass.getSimpleName.stripSuffix("$").stripSuffix("Exec")
          node.metrics.foreach { case (key, m) =>
            if (key == "numOutputRows") st.add(s"node.$kind.rows", m.value.toDouble)
            else if (m.metricType == "timing") st.add(s"node.$kind.time_ms", m.value.toDouble)
            else if (m.metricType == "nsTiming") st.add(s"node.$kind.time_ms", m.value / 1e6)
          }
        }
        rows
      }
    }
    val t0 = nowMs
    try body(ctx) finally {
      val t1 = nowMs
      sc.setLocalProperty("perfbench.op", null)
      sc.setJobDescription(null)
      SparkAccess.drainListenerBus(sc)
      add(Span(op, opSpan, 0L, "op", name, t0, t1))
      val (cg1, cgMs1) = SparkAccess.codegen()
      st.add("catalyst.codegen_compiles", (cg1 - cg0).toDouble)
      st.add("catalyst.codegen_compile_ms", cgMs1 - cgMs0)
      st.add("jvm.gc_pause_ms", gcMs() - gc0)
      st.add("jvm.jit_ms", jitMs() - jit0)
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def counter(op: Int, key: String): Double = statsOf(op).c(key)

  /**
   * Spans and counters of the traced ops `ops`, reduced to per-op means,
   * and every span recorded. Jobs and Catalyst phases get as parent the
   * innermost call or action of their op that was open when they began.
   */
  def summary(ops: Set[Int]): (Map[String, Double], Seq[Span]) = {
    val all = spans.synchronized(spans.toList).groupBy(_.op).values.flatMap { ss =>
      val calls = ss.filter(s => s.layer == "call" || s.layer == "action")
      val root = ss.find(_.layer == "op").map(_.id).getOrElse(0L)
      ss.map { s =>
        if (s.layer != "job" && s.layer != "catalyst") s
        else s.copy(parent = calls.filter(c => c.start <= s.start && s.start <= c.end)
          .sortBy(c => c.end - c.start).headOption.map(_.id).getOrElse(root))
      }
    }.toList
    val byOp = all.groupBy(_.op)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { op =>
      val ss = byOp.getOrElse(op, Nil)
      val st = statsOf(op)
      st.c.foreach { case (k, v) => acc(k) += v }
      def of(layers: String*) = ss.filter(s => layers.contains(s.layer)).map(s => (s.start, s.end))
      val opIv = of("op")
      val driver = of("call", "action")
      val cat = of("catalyst")
      val job = of("job")
      val stage = of("stage")
      val task = of("task")
      val opMs = Intervals.length(opIv)
      acc("self.op_ms") += opMs - Intervals.overlap(opIv, driver)
      acc("self.call_ms") += Intervals.length(driver) - Intervals.overlap(driver, cat ++ job)
      acc("self.catalyst_ms") += Intervals.length(cat) - Intervals.overlap(cat, job)
      acc("self.job_ms") += Intervals.length(job) - Intervals.overlap(job, stage)
      acc("self.stage_ms") += Intervals.length(stage) - Intervals.overlap(stage, task)
      acc("self.task_ms") += Intervals.length(task)
      val calls = ss.filter(_.layer == "call")
      val op0 = calls.filter(_.name != "spark.sql")
      acc("operators.construct_ms") += op0.map(s => s.end - s.start).sum
      acc("operators.construct_jobs") += ss.count(j => j.layer == "job" &&
        op0.exists(c => j.start >= c.start && j.start <= c.end))
      acc("plans.sql_call_ms") += calls.filter(_.name == "spark.sql").map(s => s.end - s.start).sum
      val run = st.c("exec.task_run_ms")
      if (opMs > 0) acc("exec.core_busy_ratio") += run / (opMs * cores)
    }
    val n = math.max(1, ops.size).toDouble
    (acc.map { case (k, v) => k -> v / n }.toMap, all)
  }
}

/** Length arithmetic over unions of [start, end] intervals. */
object Intervals {
  def merge(xs: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = ArrayBuffer.empty[(Double, Double)]
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  def length(xs: Seq[(Double, Double)]): Double = merge(xs).map(x => x._2 - x._1).sum

  /** Length of union(a) intersected with union(b). */
  def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double = {
    val ma = merge(a); val mb = merge(b)
    var i = 0; var j = 0; var tot = 0.0
    while (i < ma.size && j < mb.size) {
      val lo = math.max(ma(i)._1, mb(j)._1); val hi = math.min(ma(i)._2, mb(j)._2)
      if (hi > lo) tot += hi - lo
      if (ma(i)._2 < mb(j)._2) i += 1 else j += 1
    }
    tot
  }
}
