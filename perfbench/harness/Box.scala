package perfbench

import java.nio.file.{Files, Paths}

/**
 * Box-quiet probe, taken at the start and the end of every run: a
 * fixed single-thread CPU loop, the same loop on every core at once
 * (which a host short of cores for this machine slows where one
 * thread does not notice), a fixed memory-latency loop (pointer
 * chasing through 32 MB, which a neighbour's cache and bandwidth use
 * slows where the CPU loop does not notice), /proc/loadavg and the
 * /proc/stat steal counter. The verdict is run metadata: a contended
 * run is flagged in the output, never silently used as a quiet one.
 */
object Box {
  final case class Sample(loopMs: Double, parLoopMs: Double, memMs: Double, load1: Double,
      procsRunning: Int, cpuJiffies: Long, stealJiffies: Long) {
    def toMap: Map[String, Any] = Map("loop_ms" -> loopMs, "par_loop_ms" -> parLoopMs,
      "mem_ms" -> memMs, "load1" -> load1, "procs_running" -> procsRunning)
  }

  private val sink = new java.util.concurrent.atomic.AtomicLong // keeps the loops live

  private def xorshift(): Unit = {
    var x = 88172645463325252L; var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink.addAndGet(x)
  }

  private def best(reps: Int)(body: => Unit): Double =
    (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    }.min

  /** Best of five timings of a fixed 20M-step xorshift loop. */
  def loopMs(): Double = best(5)(xorshift())

  /** Best of three timings of the same loop run on `threads` threads at once. */
  def parLoopMs(threads: Int): Double = best(3) {
    val ts = (0 until threads).map(_ => new Thread(() => xorshift()))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** One random cycle through 8M ints (Sattolo's shuffle, fixed seed). */
  private lazy val cycle: Array[Int] = {
    val n = 1 << 23
    val a = Array.tabulate(n)(identity)
    val r = new java.util.SplittableRandom(42L)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  /** Best of three timings of 2M dependent loads along the cycle. */
  def memMs(): Double = {
    val a = cycle
    var best = Double.MaxValue
    var p = 0
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 2000000) { p = a(p); i += 1 }
      best = math.min(best, (System.nanoTime() - t0) / 1e6)
    }
    if (p == -1) println("")
    best
  }

  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }

  def sample(cores: Int): Sample = {
    val loop = loopMs()
    val par = parLoopMs(cores)
    val mem = memMs()
    val load1 = read("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    val stat = read("/proc/stat").split("\n")
    val cpu = stat.find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1)
      .flatMap(_.toLongOption)).getOrElse(Array.empty[Long])
    val running = stat.find(_.startsWith("procs_running"))
      .flatMap(_.split("\\s+").lift(1)).flatMap(_.toIntOption).getOrElse(-1)
    // cpu fields: user nice system idle iowait irq softirq steal guest guest_nice;
    // guest time is already counted in user
    val total = cpu.take(8).sum
    val steal = if (cpu.length > 7) cpu(7) else 0L
    Sample(loop, par, mem, load1, running, total, steal)
  }

  /**
   * Quiet unless: the CPU loop drifted more than 15% between start and
   * end, or the noisier memory loop more than 30%; the loop on every
   * core took 25% longer than on one at either end; steal took over 2%
   * of the run's CPU time; other work was runnable beyond the cores at
   * the start; or the 1-minute load at the end exceeds 1.5x the cores
   * (the run itself loads at most 1x).
   * perfbench/run.py adds one more test: both loops against the
   * fastest seen in this checkout.
   */
  def verdict(a: Sample, b: Sample, cores: Int): Map[String, Any] = {
    val drift = b.loopMs / a.loopMs
    val memDrift = b.memMs / a.memMs
    val dTotal = b.cpuJiffies - a.cpuJiffies
    val stealShare = if (dTotal > 0) (b.stealJiffies - a.stealJiffies).toDouble / dTotal else 0.0
    val reasons = Seq(
      (drift > 1.15 || drift < 1 / 1.15) -> f"cpu loop drifted x$drift%.2f",
      (memDrift > 1.3 || memDrift < 1 / 1.3) -> f"memory loop drifted x$memDrift%.2f",
      (Seq(a, b).exists(x => x.parLoopMs > 1.25 * x.loopMs)) ->
        f"all-core loop x${math.max(a.parLoopMs / a.loopMs, b.parLoopMs / b.loopMs)}%.2f of one core",
      (stealShare > 0.02) -> f"steal $stealShare%.3f of cpu time",
      (a.procsRunning > cores + 1) -> s"${a.procsRunning} runnable at start",
      (b.load1 > 1.5 * cores) -> s"load1 ${b.load1} at end").collect { case (true, r) => r }
    Map("verdict" -> (if (reasons.isEmpty) "quiet" else "contended"),
      "reasons" -> reasons, "start" -> a.toMap, "end" -> b.toMap,
      "steal_share" -> stealShare, "cores" -> cores)
  }
}
