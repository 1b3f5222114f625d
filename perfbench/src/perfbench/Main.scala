package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one client in a closed loop.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR --spans FILE
  *   perfbench.Main --selftest --cores C --work DIR
  *
  * Untraced (`--trace 0`): set up three times (median is `setup_s`), warm
  * up, run jobs back to back for S seconds, check outputs, print the
  * end-to-end metrics. Traced (`--trace 1`): set up once, warm up, run jobs
  * for S seconds with tracing on for every other job, check outputs,
  * print per-layer means per traced job and the tracing overhead (untraced
  * against traced jobs per second), and write every span as JSON to
  * `--spans FILE`. The last stdout line is the result as JSON.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "jobs_per_s" -> "1/s", "rows_per_s" -> "rows/s",
    "job_s_p50" -> "s", "peak_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "dftly.load_ms" -> "ms", "dftly.parse_ms" -> "ms", "dftly.compile_ms" -> "ms",
    "dftly.exprs" -> "count", "dftly.nodes" -> "count",
    "input.open_ms" -> "ms", "input.splits" -> "count", "input.rows" -> "count", "input.mb" -> "MB",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "codegen.classes" -> "count", "codegen.compile_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.deser_ms" -> "ms", "exec.slot_util" -> "ratio", "exec.driver_gap_ms" -> "ms",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.records" -> "count",
    "shuffle.fetch_wait_ms" -> "ms", "spill.disk_mb" -> "MB",
    "ops.plan_ms" -> "ms", "ops.pairs_emitted" -> "count", "ops.max_bucket" -> "count",
    "ops.buckets_truncated" -> "count", "ops.rows_in_truncated" -> "count",
    "job.self_ms" -> "ms", "trace.jobs" -> "count", "trace.overhead_pct" -> "%")

  private val SetupReps = 3
  private val WarmupSeconds = 6.0
  private val WarmupJobs = 2
  // warm-up jobs are numbered apart from the timed ones (0, 1, ...), so the
  // timed jobs of a seed are the same whatever the warm-up managed
  private val WarmupFirstJob = 1000000

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))
    val spark = session(cores, work)
    val ok =
      try {
        if (opts.contains("selftest")) SelfTest.run(spark)
        else run(spark, opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1", cores, work, Paths.get(opt("spans")))
      } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the library's shipped session tuning: sort-based shuffle writer
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // file scans plan four splits per core, so one slow task does not
      // set the pace of a whole stage
      .config("spark.sql.files.minPartitionNum", (4 * cores).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  /** Durations of consecutive jobs `first`, `first + 1`, ...; `traced(k)`
    * tells whether the k-th ran with tracing on.
    */
  private final case class Window(durations: Seq[Double], traced: Seq[Boolean],
      failedJobs: Set[Int], first: Int) {
    def jobs: Int = durations.size
    def indices: Range = first until first + jobs
    def select(tracedJobs: Boolean): Seq[Double] =
      durations.zip(traced).collect { case (d, t) if t == tracedJobs => d }
  }

  private def perS(durations: Seq[Double]): Double = durations.size / durations.sum

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: Path, spansOut: Path): Boolean = {
    val tracer = new Tracer(spark, cores)
    val w = Workloads(name, spark, Files.createDirectories(work.resolve("data")), seed, tracer)
    val errors = mutable.ArrayBuffer[String]()

    val setupTimes = (1 to (if (trace) 1 else SetupReps)).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }

    def window(first: Int, secs: Double, minJobs: Int, traceJob: Int => Boolean = _ => false): Window = {
      var next = first
      val durations = mutable.ArrayBuffer[Double]()
      val traced = mutable.ArrayBuffer[Boolean]()
      val failed = mutable.Set[Int]()
      val start = System.nanoTime()
      while (System.nanoTime() - start < secs * 1e9 || durations.size < minJobs) {
        val i = next; next += 1
        val on = traceJob(i)
        w.prepare(i)
        if (on) tracer.start()
        tracer.beginJob(i)
        val t0 = System.nanoTime()
        val thrown = try { w.job(i); Nil } catch { case NonFatal(e) => Seq(s"job $i threw $e") }
        val t1 = System.nanoTime()
        val errs = if (thrown.nonEmpty) thrown else w.afterJob(i)
        tracer.endJob(t1)
        if (on) tracer.stop()
        durations += (t1 - t0) / 1e9
        traced += on
        if (errs.nonEmpty) { failed += i; errors ++= errs }
      }
      Window(durations.toSeq, traced.toSeq, failed.toSet, first)
    }

    val phase = mutable.LinkedHashMap[String, Double]()
    def timedPhase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phase(name) = (System.nanoTime() - t0) / 1e9
    }
    timedPhase("warmup")(window(WarmupFirstJob, WarmupSeconds, WarmupJobs))
    // traced runs alternate untraced and traced jobs, so the overhead
    // figure compares jobs at the same point of warm-up
    val heap = new HeapWatch
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    heap.start()
    val (gc0, jit0) = (gcMs, jitMs)
    val timed = if (trace) window(0, seconds, 2, _ % 2 == 1) else window(0, seconds, 1)
    val peakHeapMb = heap.stop()
    val (gcWindowMs, jitWindowMs) = (gcMs - gc0, jitMs - jit0)
    val untraced = timed.select(tracedJobs = false)

    // output checks, outside the timed windows; a failure without a job
    // index applies to every job
    val checkFailures =
      try timedPhase("check")(w.check(timed.indices))
      catch { case NonFatal(e) => Seq(None -> s"check threw $e") }
    errors ++= checkFailures.map(_._2)
    val failedJobs = timed.indices.filter(i => timed.failedJobs(i) ||
      checkFailures.exists { case (j, _) => j.forall(_ == i) })

    val sorted = timed.durations.sorted
    def pct(p: Double): Double = sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val attempted = timed.jobs
    val failed = failedJobs.size

    val log = (s: String) => println(s"[perfbench] $s")
    log(s"jvm_uptime_s=${Json.num(ManagementFactory.getRuntimeMXBean.getUptime / 1e3)} " +
      s"window_gc_ms=$gcWindowMs window_jit_ms=$jitWindowMs " +
      s"job_s=${timed.durations.map(Json.num).mkString(",")}")
    log(s"workload=$name seed=$seed cores=$cores loop=closed clients=1 rows_per_job=${w.rowsPerJob} " +
      s"jobs=${timed.jobs} window_s=${Json.num(timed.durations.sum)}")
    log(s"setup_s per repetition: ${setupTimes.map(Json.num).mkString(", ")}; " +
      phase.map { case (k, v) => s"${k}_s=${Json.num(v)}" }.mkString(" "))
    log(s"job_s_p50=${Json.num(median(timed.durations))} s (n=${timed.jobs}); job_s_p90=" +
      (if (timed.jobs >= 100) s"${Json.num(pct(0.9))} s (n=${timed.jobs})" else s"n/a (n=${timed.jobs} < 100)"))
    log(s"failed_frac=${Json.num(failed.toDouble / attempted)} ($failed/$attempted)")
    errors.distinct.take(20).foreach(e => log(s"FAILED: $e"))

    val metrics: Seq[(String, String, Double)] = if (!trace) {
      val m = Map(
        "setup_s" -> median(setupTimes),
        "jobs_per_s" -> perS(untraced),
        "rows_per_s" -> perS(untraced) * w.rowsPerJob,
        "job_s_p50" -> median(untraced),
        "peak_heap_mb" -> peakHeapMb)
      EndToEnd.map { case (k, u) => (k, u, m(k)) }
    } else {
      val perJob = tracer.jobs.toSeq
      val tracedPerS = perS(timed.select(tracedJobs = true))
      val (splits, mb) = w.inputFacts
      val extra = Map(
        "input.splits" -> splits, "input.mb" -> mb, "input.rows" -> w.rowsPerJob.toDouble,
        "trace.jobs" -> perJob.size.toDouble,
        "trace.overhead_pct" -> (perS(untraced) / tracedPerS - 1) * 100)
      Files.writeString(spansOut, tracer.json)
      log(s"spans written to $spansOut; jobs_per_s untraced=${Json.num(perS(untraced))} " +
        s"traced=${Json.num(tracedPerS)}")
      PerLayer.map { case (k, u) =>
        (k, u, extra.getOrElse(k, perJob.map(_.getOrElse(k, 0.0)).sum / perJob.size))
      }
    }
    metrics.foreach { case (k, u, v) => log(f"$k%-26s ${Json.num(v)} $u") }
    val body = metrics.map { case (k, u, v) =>
      s"${Json.str(k)}: {\"value\": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    val correct = errors.isEmpty
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    correct
  }
}

/** Largest heap occupancy right after a collection while active. Starts
  * with a full collection so the window's reading does not depend on the
  * garbage left by set-up.
  */
final class HeapWatch {
  @volatile private var active = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n, _) =>
    if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  def start(): Unit = {
    System.gc()
    peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    emitters.foreach(_.addNotificationListener(listener, null, null))
    active = true
  }

  /** Stop watching; the peak in MB. */
  def stop(): Double = {
    active = false
    emitters.foreach(_.removeNotificationListener(listener))
    peak / 1e6
  }
}
