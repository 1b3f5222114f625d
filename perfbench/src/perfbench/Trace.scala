package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of one layer's work. `parent` is the enclosing span
  * (-1 for a job's root); all spans of one benchmark job share `job`.
  * Times are nanoseconds on the tracer's clock.
  */
final case class Span(id: Int, parent: Int, job: Int, name: String, start: Long, end: Long) {
  def durMs: Double = (end - start) / 1e6
}

/** Spans and per-layer counters for the traced run. Disabled, [[span]] only
  * runs its body and no listener is attached, so untraced runs pay nothing.
  *
  * Sources: the harness's own spans around each library call; Catalyst
  * phase times from `QueryExecution.tracker` (via a QueryExecutionListener
  * and the selected frame's own tracker); codegen from the CodegenMetrics
  * histograms; jobs, stages, tasks, task time, GC and shuffle from a
  * SparkListener. Listener events are drained at the end of every job so
  * the counters of one job never leak into the next.
  */
final class Tracer(spark: SparkSession, cores: Int) {

  private var on = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var job = -1
  private var jobSpan: Span = _
  private val counters = mutable.LinkedHashMap[String, Double]()
  private val sparkJobs = mutable.ArrayBuffer[(Long, Long)]() // epoch ms of Spark jobs
  private val sparkJobStart = mutable.Map[Int, Long]()
  private val catalystPhases = mutable.ArrayBuffer[(String, Long, Long)]()
  private var codegen0 = (0L, 0L)
  private val nanoAtStart = System.nanoTime()
  private val wallAtStart = System.currentTimeMillis()

  /** One map of per-layer values per traced job. */
  val jobs = mutable.ArrayBuffer[Map[String, Double]]()

  private def fromWall(ms: Long): Long = nanoAtStart + (ms - wallAtStart) * 1000000L

  private def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  /** Record a value for the current job (summed if recorded twice). */
  def count(name: String, v: Double): Unit = if (on) add(name, v)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, job, name, t0, System.nanoTime())
      }
    }

  /** Catalyst phases of a frame's own (eager) analysis. */
  def analyzed(df: DataFrame): Unit =
    if (on) Bridge.phasesMs(df).get("analysis").foreach(ms => add("catalyst.analysis_ms", ms.toDouble))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      sparkJobStart(e.jobId) = e.time
      counters("exec.jobs") = counters.getOrElse("exec.jobs", 0.0) + 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      sparkJobStart.remove(e.jobId).foreach(s => sparkJobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        def put(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
        put("exec.tasks", 1)
        put("exec.task_run_ms", m.executorRunTime.toDouble)
        put("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        put("exec.gc_ms", m.jvmGCTime.toDouble)
        put("exec.deser_ms", m.executorDeserializeTime.toDouble)
        put("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        put("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        put("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        put("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        put("spill.disk_mb", m.diskBytesSpilled / 1e6)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_ms",
          "optimization" -> "catalyst.optimization_ms", "planning" -> "catalyst.planning_ms");
        p <- phases.get(phase)) {
        add(key, p.durationMs.toDouble)
        synchronized(catalystPhases += ((s"catalyst.$phase", p.startTimeMs, p.endTimeMs)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  def stop(): Unit = {
    on = false
    Bridge.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def beginJob(id: Int): Unit = if (on) {
    Bridge.drain(spark)
    synchronized { counters.clear(); sparkJobs.clear(); catalystPhases.clear() }
    job = id
    codegen0 = (Bridge.codegenCompiles, Bridge.codegenCompileNanos)
    jobSpan = Span(spans.size, -1, id, "job", System.nanoTime(), 0L)
    spans += null
    stack = List(jobSpan.id)
  }

  /** Close the job: wait for its listener events, derive the per-job
    * values and keep them; Spark jobs and Catalyst phases become child
    * spans so self times account for them.
    */
  def endJob(end: Long): Unit = if (on) {
    Bridge.drain(spark)
    val root = jobSpan.copy(end = end)
    spans(root.id) = root
    stack = Nil
    synchronized {
      // attach engine intervals under the innermost harness span covering them
      def parentOf(s: Long, e: Long): Int = spans.iterator
        .filter(x => x != null && x.job == job && x.start <= s && e <= x.end)
        .maxByOption(_.start).map(_.id).getOrElse(root.id)
      for ((name, s, e) <- catalystPhases.toSeq ++ sparkJobs.toSeq.map(j => ("spark.job", j._1, j._2))) {
        val (ns, ne) = (fromWall(s), fromWall(e))
        spans += Span(spans.size, parentOf(ns, ne), job, name, ns, ne)
      }
      val wallMs = root.durMs
      val busyMs = unionMs(sparkJobs.toSeq.map { case (s, e) => (s.toDouble, e.toDouble) })
      val v = counters
      for (s <- spans if s != null && s.job == job && Tracer.TimedSpans(s.name))
        v(s.name + "_ms") = v.getOrElse(s.name + "_ms", 0.0) + s.durMs
      v("codegen.classes") = (Bridge.codegenCompiles - codegen0._1).toDouble
      v("codegen.compile_ms") = (Bridge.codegenCompileNanos - codegen0._2) / 1e6
      v("exec.slot_util") = v.getOrElse("exec.task_run_ms", 0.0) / (wallMs * cores)
      v("exec.driver_gap_ms") = math.max(0.0, wallMs - busyMs)
      v("job.self_ms") = selfMs(root)
      jobs += v.toMap
      counters.clear(); sparkJobs.clear(); catalystPhases.clear()
    }
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curE.isNaN || s > curE) { if (!curE.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Duration minus the part of it covered by child spans. */
  def selfMs(s: Span): Double = {
    val kids = spans.iterator.filter(c => c != null && c.parent == s.id)
      .map(c => (math.max(c.start, s.start) / 1e6, math.min(c.end, s.end) / 1e6))
      .filter { case (a, b) => b > a }.toSeq
    s.durMs - unionMs(kids)
  }

  /** All spans as JSON, with self time and a per-name summary. */
  def json: String = {
    val done = spans.filter(_ != null).toSeq
    def num(d: Double) = Json.num(d)
    val rows = done.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"job":${s.job},"name":${Json.str(s.name)},""" +
        s""""start_us":${num((s.start - nanoAtStart) / 1e3)},"dur_ms":${num(s.durMs)},"self_ms":${num(selfMs(s))}}"""
    }
    val summary = done.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s"""${Json.str(n)}:{"count":${ss.size},"total_ms":${num(ss.map(_.durMs).sum)},""" +
        s""""self_ms":${num(ss.map(selfMs).sum)}}"""
    }
    s"""{"summary":{${summary.mkString(",")}},"spans":[\n${rows.mkString(",\n")}\n]}\n"""
  }
}

object Tracer {
  /** A tracer that is never enabled. */
  val Off = new Tracer(null, 1)

  /** Harness spans whose total duration per job is a per-layer metric. */
  val TimedSpans = Set("dftly.load", "dftly.parse", "dftly.compile", "input.open", "ops.plan")
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
