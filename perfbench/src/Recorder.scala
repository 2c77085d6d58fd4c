package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one benchmark run records: timed samples, failures, and
  * (traced runs only) spans and per-task records gathered from Spark's
  * public listener APIs. Nothing here reaches inside the program: spans
  * come from the harness's own calls into the program's entry points and
  * from listener events.
  *
  * Times are epoch milliseconds as doubles. Harness spans use the
  * monotonic clock shifted onto the epoch once, so they line up with the
  * millisecond epoch stamps in listener events.
  */
final class Recorder(val traced: Boolean, mainStartNs: Long) {
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  val mainStartMs: Double = mainStartNs / 1e6 + epochOffsetMs

  /** Progress line on stderr (the harness log), with seconds since main. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(nowMs - mainStartMs) / 1000}%.2f s $what")

  val samples = ArrayBuffer.empty[Map[String, Any]]
  val failures = ArrayBuffer.empty[Map[String, Any]]
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val nextSpan = new AtomicInteger(0)

  def span(name: String, op: String, parent: Int, t0: Double, t1: Double,
      extra: Map[String, Any] = Map.empty): Int = {
    val id = nextSpan.incrementAndGet()
    if (traced) spans.synchronized {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
        "t0" -> t0, "t1" -> t1) ++ extra
    }
    id
  }

  /** Detached spans (stages, tasks, driver phases, micro-batches) get no
    * parent here; the rollup nests them by time containment. */
  private def detached(name: String, t0: Double, t1: Double,
      extra: Map[String, Any]): Unit =
    if (t1 >= t0) span(name, "", 0, t0, t1, extra)

  def spanList: Seq[Map[String, Any]] = spans.synchronized(spans.toList)

  /** Streaming queries started since the session began; read before and
    * after each registry call to tell batch queries from stream fixtures. */
  val streamsStarted = new AtomicInteger(0)

  /** One closed-loop operation: `body` runs the build and exec phases
    * through `Op` and returns an error message for a wrong result. A throw
    * or a wrong result is a failure: listed by name, posting no time. */
  final class Op(val name: String, val id: Int) {
    def phase[T](label: String)(body: => T): T = {
      val t0 = nowMs
      try body finally span(label, name, id, t0, nowMs)
    }
  }

  def timed(name: String, pass: Int)(body: Op => Option[String]): Boolean = {
    val id = nextSpan.incrementAndGet()
    val op = new Op(name, id)
    val t0 = nowMs
    val outcome =
      try body(op) catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    val t1 = nowMs
    outcome match {
      case None =>
        samples += Map("op" -> name, "pass" -> pass, "t0" -> t0, "t1" -> t1)
        if (traced) spans.synchronized {
          spans += Map("id" -> id, "parent" -> 0, "name" -> "op", "op" -> name,
            "t0" -> t0, "t1" -> t1)
        }
        true
      case Some(err) =>
        failures += Map("op" -> name, "pass" -> pass, "error" -> err.take(500))
        false
    }
  }

  // ---- JVM and host counters, read at both ends of the timed region ----

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }
  /** /proc/stat aggregate cpu line: user nice system idle iowait irq softirq steal. */
  private def procStat: Array[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  } catch { case _: Throwable => Array.fill(8)(0L) }
  private def rssPeakMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  } catch { case _: Throwable => 0.0 }

  /** CodegenMetrics' compile-time histogram keeps every sample while it
    * holds fewer than its reservoir size (1028); past that the sum is
    * estimated as count × mean and flagged. */
  private def codegen: (Long, Double, Boolean) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val exact = h.getCount <= snap.size
    (h.getCount, if (exact) snap.getValues.sum.toDouble else h.getCount * snap.getMean, exact)
  }

  /** Host speed probe: median time of a fixed single-threaded integer
    * loop. The hosts this runs on can slow down without showing steal
    * (a busy hyperthread sibling or a neighbour's memory traffic), and this
    * is the one counter that moves with that. */
  def cpuProbeMs(): Double = {
    val times = (0 until 15).map { i =>
      val t0 = System.nanoTime()
      var x = i.toLong
      var k = 0
      while (k < 2000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
      if (x == 42) System.err.print("")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    times(times.size / 2)
  }

  private var t0Counters: Map[String, Any] = Map.empty
  var timedStartMs = 0.0
  var timedEndMs = 0.0

  def startTimed(): Unit = {
    val probe = cpuProbeMs()
    val (cgN, cgMs, _) = codegen
    t0Counters = Map("gc" -> gcMs, "cpu" -> cpuMs, "stat" -> procStat,
      "cgN" -> cgN, "cgMs" -> cgMs, "probe" -> probe)
    timedStartMs = nowMs
  }

  def endTimed(): Map[String, Any] = {
    timedEndMs = nowMs
    val probe = (t0Counters("probe").asInstanceOf[Double] + cpuProbeMs()) / 2
    val (cgN, cgMs, exact) = codegen
    val s0 = t0Counters("stat").asInstanceOf[Array[Long]]
    val s1 = procStat
    val d = s1.zip(s0).map { case (a, b) => a - b }
    val total = d.sum.max(1L).toDouble
    def at(i: Int) = if (i < d.length) d(i) else 0L
    Map(
      "jvm_gc_ms" -> (gcMs - t0Counters("gc").asInstanceOf[Long]),
      "jvm_process_cpu_ms" -> (cpuMs - t0Counters("cpu").asInstanceOf[Double]),
      "jvm_rss_peak_mb" -> rssPeakMb,
      "host_iowait_frac" -> at(4) / total,
      "host_steal_frac" -> at(7) / total,
      "host_cpu_probe_ms" -> probe,
      "codegen_units" -> (cgN - t0Counters("cgN").asInstanceOf[Long]),
      "codegen_ms" -> (cgMs - t0Counters("cgMs").asInstanceOf[Double]),
      "codegen_ms_exact" -> exact)
  }

  // ---- Spark listeners ----

  /** Counts streaming-query starts always (the registry workloads
    * classify queries with it) and, in traced runs, registers the span
    * listeners. Streaming events are read off the SparkContext's bus
    * rather than through `spark.streams`, whose listeners see only queries
    * of their own session; registry queries often start theirs on a
    * `newSession()`. Bus delivery is asynchronous: drain before reading. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: StreamingQueryListener.QueryStartedEvent => streamsStarted.incrementAndGet()
        case p: StreamingQueryListener.QueryProgressEvent => if (traced) batch(p.progress)
        case _ =>
      }
    })
    if (!traced) return
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        detached("job", e.time.toDouble, e.time.toDouble, Map("job" -> e.jobId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          detached("stage", s.toDouble, c.toDouble,
            Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = task(e)
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    })
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      if (Set("analysis", "optimization", "planning").contains(phase))
        detached(s"driver.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble, Map.empty)
    }

  private def task(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info == null || m == null) return
    val dur = (info.finishTime - info.launchTime).toDouble
    val runMs = m.executorRunTime.toDouble
    val delay = math.max(0.0, dur - runMs - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime)
    detached("task", info.launchTime.toDouble, info.finishTime.toDouble, Map(
      "stage" -> e.stageId,
      "ok" -> (e.reason == Success),
      "run_ms" -> runMs,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "deser_ms" -> m.executorDeserializeTime,
      "result_ser_ms" -> m.resultSerializationTime,
      "gc_ms" -> m.jvmGCTime,
      "delay_ms" -> delay,
      "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
      "sw_ms" -> m.shuffleWriteMetrics.writeTime / 1e6,
      "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "sr_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_mem" -> m.memoryBytesSpilled,
      "spill_disk" -> m.diskBytesSpilled))
  }

  private def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val trigger = d.getOrElse("triggerExecution", 0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val state = p.stateOperators.toSeq
    detached("stream.batch", start, start + trigger, Map(
      "addBatch" -> d.getOrElse("addBatch", 0L),
      "queryPlanning" -> d.getOrElse("queryPlanning", 0L),
      "walCommit" -> d.getOrElse("walCommit", 0L),
      "commitOffsets" -> d.getOrElse("commitOffsets", 0L),
      "latestOffset" -> d.getOrElse("latestOffset", 0L),
      "trigger" -> trigger,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "state_rows" -> state.map(_.numRowsUpdated).sum))
  }
}
