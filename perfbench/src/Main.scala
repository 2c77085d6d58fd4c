package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Benchmark harness entry point. `perfbench/run.py` builds this against
  * the program, launches it once per run and turns the result file it
  * writes into metrics; see perfbench/README.md.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
      data: String, work: String, out: String, cores: Int,
      batchQueries: String, streamQueries: String, words: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("data"), need("work"), need("out"),
      need("cores").toInt, m.getOrElse("batch-queries", ""),
      m.getOrElse("stream-queries", ""), m.getOrElse("words", "0").toLong)
  }

  /** Timed passes planned for a run of about `seconds` on a 4-vCPU host.
    * The count is fixed rather than read off a clock, so a run on a slow
    * moment of a shared host does the same work, and reaches the same JIT
    * state, as a run on a fast one. */
  def passes(seconds: Double, secondsPerPass: Double): Int =
    math.max(2, math.round(seconds / secondsPerPass).toInt)

  /** A run whose timed region has lasted this many times `--seconds` runs
    * no further pass. It takes a host slowed down by more than half for the
    * whole run to reach it; it keeps such a run within its time budget. */
  val SlowHostCap = 1.6

  /** Runs the planned timed passes, `body(pass)` each, and returns how
    * many ran: all of them, or at least two when the slow-host cap stops
    * the run early. */
  def timedPasses(a: Args, secondsPerPass: Double, rec: Recorder)(body: Int => Unit): Int = {
    val planned = passes(a.seconds, secondsPerPass)
    var pass = 0
    while (pass < planned &&
        (pass < 2 || rec.nowMs - rec.timedStartMs < SlowHostCap * a.seconds * 1000)) {
      body(pass)
      pass += 1
    }
    pass
  }

  /** The session confs graft.Bench pins, with shuffle partitions = local
    * slots; the two directories keep Spark's scratch inside the work dir. */
  def confs(a: Args): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${a.cores}]",
    "spark.sql.shuffle.partitions" -> a.cores.toString,
    "spark.sql.files.openCostInBytes" -> (128 * 1024).toString,
    "spark.sql.codegen.cache.maxEntries" -> "12000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${a.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${a.work}/warehouse")

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    confs(a).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val rec = new Recorder(a.traced, t0)
    val spark = session(a)
    rec.attach(spark)
    val body = try {
      val r = a.workload match {
        case "mr_wordcount" => MrWordcount.run(spark, a, rec)
        case "registry" => Registry.run(spark, a, rec)
        case "selftest" => SelfTest.run(spark, a, rec)
        case "discover" => Registry.discover(spark, a, rec)
        case w => sys.error(s"unknown workload $w")
      }
      // listener events arrive asynchronously; all of them belong in the file
      Bridge.drainListenerBus(spark)
      r
    } finally spark.stop()
    val out = body ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced" -> a.traced, "cores" -> a.cores, "confs" -> confs(a).toMap,
      "setup_s" -> (rec.timedStartMs - rec.mainStartMs) / 1000,
      "timed_start_ms" -> rec.timedStartMs, "timed_end_ms" -> rec.timedEndMs,
      "samples" -> rec.samples.toList, "failures" -> rec.failures.toList,
      "spans" -> rec.spanList)
    Files.writeString(Paths.get(a.out), Json.write(out))
  }
}
