package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, explode, split}

import graft.mr.{JobTracker, MapReduce, Stage}

/** The paper's own job at throughput scale: word count over a seeded,
  * closed-form Zipf-like corpus, run through both forms of the typed
  * MapReduce façade. `MapReduce.run` ships every emission across the
  * shuffle; `MapReduce.runCombine` ships one record per task and key.
  * Every timed job's output checksum must equal the DataFrame twin's,
  * computed once during set-up.
  */
object MrWordcount {
  val Vocab = 1 << 16
  val WordsPerLine = 64
  /** One pass (one job of each form) takes about this long on a 4-vCPU
    * host at the default 10⁶ words per job. */
  val SecondsPerPass = 2.2
  /** Untimed passes before the timed region: the first is cold, and job
    * times still fall by a fifth over the next six jobs as the JIT
    * compiles the hot paths. */
  val WarmupPasses = 4

  /** splitmix64 finalizer: the corpus is a pure function of (seed, position). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Word j of line i: rank = floor(Vocab^u) for uniform u, so
    * P(rank = r) ≈ 1 / (r ln Vocab) — Zipf with exponent 1. */
  def line(seed: Long, i: Long): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < WordsPerLine) {
      val u = (mix(seed * 0x632BE59BD9B4E019L + i * WordsPerLine + j) >>> 11) / 9007199254740992.0
      if (j > 0) sb.append(' ')
      sb.append('w').append(math.exp(u * math.log(Vocab)).toLong)
      j += 1
    }
    sb.toString
  }

  final case class Digest(keys: Long, words: Long, hash: Long)

  /** Order-independent digest of a (word, count) bag, taken by the action
    * that materializes the job: one pass, no extra stage. */
  def digest(ds: Dataset[(String, Long)]): Digest = {
    val sc = ds.sparkSession.sparkContext
    val keys = sc.longAccumulator; val words = sc.longAccumulator; val hash = sc.longAccumulator
    ds.foreachPartition { (it: Iterator[(String, Long)]) =>
      var k = 0L; var w = 0L; var h = 0L
      it.foreach { case (word, n) =>
        k += 1; w += n; h += mix(MurmurHash3.stringHash(word).toLong * 31 + n)
      }
      keys.add(k); words.add(w); hash.add(h)
    }
    Digest(keys.value, words.value, hash.value)
  }

  def corpus(spark: SparkSession, path: String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(path).as[(Long, String)]
  }

  def typed(spark: SparkSession, path: String): Dataset[(String, Long)] = {
    import spark.implicits._
    MapReduce.run[Long, String, String, Long, String, Long](
      corpus(spark, path),
      map = (_, text) => text.split(' ').iterator.map(w => (w, 1L)),
      reduce = (word, group) => Iterator((word, group.map(_._2).sum)))
  }

  def combined(spark: SparkSession, path: String): Dataset[(String, Long)] = {
    import spark.implicits._
    MapReduce.runCombine[Long, String, String, Long](
      corpus(spark, path),
      map = (_, text) => text.split(' ').iterator.map(w => (w, 1L)),
      combine = _ + _)
  }

  def twin(spark: SparkSession, path: String): Dataset[(String, Long)] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").count()
      .as[(String, Long)]
  }

  /** Materialize one job; in traced runs a benchmark thread polls the
    * façade's `JobTracker.getJobState` and records each phase as a span. */
  def materialize(rec: Recorder, op: Recorder#Op, job: => Dataset[(String, Long)],
      spark: SparkSession): Digest = {
    val ds = op.phase("build")(job)
    if (!rec.traced) return op.phase("exec")(digest(ds))
    op.phase("exec") {
      // JobTracker.tracked hands the tracker back only after the body
      // returns; polling needs it while the job runs, so attach it the
      // same way tracked does.
      val tracker = new JobTracker
      spark.sparkContext.addSparkListener(tracker)
      @volatile var running = true
      var marks = Vector.empty[(Stage.Value, Double)]
      val poller = new Thread(() => {
        var last = Stage.UNDEFINED
        while (running) {
          val s = tracker.getJobState.stage
          if (s != last) { marks :+= (s -> rec.nowMs); last = s }
          Thread.sleep(1)
        }
      })
      poller.setDaemon(true)
      poller.start()
      try {
        val d = digest(ds)
        tracker.markDone()
        d
      } finally {
        running = false
        poller.join()
        spark.sparkContext.removeSparkListener(tracker)
        val end = rec.nowMs
        marks.zip(marks.drop(1).map(_._2) :+ end).foreach { case ((s, t0), t1) =>
          rec.span(s"mr.${s.toString.toLowerCase}", op.name, 0, t0, t1)
        }
      }
    }
  }

  def run(spark: SparkSession, args: Main.Args, rec: Recorder): Map[String, Any] = {
    val lines = math.max(1L, args.words / WordsPerLine)
    val words = lines * WordsPerLine
    val path = s"${args.work}/corpus"
    val seed = args.seed
    import spark.implicits._
    rec.note("session up")
    spark.range(0, lines, 1, args.cores * 2)
      .map(i => (i.longValue, line(seed, i)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(path)

    rec.note("corpus written")
    val expected = digest(twin(spark, path))
    rec.note("twin digest")
    require(expected.words == words, s"twin counted ${expected.words} words, corpus has $words")

    val jobs = Seq[(String, () => Dataset[(String, Long)])](
      "mr_run" -> (() => typed(spark, path)),
      "mr_combine" -> (() => combined(spark, path))) ++
      (if (rec.traced) Seq("df_twin" -> (() => twin(spark, path))) else Nil)

    def once(name: String, job: () => Dataset[(String, Long)], pass: Int): Boolean =
      rec.timed(name, pass) { op =>
        val got = materialize(rec, op, job(), spark)
        if (got == expected) None else Some(s"digest $got != twin $expected")
      }

    // untimed warm-up: JIT, codegen and the corpus's page cache, until job
    // times stop falling. A wrong digest here fails the job form for the
    // whole run.
    val setupFailures = (0 until WarmupPasses).flatMap { pass =>
      jobs.flatMap { case (name, job) =>
        val problem =
          try {
            val d = digest(job())
            if (d == expected) None else Some(s"warm-up digest $d != twin $expected")
          } catch { case e: Throwable => Some(s"warm-up threw ${e.getClass.getName}: ${e.getMessage}") }
        rec.note(s"warm-up $pass $name")
        problem.map(name -> _)
      }
    }.toMap

    rec.startTimed()
    val passes = Main.timedPasses(args, SecondsPerPass, rec) { pass =>
      jobs.foreach { case (name, job) => once(name, job, pass) }
    }
    val counters = rec.endTimed()
    rec.note(s"timed region done: $passes passes")
    Map("counters" -> counters, "setup_failures" -> setupFailures, "inputs" -> Map(
      "vocabulary" -> Vocab, "words_per_line" -> WordsPerLine, "lines" -> lines,
      "words_per_job" -> words, "distinct_keys" -> expected.keys,
      "warmup_passes" -> WarmupPasses, "passes" -> passes,
      "corpus" -> "rank = floor(vocabulary^u), u uniform from splitmix64(seed, position)"))
  }
}
