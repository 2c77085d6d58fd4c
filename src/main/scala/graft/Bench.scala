package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * publishes its per-query medians as one JSON line.
  *
  * A run is a fixed, bounded sequence, with no retry, backoff or rerun:
  * an untimed corpus warm (first-touch page-cache cost lands in no timed
  * region) and warmup query (the first name, plus q99's one-time index
  * build); exactly SPARK_GRAFT_BENCH_REPS (default 3) interleaved timed
  * passes, each running every query once, in name order, through a `noop`
  * write (`count()` lets Catalyst prune the projection); and, when a
  * smaller-scale sibling dir exists, one warm and one timed slope pass
  * over it. Each sample carries wall, JVM GC ms, process-CPU ms, shuffle
  * bytes written, and the box-wide steal and iowait jiffies of the query.
  *
  * After the passes, [[summarize]] computes every verdict from the
  * samples, and each is published as a flag, never acted on: passes are
  * flagged `over_max_steal` or `over_cpu_inflation`; medians come from the
  * unflagged passes (from all, with `medians_from` saying so, when fewer
  * than two are unflagged); stalled samples are listed in `outlier_flags`;
  * a query that threw is listed in `failed_queries`, not in `queries`.
  *
  * Output: after each timed pass a JSON line marked `"provisional":true`,
  * so a run cut short still leaves data; at the end a "# trailer" line and
  * the final JSON line, always the last stdout line. The full artifact
  * (every per-pass sample, the pass telemetry, and `warm_codegen_units`:
  * the queries that still compile after the first pass) goes to
  * SPARK_GRAFT_BENCH_ARTIFACT (default ./BENCH_local_latest.json).
  *
  * Knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS,
  * SPARK_GRAFT_BENCH_ONLY (comma list restricting the suite),
  * SPARK_GRAFT_BENCH_ARTIFACT, SPARK_GRAFT_BENCH_SLOPE_DIR (empty disables
  * the slope passes) and SPARK_GRAFT_BENCH_PHASES=1 (each action's driver
  * phases on stderr, aggregated by tools/phase_report.py).
  */
object Bench {
  private val MaxSteal = 0.03
  private val CpuInflation = 3.0 // see cpuContaminatedPasses
  private val CpuFloorMs = 5000L
  private val OutlierFactor = 2.0 // see outlierSamples
  private val OutlierFloorSec = 0.75
  private val SlopeFactor = 2.0 // see slopeFlags
  private val SlopeFloorSec = 1.0

  /** One timed materialization of one query and its attribution;
    * `codegenUnits` counts the classes it compiled (0 on a cache hit). */
  private[graft] final case class QSample(sec: Double, gcMs: Long,
      cpuMs: Long, shuffleBytes: Long, stealJf: Long, iowaitJf: Long,
      codegenUnits: Long = 0L)

  /** One timed pass: per query in name order, its sample or the error it
    * threw; plus the pass's steal fraction and telemetry fields. */
  private[graft] final case class Pass(samples: IndexedSeq[Either[String, QSample]],
      stealFrac: Double, telemetry: Seq[(String, String)])

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** The query inside its timed region, for the phases listener (on the
    * bus thread, where job descriptions are invisible). Reset to "-" only
    * after the bus is drained, so each query's events are attributed exactly. */
  @volatile private var currentQuery: String = "-"

  /** Spark jobs started since the JVM began, counted by the listener in
    * [[main]]; a pass's delta is its `jobs` telemetry. Exact per pass,
    * since every query's `settle` drains the listener bus. */
  private val jobsStarted = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (cumulative codegen compilations, their mean ms): a per-pass count
    * delta shows whether the codegen cache holds a pass, immune to noise. */
  private def codegenStats: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** (busy, steal, iowait) jiffies from /proc/stat: the ambient contention
    * in-JVM telemetry can't see. (0, 0, 0) off Linux. */
  private def cpuJiffies: (Long, Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal
      ((f(1).toLong + f(2).toLong + f(3).toLong), f(8).toLong, f(5).toLong)
    } catch { case _: Throwable => (0L, 0L, 0L) }

  /** This JVM's cumulative CPU ns: wall up with CPU flat is a deschedule,
    * CPU up with it is real extra work. -1 if the platform bean lacks it. */
  private def processCpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Locale-pinned: a default locale may emit a comma decimal separator. */
  private def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", java.lang.Double.valueOf(v))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** Per-sample channels: (artifact key, JSON-line key for the slowest 10, value). */
  private val channels: Seq[(String, String, QSample => String)] = Seq(
    ("per_pass", "slowest10_passes", q => fmt(q.sec, 3)),
    ("per_pass_gc_ms", "slowest10_gc_ms", _.gcMs.toString),
    ("per_pass_cpu_ms", "slowest10_cpu_ms", _.cpuMs.toString),
    ("per_pass_steal_jf", "slowest10_steal_jf", _.stealJf.toString),
    ("per_pass_iowait_jf", "slowest10_iowait_jf", _.iowaitJf.toString))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** A query's median over passes; an even count takes the lower middle sample, as
    * contention only adds time and a cold pass 0 must not be averaged in. */
  private def passMedian(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)

  /** Passes with same-box contention that steal cannot see: some query's
    * process-CPU exceeds `factor`× its cross-pass MINIMUM by over `floorMs`
    * (r15 q155: 50 s CPU vs a 10 s clean pass at steal 0.008). A deschedule
    * inflates wall, not CPU; a real regression inflates every pass; neither
    * trips this. The first pass is exempt: one-time artifact builds land on
    * it by construction. Needs ≥ 3 passes; -1 samples are skipped.
    */
  private[graft] def cpuContaminatedPasses(cpuByPass: Seq[Seq[Long]],
      factor: Double, floorMs: Long): Set[Int] = {
    if (cpuByPass.size < 3) return Set.empty
    val nq = cpuByPass.map(_.length).min
    (for {
      j <- 0 until nq
      col = cpuByPass.map(_(j))
      if col.forall(_ >= 0)
      m = col.min
      i <- 1 until cpuByPass.size // first pass exempt (builds)
      if cpuByPass(i)(j).toDouble > m.toDouble * factor && cpuByPass(i)(j) - m > floorMs
    } yield i).toSet
  }

  /** Total CPU excess of pass `i` over the cross-pass per-query minima,
    * published per pass as `cpu_excess_ms`. */
  private[graft] def cpuInflationMs(cpuByPass: Seq[Seq[Long]], i: Int): Long = {
    val nq = cpuByPass.map(_.length).min
    (0 until nq).map { j =>
      val col = cpuByPass.map(_(j))
      if (col.exists(_ < 0)) 0L
      else math.max(0L, cpuByPass(i)(j) - col.min)
    }.sum
  }

  /** Scale-slope tripwire: queries whose cost grows SUPERLINEARLY in rows
    * between the small and main scale factors. A linear query's ratio is
    * < rowRatio, n·log n lands just above, an accidental O(n²) heads toward
    * rowRatio². `factor` keeps n·log n and noise out; `floorSec` ignores
    * fixed-overhead excesses.
    */
  private[graft] def slopeFlags(main: Seq[(String, Double)],
      small: Map[String, Double], rowRatio: Double, factor: Double,
      floorSec: Double): Seq[String] =
    main.collect {
      case (n, t) if small.get(n).exists(s0 =>
        s0 > 0.0 && t > factor * rowRatio * s0 && t - s0 > floorSec) => n
    }

  /** Per-query stalls: (passIdx, queryIdx) samples whose wall exceeds
    * `factor`× the query's cross-pass minimum by more than `floorSec` (the
    * r17 driver recorded q152 at [0.88, 7.91, 15.63] s on identical code).
    * Same reference and first-pass exemption as the CPU gate. Needs ≥ 2 passes. */
  private[graft] def outlierSamples(wall: Seq[Seq[Double]], factor: Double,
      floorSec: Double): Seq[(Int, Int)] = {
    if (wall.size < 2) return Seq.empty
    val nq = wall.map(_.length).min
    for {
      j <- 0 until nq
      col = wall.map(_(j))
      m = col.min
      i <- 1 until wall.size // first pass exempt (builds)
      if wall(i)(j) > factor * m && wall(i)(j) - m > floorSec
    } yield (i, j)
  }

  /** [[slopeFlags]] over shuffle WRITE megabytes, which page cache and
    * core count cannot hide; the 64 MB floor skips fixed-size shuffles. */
  private[graft] def shuffleSlopeFlags(main: Seq[(String, Double)],
      small: Map[String, Double], rowRatio: Double,
      factor: Double = 2.0, floorMb: Double = 64.0): Seq[String] =
    slopeFlags(main, small, rowRatio, factor, floorMb)

  /** Runs each of `names` once, in order: `run` inside the timed region,
    * `settle` (returning cumulative shuffle bytes) outside it, before and
    * after each query. A throw is recorded as the query's error, not a time. */
  private[graft] def timedPass(names: Seq[String], run: String => Unit,
      settle: () => Long): Pass = {
    val (busy0, steal0, iow0) = cpuJiffies
    val gc0 = gcMillis
    val pc0 = processCpuNanos
    val (cg0, _) = codegenStats
    val jobs0 = jobsStarted.get
    val samples = names.toIndexedSeq.map { n =>
      val sb0 = settle()
      val (_, s0, i0) = cpuJiffies
      val g0 = gcMillis
      val c0 = processCpuNanos
      val (u0, _) = codegenStats
      val t0 = System.nanoTime()
      val err = try { run(n); None } catch { case e: Throwable =>
        System.err.println(s"[bench] $n failed: ${e.getMessage}")
        Some(String.valueOf(e).linesIterator.next().take(300))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val gq = gcMillis - g0
      val cq = if (c0 < 0) -1L else (processCpuNanos - c0) / 1000000L
      val (_, s1, i1) = cpuJiffies
      val (u1, _) = codegenStats
      err.toLeft(QSample(dt, gq, cq, settle() - sb0, s1 - s0, i1 - i0, u1 - u0))
    }
    val (cg1, cgMean) = codegenStats
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
    val (busy1, steal1, iow1) = cpuJiffies
    val (db, ds, di) = (busy1 - busy0, steal1 - steal0, iow1 - iow0)
    val stealFrac = if (db + ds == 0) 0.0 else ds.toDouble / (db + ds)
    val iowaitFrac = if (db + di == 0) 0.0 else di.toDouble / (db + di)
    val cpuMs = if (pc0 < 0) -1L else (processCpuNanos - pc0) / 1000000L
    Pass(samples, stealFrac, Seq("steal_frac" -> fmt(stealFrac, 4),
      "busy_jiffies" -> db.toString, "steal_jiffies" -> ds.toString,
      "iowait_jiffies" -> di.toString, "iowait_frac" -> fmt(iowaitFrac, 4),
      "process_cpu_ms" -> cpuMs.toString, "codegen_units" -> (cg1 - cg0).toString,
      "jobs" -> (jobsStarted.get - jobs0).toString,
      "codegen_mean_ms" -> fmt(cgMean, 1), "gc_ms" -> (gcMillis - gc0).toString,
      "heap_used_mb" -> heapMb.toString))
  }

  /** Every verdict over a run's passes. `ok` are the queries that never
    * failed, `grid(pass)(j)` is `ok(j)`'s sample, `used` feeds the medians. */
  private[graft] final case class Summary(ok: Seq[String],
      grid: IndexedSeq[IndexedSeq[QSample]], passes: Seq[Pass],
      failed: Seq[(String, Int, String)], flags: IndexedSeq[Seq[String]],
      used: IndexedSeq[Int], medians: IndexedSeq[Double],
      outliers: Seq[(Int, Int)], ambientBand: Double) {
    def queries: Seq[(String, Double)] = ok.zip(medians)
    def total: Double = medians.sum
    def shuffleMb: Seq[(String, Double)] = ok.indices.map(j =>
      ok(j) -> passMedian(used.map(grid(_)(j).shuffleBytes / 1e6)))
    /** `{query: [f(sample) per pass]}` over every pass, for `names`. */
    def perPass(f: QSample => String, names: Seq[String] = ok): String =
      obj(names.map(ok.indexOf).map(j => ok(j) -> arr(grid.map(p => f(p(j))))))
    def slowest10: Seq[String] = queries.sortBy(-_._2).take(10).map(_._1)
    /** Per query, the codegen units compiled over every pass after the
      * first; only queries that compiled any. A query the cache holds
      * compiles nothing once warm, so each entry names a recompiling one. */
    def warmCodegenUnits: Seq[(String, Long)] = ok.indices
      .map(j => ok(j) -> grid.drop(1).map(_(j).codegenUnits).sum)
      .filter(_._2 > 0)
    /** The fields every published JSON object carries. */
    def fields: Seq[(String, String)] = Seq(
      "metric" -> str("total"), "value" -> total.toString, "unit" -> str("sec"),
      "queries" -> obj(queries.map { case (n, v) => n -> v.toString }),
      "ambient_band_est" -> fmt(ambientBand, 4),
      "medians_from" ->
        str(if (used.exists(flags(_).nonEmpty)) "all_passes" else "unflagged_passes"),
      "failed_queries" -> arr(failed.map { case (n, i, e) =>
        obj(Seq("query" -> str(n), "pass" -> i.toString, "error" -> str(e)))
      }),
      "outlier_flags" -> arr(outliers.map { case (i, j) =>
        val q = grid(i)(j)
        obj(Seq("query" -> str(ok(j)), "pass" -> i.toString,
          "sec" -> fmt(q.sec, 3), "min_sec" -> fmt(used.map(grid(_)(j).sec).min, 3),
          "cpu_ms" -> q.cpuMs.toString, "gc_ms" -> q.gcMs.toString,
          "steal_jf" -> q.stealJf.toString, "iowait_jf" -> q.iowaitJf.toString))
      }),
      "telemetry" -> arr(passes.indices.map { i =>
        obj(Seq("pass" -> i.toString) ++ passes(i).telemetry ++ Seq("cpu_excess_ms" ->
          cpuInflationMs(grid.map(_.map(_.cpuMs)), i).toString) ++ flags(i).map(_ -> "true"))
      }))
  }

  /** Every verdict from the collected samples: the steal and CPU gates flag
    * passes, medians come from the unflagged ones (all, if fewer than two
    * are unflagged), and a query that failed in any pass is left out. */
  private[graft] def summarize(names: Seq[String], passes: Seq[Pass]): Summary = {
    val failed = for {
      (p, i) <- passes.zipWithIndex
      (n, Left(e)) <- names.zip(p.samples)
    } yield (n, i, e)
    val bad = failed.map(_._1).toSet
    val ok = names.filterNot(bad)
    val grid = passes.toIndexedSeq.map(p =>
      names.zip(p.samples).collect { case (n, Right(q)) if !bad(n) => q }.toIndexedSeq)
    val cpu = cpuContaminatedPasses(grid.map(_.map(_.cpuMs)), CpuInflation, CpuFloorMs)
    val flags = passes.indices.map(i => Seq(
      "over_max_steal" -> (passes(i).stealFrac > MaxSteal),
      "over_cpu_inflation" -> cpu(i)).collect { case (f, true) => f })
    // one pass is no median: a lone unflagged pass is often pass 0, cold
    val clean = passes.indices.filter(flags(_).isEmpty)
    val used = if (clean.size < 2) passes.indices else clean
    val medians = ok.indices.map(j => passMedian(used.map(grid(_)(j).sec)))
    val outliers = outlierSamples(used.map(grid(_).map(_.sec)), OutlierFactor,
      OutlierFloorSec).map { case (i, j) => (used(i), j) }
    // ambient_band_est: median over queries of (max−min)/median across
    // passes — totals closer than this are the same code. The first used
    // pass carries one-time build costs: left out when there are 3 or more.
    val bandPasses = if (used.size >= 3) used.drop(1) else used
    val rel = ok.indices.flatMap { j =>
      val xs = bandPasses.map(grid(_)(j).sec)
      val m = median(xs)
      if (m <= 0.0 || xs.size < 2) None else Some((xs.max - xs.min) / m)
    }
    Summary(ok, grid, passes, failed, flags, used, medians, outliers,
      if (rel.isEmpty) 0.0 else median(rel))
  }

  def main(args: Array[String]): Unit = ErrorContract.guard {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_ARTIFACT", "BENCH_local_latest.json")
    val slopeDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOPE_DIR",
      if (sfDir.contains("sf0.1")) sfDir.replace("sf0.1", "sf0.01") else "")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // a typo'd SPARK_GRAFT_BENCH_ONLY must fail loudly, not print a zero total
    require(names.nonEmpty,
      s"no queries selected (SPARK_GRAFT_BENCH_ONLY=${only.map(_.mkString(","))})")
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS=$reps")
    val spark = SparkEntry.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.get("SPARK_GRAFT_BENCH_PHASES").contains("1"))
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = {
          val ph = qe.tracker.phases.map { case (k, v) =>
            s"$k=${v.endTimeMs - v.startTimeMs}ms"
          }.mkString(" ")
          System.err.println(
            f"[bench-phase] q=$currentQuery fn=$fn total=${durationNs / 1e6}%.0fms $ph")
        }
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      })

    // Per-query shuffle-write bytes and per-pass job starts via one
    // listener, read after draining the async listener bus, outside every
    // timed region.
    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    // Between queries, drop every temp view made since start and clear the
    // terminated streams: memory sinks would otherwise pin every streaming
    // result in driver memory, and the GC pressure taxes later queries.
    def tempViews(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val startViews = tempViews()
    def drain(): Unit =
      try org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] listener-bus drain failed: ${e.getMessage}")
      }
    def settle(): Long = {
      drain()
      val written = shuffleWritten.get()
      currentQuery = "-"
      (tempViews() -- startViews).foreach(spark.catalog.dropTempView)
      spark.streams.resetTerminated()
      drain() // the cleanup's own events must not land in a timed region
      written
    }
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def run(dir: String)(name: String): Unit = {
      spark.sparkContext.setJobDescription(name) // labels the query's jobs
      try noop(SparkEntry.queries(name)(spark, dir))
      finally spark.sparkContext.setJobDescription(null)
    }
    def warmCorpus(dir: String): Unit =
      Tables.names.foreach { t =>
        try noop(Tables(spark, dir, t))
        catch { case e: Throwable =>
          System.err.println(s"[bench] corpus warm $t ($dir) failed: ${e.getMessage}")
        }
      }

    warmCorpus(sfDir)
    (names.head +: names.filter(_ == "q99_incremental_dedup")).distinct.foreach { n =>
      // a warmup miss must be visible: q99's build would land in pass 0
      try run(sfDir)(n) catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
      }
      settle()
    }
    def jsonLine(s: Summary, extra: Seq[(String, String)]): String = obj(s.fields ++
      Seq("sf" -> str(sfDir)) ++ channels.map { case (_, k, f) =>
        k -> s.perPass(f, s.slowest10) } ++ extra)
    val passes = (0 until reps).foldLeft(Vector.empty[Pass]) { (done, _) =>
      val all = done :+ timedPass(names, n => { currentQuery = n; run(sfDir)(n) }, settle)
      println(jsonLine(summarize(names, all), Seq("provisional" -> "true")))
      all
    }
    val s = summarize(names, passes)

    val slope: Map[String, QSample] =
      if (slopeDir == sfDir || !new java.io.File(slopeDir).isDirectory) Map.empty
      else {
        warmCorpus(slopeDir)
        timedPass(names, run(slopeDir), settle) // untimed: builds + page cache
        names.zip(timedPass(names, run(slopeDir), settle).samples)
          .collect { case (n, Right(q)) => n -> q }.toMap
      }
    val slopeSecs = slope.map { case (n, q) => n -> q.sec }
    val slopeMb = slope.map { case (n, q) => n -> q.shuffleBytes / 1e6 }
    def sfOf(p: String): Option[Double] =
      "sf([0-9]+\\.[0-9]+)".r.findAllMatchIn(p).toSeq.lastOption.map(_.group(1).toDouble)
    val slopeRatio =
      (for { a <- sfOf(sfDir); b <- sfOf(slopeDir) if b > 0 } yield a / b).getOrElse(10.0)
    val slopeFlagsJson = arr(slopeFlags(s.queries, slopeSecs, slopeRatio, SlopeFactor,
      SlopeFloorSec).map(str))
    val shuffleFlagsJson = arr(shuffleSlopeFlags(s.shuffleMb, slopeMb, slopeRatio).map(str))
    def byName(m: Map[String, Double], d: Int): String =
      obj(s.ok.flatMap(n => m.get(n).map(v => n -> fmt(v, d))))

    // Best-effort: a read-only cwd must not fail the run.
    val med = s.queries.toMap
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), obj(
        s.fields ++ Seq("sf" -> str(sfDir), "reps" -> reps.toString,
          "slope_sf_dir" -> str(slopeDir), "slope_row_ratio" -> fmt(slopeRatio, 2),
          "slope_flags" -> slopeFlagsJson, "shuffle_slope_flags" -> shuffleFlagsJson,
          // main-SF median over small-SF time, the superlinearity diff surface
          "scale_slope" -> byName(slopeSecs.collect {
            case (n, s0) if s0 > 0.0 && med.contains(n) => n -> med(n) / s0 }, 2),
          "slope_secs" -> byName(slopeSecs, 3),
          "shuffle_mb" -> byName(s.shuffleMb.toMap, 1),
          "warm_codegen_units" -> obj(s.warmCodegenUnits.map { case (n, u) => n -> u.toString }),
          "slope_shuffle_mb" -> byName(slopeMb, 1),
          // first used pass over median: ~1.0 steady, >>1 a one-time build
          "pass0_over_median" -> obj(s.ok.indices.map { j =>
            val m = s.medians(j)
            s.ok(j) -> fmt(if (m == 0.0) 1.0 else s.grid(s.used.head)(j).sec / m, 2)
          })) ++ channels.map { case (k, _, f) => k -> s.perPass(f) }) + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write $artifact failed: ${e.getMessage}")
    }
    // The "# " prefix keeps the trailer non-JSON; the final JSON line is
    // the last stdout line, so any tail capture retains it, and every
    // earlier JSON line on stdout carries "provisional":true.
    val slowest = s.slowest10.map(n => s"$n=${fmt(med(n), 2)}").mkString(",")
    println(s"# trailer v1 total_sec=${fmt(s.total, 2)} queries=${s.ok.size} " +
      s"failed=${s.failed.map(_._1).distinct.size} " +
      s"sec_per_query=${fmt(s.total / math.max(1, s.ok.size), 3)} slowest10=$slowest")
    println(jsonLine(s, Seq("slope_flags" -> slopeFlagsJson,
      "shuffle_slope_flags" -> shuffleFlagsJson)))
    spark.stop()
  }
}
