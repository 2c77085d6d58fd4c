package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (BENCH_r{N}.json) — as the LAST
  * stdout line, after a short "# trailer" summary, so a bounded tail
  * capture always retains the parseable line.
  *
  * Robustness layers (each auditable in the published telemetry):
  * per-PASS steal gate (discard + backoff), per-PASS process-CPU
  * inflation gate, and per-QUERY outlier repair (round 18) — a sample
  * far above its cross-pass minimum inside an otherwise-accepted pass
  * is re-measured and the original published under `outlier_repairs`
  * with its gc/cpu/steal/iowait attribution.
  *
  * Each query is fully materialized through a `noop`-format write — unlike
  * `count()`, which lets Catalyst prune the projection and under-measures
  * scan-heavy queries. Per-query time is the MEDIAN of
  * SPARK_GRAFT_BENCH_REPS (default 3) full passes over the suite —
  * driver-side contention on this box shows ±50% single-run variance
  * (BASELINE.md), and a median over interleaved passes is robust to a
  * one-off stall landing on one query. Passes are interleaved (pass 1 runs
  * every query, then pass 2, ...) rather than back-to-back per query, so
  * repeated runs don't ride one query's hot file/page cache. Queries run
  * in name order after an untimed warmup so JVM/codegen startup doesn't
  * land on an arbitrary first query.
  *
  * Iteration helpers: SPARK_GRAFT_BENCH_ONLY=q23_...,q24_... restricts the
  * suite; SPARK_GRAFT_BENCH_REPS=1 gives the old single-pass behavior;
  * SPARK_GRAFT_BENCH_DEBUG=1 prints per-pass timings + GC/heap telemetry
  * to stderr; SPARK_GRAFT_BENCH_CLEAN=0 disables the between-query
  * catalog/stream cleanup (diagnosis only).
  *
  * Besides the one stdout JSON line (which adds `slowest10_passes` and
  * `slowest10_gc_ms`, the per-pass seconds and GC attribution behind the
  * tail medians), every run writes a FULL
  * artifact — all medians + all per-pass times + per-pass gc_ms + telemetry — to
  * SPARK_GRAFT_BENCH_ARTIFACT (default ./BENCH_local_latest.json): the
  * driver's stdout tail keeps ~2000 chars, and the middle of the
  * 308-query distribution was invisible to round-over-round diffs.
  */
object Bench {
  /** One timed materialization of one query: wall seconds plus the four
    * attribution channels sampled around it — JVM GC ms, JVM process-CPU
    * ms, shuffle bytes written, and the BOX-WIDE steal/iowait jiffies
    * that elapsed during the query (round-18: the per-PASS steal gate
    * cannot see a 15 s stall inside one query of a 260 s pass, so the
    * external contention signals are now sampled per query too).
    */
  private[graft] final case class QSample(sec: Double, gcMs: Long,
      cpuMs: Long, shuffleBytes: Long, stealJf: Long, iowaitJf: Long)

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** The query currently inside its timed region — read by the (async)
    * phases listener for attribution: QueryExecutionListeners fire on
    * the shared listener bus thread, where the bench thread's job
    * description is invisible. Passes run queries strictly sequentially
    * and measureOne drains the listener bus (see shuffleSnap) before it
    * resets this to "-", so each query's events are attributed exactly
    * and events after the last query to none.
    */
  @volatile private var currentQuery: String = "-"

  /** (cumulative codegen compilations, their mean ms) from Spark's
    * CodegenMetrics — the DIRECT mechanism signal behind the
    * codegen-cache sizing (round-18 verdict task 3): with the 100-entry
    * default a 357-query pass evicts everything and RE-COMPILES every
    * stage every pass; sized to hold a pass, later passes compile ~0
    * units. A per-pass count delta is immune to the ambient wall-clock
    * noise a steal-storm window injects into an A/B.
    */
  private def codegenStats: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** (busy, steal, iowait) jiffies from /proc/stat — hypervisor CPU steal
    * is the one ambient-contention source the in-JVM telemetry (gc, heap)
    * can't see, and this box has shown >90% steal episodes that inflate
    * CPU-bound queries 10–25×. A pass whose steal fraction is high must
    * not be graded (BASELINE.md round-8 protocol). iowait added round 15:
    * the r14 driver run carried ~20 s of pass-level inflation at
    * steal_frac ≤ 0.018 — steal alone is not a sufficient contention
    * flag, and disk-wait is the other ambient channel /proc/stat exposes.
    * (0, 0, 0) off Linux.
    */
  private def cpuJiffies: (Long, Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal
      ((f(1).toLong + f(2).toLong + f(3).toLong), f(8).toLong, f(5).toLong)
    } catch { case _: Throwable => (0L, 0L, 0L) }

  /** Cumulative CPU time consumed by THIS JVM (all threads), ns. The
    * decisive contamination discriminator the r14 driver artifact lacked:
    * a query whose wall time spikes while its process-CPU stays at its
    * usual level was descheduled (ambient — someone else had the cores);
    * one whose CPU spikes with the wall did real extra work (regression).
    * -1 if the platform bean doesn't expose it.
    */
  private def processCpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Locale-pinned fixed-decimal format — the f-interpolator uses the JVM default
    * locale, which can emit a comma decimal separator and corrupt the
    * JSON artifacts (ADVICE r14: pass0_over_median and the per-pass
    * arrays had this latent; steal_frac was already pinned). */
  private def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f",
      java.lang.Double.valueOf(v))

  /** Passes contaminated by NON-STEAL same-box contention (round-15
    * verdict task 2 — the gate's blind spot): hypervisor steal is zero
    * when the contender shares this guest, but the symptom is still in
    * the telemetry — a query's per-pass process-CPU far above its
    * cross-pass MINIMUM on unchanged code (the r15 q155 signature: 50 s
    * CPU vs a 10 s clean pass at steal 0.008; a descheduled-only pass
    * inflates wall, not CPU, and a real regression inflates EVERY pass,
    * so neither trips this). The reference is the min, not the median:
    * contention only ever ADDS cpu, so the cleanest pass is the truth,
    * and a median is itself contaminated in the motivating 2-of-3-bad
    * case. A pass is flagged iff some query's CPU exceeds `factor`× the
    * cross-pass min AND the excess clears `floorMs` (so JIT/GC jitter on
    * sub-second queries never trips it). The FIRST accepted pass is
    * exempt: one-time shared-artifact builds (q151's gram index, the
    * Lloyd chains, q316's L2 levels — see pass0_over_median) land on it
    * by construction and carry exactly this CPU signature; a 3-pass
    * median already tolerates one contaminated pass, and contention that
    * persists into later passes is caught there (verified against the
    * r15 close artifact: every would-be flag under a no-exemption rule
    * was a pass-0 build; no later pass came near the threshold). Needs
    * ≥ 3 passes — with fewer there is no reference to arbitrate.
    * Queries with a -1 sample (platform bean missing) are skipped.
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
      i <- 1 until cpuByPass.size // first accepted pass exempt (builds)
      if cpuByPass(i)(j).toDouble > m.toDouble * factor && cpuByPass(i)(j) - m > floorMs
    } yield i).toSet
  }

  /** Total CPU excess of pass `i` over the cross-pass per-query minima —
    * the tie-breaker for which flagged pass to discard first. */
  private[graft] def cpuInflationMs(cpuByPass: Seq[Seq[Long]], i: Int): Long = {
    val nq = cpuByPass.map(_.length).min
    (0 until nq).map { j =>
      val col = cpuByPass.map(_(j))
      if (col.exists(_ < 0)) 0L
      else math.max(0L, cpuByPass(i)(j) - col.min)
    }.sum
  }

  /** Adaptive inter-pass backoff after the Nth CONSECUTIVE steal
    * discard (round-16 verdict task 5): a contention storm should spend
    * wall-clock waiting it out, not burn the retry budget re-measuring
    * into the same storm — doubling from `baseMs`, capped at `capMs`,
    * reset the moment a pass is accepted.
    */
  private[graft] def stealBackoffMs(consecutive: Int, baseMs: Long,
      capMs: Long): Long =
    if (consecutive <= 0) 0L
    else math.min(capMs, baseMs << math.min(consecutive - 1, 20))

  /** Scale-slope tripwire (round-16 verdict task 6): queries whose
    * measured cost grows SUPERLINEARLY in rows between the small and
    * main scale factors. A linear query's main/small ratio is < rowRatio
    * (fixed overhead only shrinks it); n·log n lands just above; an
    * accidental O(n²) heads toward rowRatio². `factor` (default 2 ⇒
    * threshold 2×rowRatio at the 10× SF step) keeps n·log n and
    * single-pass noise out, and `floorSec` ignores queries whose main-SF
    * excess is under a second (fixed-overhead territory). Conservative
    * by construction: one-time artifact builds landing in the small-SF
    * pass inflate the denominator and can only UNDER-flag — the warm
    * pass before the timed slope pass exists to keep that rare.
    */
  private[graft] def slopeFlags(main: Seq[(String, Double)],
      small: Map[String, Double], rowRatio: Double, factor: Double,
      floorSec: Double): Seq[String] =
    main.collect {
      case (n, t) if small.get(n).exists(s0 =>
        s0 > 0.0 && t > factor * rowRatio * s0 && t - s0 > floorSec) => n
    }

  /** Per-QUERY stall detection (round-18 verdict task 1): flagged
    * (passIdx, queryIdx) samples whose wall time exceeds `factor`× the
    * query's CROSS-PASS MINIMUM by more than `floorSec`. The per-pass
    * steal/cpu gates adjudicate whole passes, but this box's stall
    * windows hit a handful of queries inside an otherwise-clean pass
    * (the r17 driver recorded q152 at [0.88, 7.91, 15.63] s on identical
    * code — an 18× pass-to-pass swing that median-of-3 published as
    * 7.91). Same reference principle as the CPU gate: contention only
    * ever ADDS time, so the cleanest pass is the truth and the median
    * is itself contaminated in the 2-of-3-bad case. The first accepted
    * pass is exempt — one-time shared-artifact builds land there by
    * construction (pass0_over_median makes them visible), and a median
    * already tolerates one slow pass-0 sample. Flagged samples are
    * RE-MEASURED, not dropped: the replacement is a fresh measurement
    * kept whatever its value (with a bounded retry if the re-run itself
    * stalls), and the original stays published in `outlier_repairs`,
    * so the repair cannot cherry-pick fast runs. Needs ≥ 2 passes —
    * with one there is no reference to arbitrate.
    */
  private[graft] def outlierSamples(wall: Seq[Seq[Double]], factor: Double,
      floorSec: Double): Seq[(Int, Int)] = {
    if (wall.size < 2) return Seq.empty
    val nq = wall.map(_.length).min
    for {
      j <- 0 until nq
      col = wall.map(_(j))
      m = col.min
      i <- 1 until wall.size // first accepted pass exempt (builds)
      if wall(i)(j) > factor * m && wall(i)(j) - m > floorSec
    } yield (i, j)
  }

  /** Shuffle-volume slope tripwire: the same superlinearity test as
    * [[slopeFlags]], applied to per-query SHUFFLE WRITE megabytes
    * instead of wall seconds. Wall time can hide a shuffle blowup
    * behind page cache and core count at bench scale; the bytes a
    * query puts on the exchange cannot — a query whose shuffle volume
    * grows superlinearly in rows is re-shuffling something
    * corpus-shaped and becomes the bottleneck at 100 TB even if its
    * sf0.1 wall time still looks flat. The 64 MB excess floor keeps
    * fixed-size artifact/broadcast shuffles out.
    */
  private[graft] def shuffleSlopeFlags(main: Seq[(String, Double)],
      small: Map[String, Double], rowRatio: Double,
      factor: Double = 2.0, floorMb: Double = 64.0): Seq[String] =
    slopeFlags(main, small, rowRatio, factor, floorMb)

  def main(args: Array[String]): Unit = ErrorContract.guard {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val debug = sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")
    val clean = !sys.env.get("SPARK_GRAFT_BENCH_CLEAN").contains("0")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Scan-split floor (optimization r17, guide §6/§2.5 "input skew"):
      // split size is min(maxPartitionBytes, max(openCostInBytes,
      // totalBytes/parallelism)) — the SCALE-ADAPTIVE term is
      // totalBytes/parallelism, but the 4 MB openCostInBytes default
      // floors it, so a single small parquet file (every base table
      // here is one file, 0.3-11 MB) plans into 1-3 map tasks and a
      // scan-heavy stage runs on 1-3 of the 32 cores (q03's
      // scan+partial-agg stage: 1.29 s wall on a 75 ms-per-core job).
      // 128 KB keeps the adaptive formula in charge at every scale: at
      // 100 TB splits still cap at maxPartitionBytes, and the only
      // large-scale effect is denser packing of small files — the
      // direction §6 recommends anyway. Parameterized for deployments
      // that want the old padding back.
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST_BYTES", (128 * 1024).toString))
      // Whole-stage-codegen class cache (static conf, default 100
      // entries): a 357-query suite generates far more codegen units
      // than that per pass, so the cache evicts everything between
      // passes and every stage of every query RE-COMPILES on every
      // rep (~10-40 ms per unit, driver-side, serial with the query).
      // Sized ABOVE one full suite pass; the entries are weakly
      // referenced compiled classes, not data — same win on any
      // long-lived session running a workload wider than 100 plans.
      // r18 A/B (mechanism metric: per-pass CodegenMetrics compilation
      // counts, immune to ambient noise): r17's 5000 was TOO SMALL —
      // a 357-query pass generates ~5.4k units, so LRU churn still
      // evicted everything and every pass recompiled ~4.7k units
      // (~55 s/pass of compile work); on a 40-query subset where 5000
      // holds a pass, repeat passes compiled 92 vs 780 units (−88 %).
      // 12000 holds a full pass with headroom.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "12000"))
      .getOrCreate()
    // diagnosis-only: SPARK_GRAFT_BENCH_LOGLVL=INFO surfaces per-job
    // wall times (DAGScheduler "Job N finished ... took") for the
    // job-count decomposition the optimization rounds work from
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOGLVL", "WARN"))
    // diagnosis-only: SPARK_GRAFT_BENCH_PHASES=1 prints each action's
    // driver-phase attribution (parsing/analysis/optimization/planning
    // from the QueryPlanningTracker, plus total execution wall) — the
    // half of a query's time that job logs can't see
    if (sys.env.get("SPARK_GRAFT_BENCH_PHASES").contains("1"))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            import scala.jdk.CollectionConverters._
            val ph = qe.tracker.phases.map { case (k, v) =>
              s"$k=${v.endTimeMs - v.startTimeMs}ms"
            }.mkString(" ")
            System.err.println(
              f"[bench-phase] q=$currentQuery fn=$fn total=${durationNs / 1e6}%.0fms $ph")
          }
          override def onFailure(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        })

    // Streaming queries land their output in memory-sink temp views (one
    // fresh UUID-named view per EXECUTION — checkpoint reuse would make
    // reps no-ops, see EventWindows). Left alone, every rep of every
    // streaming query parks its full output in driver memory for the
    // lifetime of the JVM: at reps=3 over the whole suite that is dozens
    // of retained result sets in an 8 GiB heap, and the resulting GC
    // pressure taxes exactly the job-heaviest queries (q70's iterative
    // rounds, q74's stream-stream join). Drop each query's new temp views
    // once it has been materialized, and clear the terminated-query list
    // the StreamingQueryManager keeps (it pins the sinks too).
    def cleanup(before: Set[String]): Unit = if (clean) {
      val cat = spark.catalog
      cat.listTables().collect()
        .filter(t => t.isTemporary && !before.contains(t.name))
        .foreach(t => cat.dropTempView(t.name))
      spark.streams.resetTerminated()
    }

    def materializeAt(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    def materialize(name: String): Unit = materializeAt(name, sfDir)

    // Per-query shuffle-write bytes via a task-end listener (round-17):
    // the input to the shuffle-volume slope tripwire. Snapshots happen
    // OUTSIDE every timed region, after draining the async listener bus,
    // so attribution is exact and timing is untouched.
    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def shuffleSnap(): Long = {
      try org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] listener-bus drain failed: ${e.getMessage}")
      }
      shuffleWritten.get()
    }

    def tempViews(): Set[String] =
      if (clean) spark.catalog.listTables().collect().map(_.name).toSet
      else Set.empty[String]

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // a typo'd SPARK_GRAFT_BENCH_ONLY must fail loudly, not print a
    // plausible-looking zero-total benchmark
    require(names.nonEmpty,
      s"no queries selected (SPARK_GRAFT_BENCH_ONLY=${only.map(_.mkString(","))})")
    // untimed warmup: JVM + codegen + parquet footer caches. q99's
    // one-time base-index build also belongs here — its timing contract
    // is "incremental path only", and without a warmup execution the
    // build would land inside rep 1's timed region (and be the whole
    // number at SPARK_GRAFT_BENCH_REPS=1).
    // Untimed CORPUS warm: a full read-through of every base table
    // before pass 1. The first cold reads of the sf dir otherwise land
    // inside whichever queries run first alphabetically (BASELINE.md
    // round-9: q03 6.97 s in-suite vs 1.20 s isolated, pure first-touch
    // page-cache cost) — that is a property of the box's cold cache,
    // not of the queries, so it belongs outside every timed region.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach { t =>
        try Tables(spark, sfDir, t).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] corpus warm $t failed: ${e.getMessage}")
        }
      }
    try Tables.events(spark, sfDir).write.mode("overwrite").format("noop").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] corpus warm events failed: ${e.getMessage}")
    }
    val warm = Seq(names.head) ++
      names.find(_ == "q99_incremental_dedup").filter(_ != names.head)
    warm.foreach { n =>
      val before = tempViews()
      // a warmup miss must be VISIBLE: if q99's untimed base-index build
      // fails here, the build lands inside rep 1's timed region and the
      // published number is skewed — silent catch would hide that
      try materialize(n) catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
      }
      cleanup(before)
    }

    // Per-pass ambient telemetry rides INSIDE the published JSON (not
    // just the debug stderr): the driver-vs-clean adjudication that
    // each round's verdict performs needs steal_frac/gc machine-
    // readable next to the numbers it qualifies (BASELINE.md round-8
    // protocol: a high-steal pass must not be graded).
    //
    // Round-15: the protocol is now ENFORCED in-process, not just
    // recorded. A pass whose steal_frac exceeds SPARK_GRAFT_BENCH_MAX_
    // STEAL (default 0.03) is DISCARDED and re-run, up to SPARK_GRAFT_
    // BENCH_STEAL_RETRIES (default 2) extra passes per invocation —
    // three r14/r15 close attempts were wasted re-running full benches
    // by hand because one contended pass poisoned the medians. The gate
    // reads an EXTERNAL contamination signal (hypervisor steal), never
    // the measured times, so it cannot cherry-pick fast runs; every
    // discarded pass stays in the telemetry array marked
    // "discarded":true with its full counters, and if the retry budget
    // runs out the contended pass is kept (and visible) rather than
    // looping forever on a busy box.
    val maxSteal = sys.env.get("SPARK_GRAFT_BENCH_MAX_STEAL")
      .map(_.toDouble).getOrElse(0.03)
    // retry budget 2 → 4 with the adaptive backoff below (round-16
    // verdict task 5): a storm now costs waiting wall-clock, not budget
    val maxStealRetries = sys.env.get("SPARK_GRAFT_BENCH_STEAL_RETRIES")
      .map(_.toInt).getOrElse(4)
    val backoffBaseMs = sys.env.get("SPARK_GRAFT_BENCH_BACKOFF_MS")
      .map(_.toLong).getOrElse(10000L)
    val backoffCapMs = sys.env.get("SPARK_GRAFT_BENCH_BACKOFF_CAP_MS")
      .map(_.toLong).getOrElse(120000L)
    val passTelemetry = new scala.collection.mutable.ArrayBuffer[String]
    // per-query GC attribution (round-12 verdict task 5): the JVM-wide
    // collection-time counter sampled around each materialize converts
    // every in-suite-vs-isolated adjudication (q151, q155's pass
    // spikes) from a manual A/B session into a read of the artifact —
    // a query whose wall time spikes WITH gc_ms is paying someone
    // else's garbage; one that spikes without it is doing real work.
    // Per-query process-CPU (round-15): wall-vs-cpu is the contamination
    // discriminator — see processCpuNanos. Per-query steal/iowait
    // jiffies (round-18): the box-wide external channels, sampled per
    // query so a stall that hits ONE query of a clean pass is
    // attributable without a rerun session.
    def measureOne(name: String): QSample = {
      val before = tempViews() // outside the timed region
      val sb0 = shuffleSnap() // outside the timed region (drains the bus)
      // guide §1.5: label the query's jobs (thread-local, ~free) for
      // UI/log forensics; currentQuery carries the same name to the
      // async phases listener (thread-locals don't cross the bus)
      spark.sparkContext.setJobDescription(name)
      currentQuery = name
      val (_, qs0, qi0) = cpuJiffies
      val g0 = gcMillis
      val c0 = processCpuNanos
      val t0 = System.nanoTime()
      try materialize(name)
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      finally spark.sparkContext.setJobDescription(null)
      val dt = (System.nanoTime() - t0) / 1e9
      val gq = gcMillis - g0
      val cq = if (c0 < 0) -1L else (processCpuNanos - c0) / 1000000L
      val (_, qs1, qi1) = cpuJiffies
      val sb = shuffleSnap() - sb0
      // the drain above delivered this query's own events; later ones
      // (repair reruns, end of run) belong to no query
      currentQuery = "-"
      cleanup(before) // outside the timed region
      QSample(dt, gq, cq, sb, qs1 - qs0, qi1 - qi0)
    }
    def runPass(pass: Int): (IndexedSeq[QSample], Double, String) = {
      val (busy0, steal0, iow0) = cpuJiffies
      val gc0 = gcMillis
      val pc0 = processCpuNanos
      val (cg0, _) = codegenStats
      val times = names.map(measureOne)
      val (cg1, cgMean) = codegenStats
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      val (busy1, steal1, iow1) = cpuJiffies
      val (db, ds, di) = (busy1 - busy0, steal1 - steal0, iow1 - iow0)
      val stealFrac = if (db + ds == 0) 0.0 else ds.toDouble / (db + ds)
      val iowaitFrac = if (db + di == 0) 0.0 else di.toDouble / (db + di)
      val passCpuMs = if (pc0 < 0) -1L else (processCpuNanos - pc0) / 1000000L
      val tjBase = s"""{"pass":$pass,"steal_frac":${fmt(stealFrac, 4)},""" +
        s""""busy_jiffies":$db,"steal_jiffies":$ds,""" +
        s""""iowait_jiffies":$di,"iowait_frac":${fmt(iowaitFrac, 4)},""" +
        s""""process_cpu_ms":$passCpuMs,""" +
        s""""codegen_units":${cg1 - cg0},"codegen_mean_ms":${fmt(cgMean, 1)},""" +
        s""""gc_ms":${gcMillis - gc0},"heap_used_mb":$heapMb"""
      if (debug) {
        System.err.println(
          f"[bench-debug] pass=$pass steal_frac=$stealFrac%.3f busy_jf=$db steal_jf=$ds")
        System.err.println(f"[bench-debug] pass=$pass gc_ms=$gcMillis heap_used_mb=$heapMb")
        names.zip(times).foreach { case (n, q) =>
          System.err.println(
            f"[bench-debug] pass=$pass $n%-32s ${q.sec}%8.3f gc_ms=${q.gcMs} " +
              f"cpu_ms=${q.cpuMs} shuffle_mb=${q.shuffleBytes / 1e6}%.1f " +
              s"steal_jf=${q.stealJf} iowait_jf=${q.iowaitJf}")
        }
      }
      (times.toIndexedSeq, stealFrac, tjBase)
    }
    // Pass records finalize their telemetry JSON at the END of the run:
    // the cpu-inflation gate below can only judge a pass against the
    // cross-pass medians, i.e. after its successors exist.
    final class PassRec(val times: IndexedSeq[QSample],
        val tjBase: String) {
      var flags: List[String] = Nil
      def discarded: Boolean = flags.exists(_.startsWith("discarded"))
      def json: String =
        tjBase + flags.map(f => s""","$f":true""").mkString + "}"
    }
    val recs = new scala.collection.mutable.ArrayBuffer[PassRec]
    def accepted = recs.filter(!_.discarded)
    var stealRetries = 0
    var consecutiveSteal = 0
    var passNo = 0
    def acquirePasses(): Unit = while (accepted.size < reps) {
      val (times, stealFrac, tjBase) = runPass(passNo)
      val r = new PassRec(times, tjBase)
      if (stealFrac > maxSteal && stealRetries < maxStealRetries) {
        stealRetries += 1
        consecutiveSteal += 1
        r.flags ::= "discarded"
        val waitMs = stealBackoffMs(consecutiveSteal, backoffBaseMs, backoffCapMs)
        System.err.println(f"[bench] pass $passNo discarded: steal_frac=" +
          f"$stealFrac%.4f > $maxSteal%.4f (retry $stealRetries/$maxStealRetries, " +
          s"backing off ${waitMs / 1000} s)")
        Thread.sleep(waitMs)
      } else if (stealFrac > maxSteal) {
        r.flags ::= "over_max_steal"
        System.err.println(f"[bench] pass $passNo KEPT despite steal_frac=" +
          f"$stealFrac%.4f — retry budget exhausted; medians are suspect")
      }
      if (!r.discarded) consecutiveSteal = 0
      recs += r
      passNo += 1
    }
    acquirePasses()
    // Round-16: the non-steal contamination gate (verdict task 2). Same
    // external-signal principle as the steal gate — the discriminator is
    // process-CPU (work actually burned), never the wall times the bench
    // publishes, so it cannot cherry-pick fast runs; every discarded
    // pass stays in the telemetry with its counters and a flag.
    val maxCpuInfl = sys.env.get("SPARK_GRAFT_BENCH_CPU_INFL")
      .map(_.toDouble).getOrElse(3.0)
    val cpuFloorMs = sys.env.get("SPARK_GRAFT_BENCH_CPU_FLOOR_MS")
      .map(_.toLong).getOrElse(5000L)
    val maxCpuRetries = sys.env.get("SPARK_GRAFT_BENCH_CPU_RETRIES")
      .map(_.toInt).getOrElse(2)
    var cpuRetries = 0
    var settled = false
    while (!settled) {
      val acc = accepted.toIndexedSeq
      val cpuByPass = acc.map(_.times.map(_.cpuMs))
      val flagged = cpuContaminatedPasses(cpuByPass, maxCpuInfl, cpuFloorMs)
      if (flagged.isEmpty) settled = true
      else if (cpuRetries < maxCpuRetries) {
        cpuRetries += 1
        val worst = flagged.maxBy(i => cpuInflationMs(cpuByPass, i))
        acc(worst).flags ::= "discarded_cpu"
        // "minima", not "medians" (ADVICE r16): the gate's reference is
        // the cross-pass per-query MINIMUM — the message feeds the
        // adjudication protocol and must name the implemented reference
        System.err.println(s"[bench] pass discarded: per-query process-CPU " +
          s"inflated ${fmt(cpuInflationMs(cpuByPass, worst) / 1000.0, 1)} s over " +
          s"cross-pass minima at steal under the gate — same-box contention " +
          s"(retry $cpuRetries/$maxCpuRetries)")
        acquirePasses()
      } else {
        flagged.foreach(i => acc(i).flags ::= "over_cpu_inflation")
        System.err.println("[bench] cpu-inflation retry budget exhausted; " +
          "contaminated passes KEPT and flagged — medians are suspect")
        settled = true
      }
    }
    recs.foreach(r => passTelemetry += r.json)
    val samples: Array[Array[QSample]] = accepted.toArray.map(_.times.toArray)
    // Per-QUERY outlier repair (round-18 verdict task 1): the pass gates
    // above catch pass-wide contamination; this catches the stall
    // windows that hit a few queries inside accepted passes (see
    // outlierSamples). Every flagged sample is re-MEASURED in place —
    // fresh timed run, same isolation — and the original value plus its
    // gc/cpu/steal/iowait attribution is published in outlier_repairs,
    // so nothing is silently dropped and the repair is auditable.
    val outFactor = sys.env.get("SPARK_GRAFT_BENCH_OUTLIER_FACTOR")
      .map(_.toDouble).getOrElse(2.0)
    val outFloorSec = sys.env.get("SPARK_GRAFT_BENCH_OUTLIER_FLOOR_SEC")
      .map(_.toDouble).getOrElse(0.75)
    val outBudget = sys.env.get("SPARK_GRAFT_BENCH_OUTLIER_RERUNS")
      .map(_.toInt).getOrElse(40)
    val outRetries = sys.env.get("SPARK_GRAFT_BENCH_OUTLIER_RETRIES")
      .map(_.toInt).getOrElse(2)
    val repairJsons = new scala.collection.mutable.ArrayBuffer[String]
    var rerunsUsed = 0
    val flaggedOutliers =
      outlierSamples(samples.toSeq.map(_.toSeq.map(_.sec)), outFactor, outFloorSec)
    flaggedOutliers.foreach { case (i, j) =>
      if (rerunsUsed < outBudget) {
        val name = names(j)
        val m = samples.map(_(j).sec).min
        val orig = samples(i)(j)
        var cur = orig
        var attempts = 0
        var settled = false
        while (!settled && attempts < outRetries && rerunsUsed < outBudget) {
          attempts += 1; rerunsUsed += 1
          cur = measureOne(name)
          settled = !(cur.sec > outFactor * m && cur.sec - m > outFloorSec)
        }
        samples(i)(j) = cur
        System.err.println(f"[bench] outlier repaired: $name pass $i " +
          f"${orig.sec}%.3f s (cross-pass min ${m}%.3f, cpu_ms=${orig.cpuMs}, " +
          f"gc_ms=${orig.gcMs}, steal_jf=${orig.stealJf}, iowait_jf=${orig.iowaitJf}) " +
          f"-> ${cur.sec}%.3f s after $attempts rerun(s)" +
          (if (settled) "" else " [STILL OVER THRESHOLD - kept]"))
        repairJsons += s"""{"query":"$name","pass":$i,""" +
          s""""orig_sec":${fmt(orig.sec, 3)},"orig_cpu_ms":${orig.cpuMs},""" +
          s""""orig_gc_ms":${orig.gcMs},"orig_steal_jf":${orig.stealJf},""" +
          s""""orig_iowait_jf":${orig.iowaitJf},""" +
          s""""rerun_sec":${fmt(cur.sec, 3)},"rerun_cpu_ms":${cur.cpuMs},""" +
          s""""reruns":$attempts,"settled":$settled}"""
      } else {
        System.err.println(s"[bench] outlier NOT repaired (budget " +
          s"$outBudget exhausted): ${names(j)} pass $i")
      }
    }
    val repairsJson = repairJsons.mkString("[", ",", "]")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = names.zipWithIndex.map { case (name, i) =>
      name -> median(samples.toSeq.map(_(i).sec))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // ambient_band_est (round-15 verdict task 7): the cross-pass
    // same-code dispersion — median over queries of each query's
    // (max−min)/median across the ACCEPTED passes. This is the
    // machine-readable form of the "uniform sub-steal ambient band"
    // adjudication BASELINE.md r15 recorded in prose: two artifacts
    // whose totals differ by less than this band are the same code.
    // computed over the NON-FIRST accepted passes: the first pass
    // carries one-time codegen/build costs that the published medians
    // already exclude, and the band exists to qualify those medians
    val ambientBand = {
      val ss = if (samples.length >= 3) samples.toSeq.drop(1) else samples.toSeq
      val rel = names.indices.flatMap { i =>
        val xs = ss.map(_(i).sec)
        val m = median(xs)
        if (m <= 0.0 || xs.size < 2) None else Some((xs.max - xs.min) / m)
      }
      if (rel.isEmpty) 0.0 else median(rel)
    }
    // Scale-slope tripwire (round-16 verdict task 6): one warm + one
    // timed pass of the whole suite at a SMALLER scale factor (default:
    // the sf0.01 sibling of an sf0.1 run; SPARK_GRAFT_BENCH_SLOPE_DIR
    // overrides, empty disables), then flag queries whose main-SF median
    // exceeds factor × rowRatio × small-SF time — the mechanical catch
    // for an accidental O(n²) the day it lands, instead of at a judge's
    // plan read. The warm pass keeps first-touch page cache and one-time
    // per-dir artifact builds out of the timed slope denominators.
    val slopeDir = sys.env.get("SPARK_GRAFT_BENCH_SLOPE_DIR").getOrElse(
      if (sfDir.contains("sf0.1")) sfDir.replace("sf0.1", "sf0.01") else "")
    val slopeStats: Map[String, (Double, Long)] =
      if (slopeDir.isEmpty || slopeDir == sfDir ||
        !new java.io.File(slopeDir).isDirectory) Map.empty
      else {
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings").foreach { t =>
          try Tables(spark, slopeDir, t).write.mode("overwrite").format("noop").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] slope warm $t failed: ${e.getMessage}")
          }
        }
        try Tables.events(spark, slopeDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] slope warm events failed: ${e.getMessage}")
        }
        def slopePass(timed: Boolean): Map[String, (Double, Long)] =
          names.map { n =>
            val before = tempViews()
            val sb0 = shuffleSnap()
            val t0 = System.nanoTime()
            try materializeAt(n, slopeDir)
            catch { case e: Throwable =>
              System.err.println(s"[bench] slope $n failed: ${e.getMessage}")
            }
            val dt = (System.nanoTime() - t0) / 1e9
            val sb = shuffleSnap() - sb0
            cleanup(before)
            n -> (if (timed) (dt, sb) else (0.0, 0L))
          }.toMap
        slopePass(timed = false) // warm: builds + page cache, untimed
        slopePass(timed = true)
      }
    val slopeSecs: Map[String, Double] = slopeStats.map { case (k, v) => k -> v._1 }
    val slopeRatio = sys.env.get("SPARK_GRAFT_BENCH_SLOPE_RATIO")
      .map(_.toDouble).getOrElse {
        def sfOf(p: String): Option[Double] =
          "sf([0-9]+\\.[0-9]+)".r.findAllMatchIn(p).toSeq.lastOption
            .map(_.group(1).toDouble)
        (for { a <- sfOf(sfDir); b <- sfOf(slopeDir) if b > 0 } yield a / b)
          .getOrElse(10.0)
      }
    val slopeFactor = sys.env.get("SPARK_GRAFT_BENCH_SLOPE_FACTOR")
      .map(_.toDouble).getOrElse(2.0)
    val slopeFloorSec = sys.env.get("SPARK_GRAFT_BENCH_SLOPE_FLOOR_SEC")
      .map(_.toDouble).getOrElse(1.0)
    val flaggedSlope =
      if (slopeSecs.isEmpty) Seq.empty[String]
      else slopeFlags(results, slopeSecs, slopeRatio, slopeFactor, slopeFloorSec)
    if (flaggedSlope.nonEmpty)
      System.err.println(s"[bench] SLOPE FLAGS (cost superlinear in rows " +
        s"at ${fmt(slopeRatio, 1)}x SF step): ${flaggedSlope.mkString(",")}")
    val slopeFlagsJson = flaggedSlope.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Shuffle-volume medians + slope tripwire (round-17): per-query
    // shuffle WRITE MB at the main SF (median over accepted passes),
    // flagged superlinear against the small-SF slope pass's bytes —
    // see shuffleSlopeFlags for why bytes catch what wall time hides.
    val shuffleMb: Seq[(String, Double)] = names.zipWithIndex.map { case (n, i) =>
      n -> median(samples.toSeq.map(_(i).shuffleBytes.toDouble / 1e6))
    }
    val smallShuffleMb: Map[String, Double] =
      slopeStats.map { case (k, v) => k -> v._2.toDouble / 1e6 }
    val flaggedShuffle =
      if (slopeStats.isEmpty) Seq.empty[String]
      else shuffleSlopeFlags(shuffleMb, smallShuffleMb, slopeRatio)
    if (flaggedShuffle.nonEmpty)
      System.err.println(s"[bench] SHUFFLE SLOPE FLAGS (shuffle volume " +
        s"superlinear in rows at ${fmt(slopeRatio, 1)}x SF step): " +
        flaggedShuffle.mkString(","))
    val shuffleFlagsJson = flaggedShuffle.map("\"" + _ + "\"").mkString("[", ",", "]")
    val telemetry = passTelemetry.mkString("[", ",", "]")
    // Per-pass seconds for the slowest10 ride in the PUBLISHED JSON
    // (round-11 verdict task 3): when one pass runs under heavy CPU
    // steal, the adjudicator can see exactly which medians it fed —
    // e.g. a 3-pass [1.4, 11.2, 1.5] median is 1.5, but [1.4, 11.2,
    // 10.9] medians to 10.9 and the telemetry's steal_frac explains it.
    def passesOf(name: String): String = {
      val i = names.indexOf(name)
      samples.map(p => fmt(p(i).sec, 3)).mkString("[", ",", "]")
    }
    def gcOf(name: String): String = {
      val i = names.indexOf(name)
      samples.map(p => p(i).gcMs.toString).mkString("[", ",", "]")
    }
    def cpuOf(name: String): String = {
      val i = names.indexOf(name)
      samples.map(p => p(i).cpuMs.toString).mkString("[", ",", "]")
    }
    val slowNames = results.sortBy(-_._2).take(10).map(_._1)
    val slowPasses = slowNames
      .map(n => "\"" + n + "\":" + passesOf(n)).mkString("{", ",", "}")
    val slowGc = slowNames
      .map(n => "\"" + n + "\":" + gcOf(n)).mkString("{", ",", "}")
    // slowest10 per-pass process-CPU ms (round-15): lets the verdict's
    // driver-vs-local adjudication read "wall spiked, cpu didn't" straight
    // off the published line — the r14 q166/q165/q155 case needed a
    // same-day local rerun to make that call.
    val slowCpu = slowNames
      .map(n => "\"" + n + "\":" + cpuOf(n)).mkString("{", ",", "}")
    // slowest10 per-pass box-wide steal/iowait jiffies (round-18): the
    // external-channel attribution for a slow median, readable off the
    // published line — "wall spiked, steal/iowait flat, cpu flat" is a
    // deschedule; "cpu spiked too at steal 0" is memory-bandwidth/LLC
    // contention from outside the guest (the r17 q152 signature).
    def stealOf(name: String): String = {
      val i = names.indexOf(name)
      samples.map(p => p(i).stealJf.toString).mkString("[", ",", "]")
    }
    def iowaitOf(name: String): String = {
      val i = names.indexOf(name)
      samples.map(p => p(i).iowaitJf.toString).mkString("[", ",", "]")
    }
    val slowSteal = slowNames
      .map(n => "\"" + n + "\":" + stealOf(n)).mkString("{", ",", "}")
    val slowIowait = slowNames
      .map(n => "\"" + n + "\":" + iowaitOf(n)).mkString("{", ",", "}")
    val benchJsonLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","ambient_band_est":${fmt(ambientBand, 4)},"slope_flags":$slopeFlagsJson,"shuffle_slope_flags":$shuffleFlagsJson,"telemetry":$telemetry,"outlier_repairs":$repairsJson,"outlier_reruns_used":$rerunsUsed,"slowest10_passes":$slowPasses,"slowest10_gc_ms":$slowGc,"slowest10_cpu_ms":$slowCpu,"slowest10_steal_jf":$slowSteal,"slowest10_iowait_jf":$slowIowait}"""
    // Full per-query artifact ON DISK (round-11 verdict task 6): the
    // driver's stdout tail capture keeps ~2000 chars, which loses ~270
    // of 308 medians; this file keeps every median AND every per-pass
    // time, so round-over-round regression diffs cover the whole
    // distribution. Best-effort: a read-only cwd must not fail the run.
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_ARTIFACT", "BENCH_local_latest.json")
    try {
      val allPasses = names.map(n => "\"" + n + "\":" + passesOf(n)).mkString("{", ",", "}")
      val allGc = names.map(n => "\"" + n + "\":" + gcOf(n)).mkString("{", ",", "}")
      val allCpu = names.map(n => "\"" + n + "\":" + cpuOf(n)).mkString("{", ",", "}")
      val allSteal = names.map(n => "\"" + n + "\":" + stealOf(n)).mkString("{", ",", "}")
      val allIowait = names.map(n => "\"" + n + "\":" + iowaitOf(n)).mkString("{", ",", "}")
      // pass0_over_median (round-13 verdict task 8): first-pass /
      // median per query, so one-time artifact-build cost (q151's gram
      // index, q316's L2 levels — paid on whichever pass first touches
      // the shared store) separates from steady state mechanically
      // instead of by eyeballing per-pass arrays. ~1.0 = steady;
      // >>1 = pass 0 paid a build (or ambient stall — cross-check
      // telemetry.steal_frac/gc before reading it as structure).
      val p0om = names.zipWithIndex.map { case (n, i) =>
        val med = results(i)._2
        val r = if (med == 0.0) 1.0 else samples(0)(i).sec / med
        "\"" + n + "\":" + fmt(r, 2)
      }.mkString("{", ",", "}")
      // scale_slope: per-query main-SF-median / small-SF ratio (the
      // artifact's round-over-round superlinearity diff surface); the
      // timed slope seconds ride beside it for re-derivation
      val slopeRatios = names.flatMap { n =>
        slopeSecs.get(n).filter(_ > 0.0).map(s0 =>
          "\"" + n + "\":" + fmt(results(names.indexOf(n))._2 / s0, 2))
      }.mkString("{", ",", "}")
      val slopeSecsJson = names.flatMap { n =>
        slopeSecs.get(n).map(s0 => "\"" + n + "\":" + fmt(s0, 3))
      }.mkString("{", ",", "}")
      val shuffleMbJson = shuffleMb
        .map { case (n, mb) => "\"" + n + "\":" + fmt(mb, 1) }
        .mkString("{", ",", "}")
      val slopeShuffleMbJson = names.flatMap { n =>
        smallShuffleMb.get(n).map(mb => "\"" + n + "\":" + fmt(mb, 1))
      }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact),
        s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","reps":$reps,""" +
          s""""ambient_band_est":${fmt(ambientBand, 4)},""" +
          s""""slope_sf_dir":"$slopeDir","slope_row_ratio":${fmt(slopeRatio, 2)},""" +
          s""""slope_flags":$slopeFlagsJson,"scale_slope":$slopeRatios,""" +
          s""""slope_secs":$slopeSecsJson,""" +
          s""""shuffle_mb":$shuffleMbJson,"slope_shuffle_mb":$slopeShuffleMbJson,""" +
          s""""shuffle_slope_flags":$shuffleFlagsJson,""" +
          s""""queries":$qs,"per_pass":$allPasses,"per_pass_gc_ms":$allGc,""" +
          s""""per_pass_cpu_ms":$allCpu,""" +
          s""""per_pass_steal_jf":$allSteal,"per_pass_iowait_jf":$allIowait,""" +
          s""""outlier_repairs":$repairsJson,"outlier_reruns_used":$rerunsUsed,""" +
          s""""pass0_over_median":$p0om,"telemetry":$telemetry}""" + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write $artifact failed: ${e.getMessage}")
    }
    // Output order (round-18 verdict task 2): compact trailer FIRST,
    // then the full JSON as the LAST stdout line. The r16 driver run
    // lost its per-query table because the JSON line (which grows with
    // the registry) printed before the trailer and fell out of the
    // captured tail window — with the JSON last, any tail capture
    // retains the line the driver parses, and the trailer above it
    // keeps the human-readable headline nearby. The "# " prefix makes
    // the trailer non-JSON, so a consumer that json-parses the stream
    // or the last line still sees exactly ONE JSON object on stdout.
    // trailer numbers route through the locale-pinned fmt too (ADVICE
    // r15): the driver greps this text, and a comma-decimal default
    // locale would corrupt it exactly like the JSON fields it mirrors
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"$k=${fmt(v, 2)}" }.mkString(",")
    println(s"""# trailer v1 total_sec=${fmt(total, 2)} queries=${results.size} sec_per_query=${fmt(total / results.size, 3)} slowest10=$slowest""")
    println(benchJsonLine)
    spark.stop()
  }
}
