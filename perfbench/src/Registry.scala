package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, sum, xxhash64}

import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkEntry

/** The registry workload: `SparkEntry.queries(name)(spark, sfDir)`
  * followed by a `noop` materialization — the call `graft.Bench` makes —
  * in one closed loop with one client, over batch queries and streaming
  * fixtures listed in files of the benchmark's own; the seed orders them.
  * Every run re-checks each query's streaming class with
  * `StreamingQueryListener` events: a listed batch query must start no
  * StreamingQuery and a listed streaming fixture must start one.
  */
object Registry {

  /** One pass of the listed queries takes about this long on a 4-vCPU host. */
  val SecondsPerPass = 5.4
  /** Untimed passes before the timed region; the first, cold, one is also
    * the run's result dump. */
  val WarmupPasses = 2

  /** A query that starts a StreamingQuery when the list says it does not,
    * or the reverse, is misclassified. */
  def misclassified(expectStream: Boolean, started: Int): Option[String] =
    if (expectStream && started == 0) Some("listed as streaming but started no StreamingQuery")
    else if (!expectStream && started > 0) Some(s"batch query started $started StreamingQuery(s)")
    else None

  /** Lines of a query list file, without blanks and # comments. */
  def listed(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
  }

  /** Runs every registry query once and reports which start a
    * StreamingQuery: how `stream_queries.txt` is made. */
  def discover(spark: SparkSession, args: Main.Args, rec: Recorder): Map[String, Any] = {
    val found = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val before = rec.streamsStarted.get
      val t0 = rec.nowMs
      val ok = try {
        SparkEntry.queries(n)(spark, args.data).write.mode("overwrite").format("noop").save()
        true
      } catch { case _: Throwable => false }
      val ms = rec.nowMs - t0
      Bridge.drainListenerBus(spark)
      spark.streams.resetTerminated()
      n -> Map("streams" -> (rec.streamsStarted.get - before), "ms" -> ms, "ok" -> ok)
    }
    Map("discover" -> found.toMap)
  }

  /** Order-independent digest of a result: row count, the sum of the
    * low 32 bits of each row's hash, and their xor. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), bit_xor(h)).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  def run(spark: SparkSession, args: Main.Args, rec: Recorder): Map[String, Any] = {
    val streaming = listed(args.streamQueries).toSet
    val listedNames = listed(args.batchQueries) ++ streaming.toSeq.sorted
    val unknown = listedNames.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"query list names unknown queries: ${unknown.mkString(",")}")
    val names = new Random(args.seed).shuffle(listedNames)
    val oracles = SparkEntry.oracleSql
    val misc = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Streaming fixtures land output in memory-sink temp views; drop the
    // new views and the terminated-query list after each pass, untimed.
    def cleanup(before: Set[String]): Unit = {
      val cat = spark.catalog
      cat.listTables().collect()
        .filter(t => t.isTemporary && !before.contains(t.name))
        .foreach(t => cat.dropTempView(t.name))
      spark.streams.resetTerminated()
    }
    def views(): Set[String] = spark.catalog.listTables().collect().map(_.name).toSet

    /** An untimed registry call that also checks the query's streaming
      * class against the list it came from. */
    def checkedCall(name: String): DataFrame = {
      val before = rec.streamsStarted.get
      val df = SparkEntry.queries(name)(spark, args.data)
      Bridge.drainListenerBus(spark)
      misclassified(streaming(name), rec.streamsStarted.get - before)
        .foreach(m => misc.getOrElseUpdate(name, m))
      df
    }

    rec.note("session up")
    // Untimed warm-up pass that is also the run's one result dump for
    // the DuckDB oracle; queries without an oracle keep a digest that
    // must repeat after the timed passes.
    val dumpDir = s"${args.work}/dump"
    val warmDigest = scala.collection.mutable.Map.empty[String, String]
    val setupFailures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      val before = views()
      try {
        val df = checkedCall(n)
        if (oracles.contains(n)) df.write.mode("overwrite").parquet(s"$dumpDir/$n")
        else warmDigest(n) = digest(df)
      } catch { case e: Throwable =>
        setupFailures(n) = s"threw ${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      cleanup(before)
      rec.note(s"warm-up $n")
    }
    Files.createDirectories(Paths.get(dumpDir))
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"),
      Json.write(names.filter(oracles.contains).map(n => n -> oracles(n)).toMap))

    // Further untimed passes, materialized like the timed ones: query
    // times still fall by up to a half after the cold pass.
    (1 until WarmupPasses).foreach { pass =>
      val before = views()
      new Random(args.seed * 7919 - pass).shuffle(names).filterNot(setupFailures.contains).foreach { n =>
        try SparkEntry.queries(n)(spark, args.data).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          setupFailures(n) = s"warm-up threw ${e.getClass.getName}: ${e.getMessage}".take(500)
        }
      }
      cleanup(before)
      rec.note(s"warm-up pass $pass")
    }

    rec.startTimed()
    val passes = Main.timedPasses(args, SecondsPerPass, rec) { pass =>
      // the loop's own bookkeeping between passes is a span too, so the
      // trace accounts for the whole timed wall
      val h0 = rec.nowMs
      val before = views()
      rec.span("harness", "", 0, h0, rec.nowMs)
      new Random(args.seed * 7919 + pass).shuffle(names).foreach { n =>
        rec.timed(n, pass) { op =>
          val df = op.phase("build")(SparkEntry.queries(n)(spark, args.data))
          op.phase("exec")(df.write.mode("overwrite").format("noop").save())
          None
        }
      }
      val h1 = rec.nowMs
      cleanup(before)
      rec.span("harness", "", 0, h1, rec.nowMs)
    }
    val counters = rec.endTimed()
    rec.note(s"timed region done: $passes passes")

    // untimed: a query with no oracle must give the same digest again
    val repeatFailures = warmDigest.toSeq.sortBy(_._1).flatMap { case (n, d0) =>
      val before = views()
      val d1 = try digest(checkedCall(n)) catch { case e: Throwable => s"threw ${e.getMessage}" }
      cleanup(before)
      if (d1 == d0) None else Some(n -> s"digest $d1 != warm-up digest $d0")
    }.toMap

    Map("counters" -> counters,
      "dump_dir" -> dumpDir,
      "queries" -> names,
      "with_oracle" -> names.filter(oracles.contains),
      "without_oracle" -> warmDigest.keys.toSeq.sorted,
      "setup_failures" -> setupFailures,
      "repeat_failures" -> repeatFailures,
      "misclassified" -> misc,
      "inputs" -> Map("sf_dir" -> args.data, "registry_size" -> SparkEntry.queries.size,
        "queries" -> names.size, "warmup_passes" -> WarmupPasses, "passes" -> passes))
  }
}
