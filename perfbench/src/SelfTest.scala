package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.Trigger

/** Checks of the harness's own failure accounting on a live session,
  * run by perfbench/test_perfbench.py. */
object SelfTest {
  def run(spark: SparkSession, a: Main.Args, rec: Recorder): Map[String, Any] = {
    import spark.implicits._
    rec.startTimed()

    // a job that throws inside the timed region: a failure with no time
    rec.timed("throws", 0) { op =>
      op.phase("exec")(spark.range(100).map { i =>
        if (i == 42) throw new IllegalStateException("deliberate") else i
      }.count())
      None
    }
    // a job whose result is wrong: also a failure with no time
    rec.timed("wrong", 0)(op => op.phase("exec")(
      if (spark.range(10).count() == 11) None else Some("expected 11 rows")))
    // a job that succeeds posts exactly one sample
    rec.timed("ok", 0)(op => op.phase("exec")(
      if (spark.range(10).count() == 10) None else Some("expected 10 rows")))

    // a "batch" query that starts a StreamingQuery is flagged
    val src = s"${a.work}/selftest_src"
    spark.range(20).toDF("v").write.mode("overwrite").parquet(src)
    val before = rec.streamsStarted.get
    val q = spark.readStream.schema("v long").parquet(src)
      .writeStream.format("memory").queryName("selftest_sink")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Bridge.drainListenerBus(spark)
    val started = rec.streamsStarted.get - before
    rec.endTimed()

    Map("selftest" -> Map(
      "batch_started_stream" -> Registry.misclassified(expectStream = false, started).getOrElse(""),
      "stream_started_none" -> Registry.misclassified(expectStream = true, 0).getOrElse(""),
      "batch_started_none" -> Registry.misclassified(expectStream = false, 0).getOrElse("")))
  }
}
