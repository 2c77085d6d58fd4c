package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** One shared local session for the whole forked test JVM, built by the
  * same recipe the mains run queries in. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** Codegen units compiled and Spark jobs started by one call of a
    * registry query at sf0.001, the noop write of its result included.
    * The bus is drained before the listener goes on and before it comes
    * off, so the count is this call's jobs, those of its streams
    * included. */
  def callCost(name: String): (Long, Long) = {
    val jobs = new AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try SparkEntry.queries(name)(spark, Sf0001)
      .write.mode("overwrite").format("noop").save()
    finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, jobs.get)
  }
}
