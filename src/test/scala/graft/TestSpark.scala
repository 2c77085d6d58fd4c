package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import scala.jdk.CollectionConverters._

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

  /** A fresh dir holding copies of the `tables` of dir `from`. */
  def copyTables(from: String, tables: String*): String = {
    val dir = Files.createTempDirectory("graft_tables_copy")
    for (t <- tables) Files.copy(Paths.get(from, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    dir.toString
  }

  /** Rewrite table `name` of dir `d` in place with the rows of `df`: one
    * parquet file at the same path, its mtime a second later, so the
    * rewrite shows even where the clock is coarse. `df` may read the
    * table it replaces: its rows are written out before the copy. */
  def rewriteTable(d: String, name: String, df: DataFrame): Unit = {
    val staged = Files.createTempDirectory("graft_rewrite").resolve(name).toString
    df.coalesce(1).write.parquet(staged)
    val part = Files.list(Paths.get(staged)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val target = Paths.get(d, s"$name.parquet")
    val mtime = Files.getLastModifiedTime(target).toMillis
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime + 1000L))
  }

  /** Spark jobs started by `body` on this thread: the description tags
    * them, so jobs of streams left running elsewhere are not counted. */
  def jobsStartedBy(body: => Unit): Long = {
    val tag = "graft-test-" + java.util.UUID.randomUUID()
    val n = new AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == tag))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobDescription(tag)
    try body
    finally {
      spark.sparkContext.setJobDescription(null)
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    n.get
  }

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
