package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one ANN serving loop (`Similarity.serveLoop`): no main source
  * copies its `foreachBatch` driver, and each fixture on it makes a warm
  * second call that compiles no codegen unit and starts no more Spark
  * jobs than its budget. A second driver action per trigger adds one job
  * per micro-batch and breaks every budget. */
class AnnServeLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("only the serving loop and q150's upsert drive a foreachBatch") {
    val call = """\.foreachBatch\(""".r
    // the member a line belongs to: the nearest object-level def or val above it
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val) (\w+)""".r
    assert(call.findFirstIn("  .writeStream.foreachBatch(serve)").isDefined)
    assert(member.findFirstMatchIn("  private[graft] def streamServe(s: SparkSession,")
      .map(_.group(1)).contains("streamServe"))
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val sites = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.filter(i => call.findFirstIn(lines(i)).isDefined).map { i =>
          val owner = (i to 0 by -1).iterator
            .flatMap(j => member.findFirstMatchIn(lines(j)).map(_.group(1))).nextOption()
          s"${p.getFileName}:${owner.getOrElse("?")}" -> s"$p:${i + 1}: ${lines(i).trim}"
        }
      }.toSeq
    val allowed = Set("Similarity.scala:serveLoop", "EventWindows.scala:streamUpsert")
    assert(sites.map(_._1).toSet === allowed,
      "serve micro-batches through Similarity.serveLoop, not a new foreachBatch loop:\n" +
        sites.filterNot(s => allowed(s._1)).map(_._2).mkString("\n"))
    assert(sites.size === allowed.size, sites.map(_._2).mkString("\n"))
  }

  // Spark jobs of the warm call, the noop write of the result included,
  // as measured on the five-loop layout this loop replaced
  private val budget = Seq(
    // 4 static-store batches; 24 on every warm call
    "q344_ann_stream_serve" -> 24L,
    // 4 batches and the mid-stream compaction; 34 to 37, by batch order
    "q346_ann_serve_live_commit" -> 34L,
    // q344's shape plus the rerank's vector broadcast; 26 on every warm call
    "q347_ann_pq_stream_serve" -> 26L,
    // the compaction before the stream, 4 batches, a jobless vacuum; 35 every time
    "q348_ann_serve_live_vacuum" -> 35L,
    // q346's shape over PQ codes; 39 to 42, by batch order
    "q353_ann_pq_serve_live_commit" -> 39L)

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Codegen units compiled and Spark jobs started by one call. The bus
    * is drained before the listener goes on and before it comes off, so
    * the count is this call's jobs, those of its streams included. */
  private def callCost(name: String): (Long, Long) = {
    val jobs = new AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    val c0 = compiled
    try SparkEntry.queries(name)(spark, TestSpark.Sf0001)
      .write.mode("overwrite").format("noop").save()
    finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    (compiled - c0, jobs.get)
  }

  for ((name, maxJobs) <- budget) {
    test(s"$name: the warm call compiles nothing and starts at most $maxJobs jobs") {
      callCost(name)
      val (units, jobs) = callCost(name)
      assert(units === 0L, "codegen units compiled on the warm call")
      assert(jobs <= maxJobs, s"the warm call started $jobs Spark jobs")
    }
  }
}
