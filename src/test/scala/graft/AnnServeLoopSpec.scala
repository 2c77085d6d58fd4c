package graft

import java.nio.file.{Files, Paths}
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

  // Spark jobs of the warm call, the noop write of the result included:
  // the five-loop layout's count, which names the test, and the count
  // measured since no store, staged-probe or sink read infers its schema
  private val budget = Seq(
    // 4 static-store batches
    "q344_ann_stream_serve" -> (24L, 16L),
    // 4 batches and the mid-stream compaction
    "q346_ann_serve_live_commit" -> (34L, 19L),
    // q344's shape plus the rerank's vector broadcast
    "q347_ann_pq_stream_serve" -> (26L, 21L),
    // the compaction before the stream, 4 batches, a jobless vacuum
    "q348_ann_serve_live_vacuum" -> (35L, 19L),
    // q346's shape over PQ codes
    "q353_ann_pq_serve_live_commit" -> (39L, 24L))

  for ((name, (ceiling, maxJobs)) <- budget) {
    test(s"$name: the warm call compiles nothing and starts at most $ceiling jobs") {
      TestSpark.callCost(name)
      val (units, jobs) = TestSpark.callCost(name)
      info(s"warm call: $jobs jobs, $units codegen units")
      assert(units === 0L, "codegen units compiled on the warm call")
      assert(jobs <= maxJobs, s"the warm call started $jobs Spark jobs")
    }
  }
}
