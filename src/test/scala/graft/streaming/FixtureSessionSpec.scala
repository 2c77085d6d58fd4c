package graft.streaming

import graft.{SparkEntry, TestSpark}
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture sessions: every child session comes from `StreamFixture.child`,
  * no query sets a conf outside `StreamFixture`'s helpers, and a fixture's
  * second call reuses the classes its first call compiled. */
class FixtureSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  test("no main source outside StreamFixture.scala builds a session or sets a conf") {
    // a bare newSession() compiles under a class loader of its own, and a
    // conf set on a session parameter changes the caller's later queries
    val banned = Seq("""\.newSession\(\)""".r, """\.conf\.(set|unset)\(""".r)
    assert(banned(0).findFirstIn("val s = s0.newSession()").isDefined)
    assert(banned(1).findFirstIn("""s.conf.set("spark.sql.shuffle.partitions", "5")""").isDefined)
    assert(banned(1).findFirstIn("s.conf.unset(key)").isDefined)
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "StreamFixture.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(_.findFirstIn(line).isDefined) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty, "build child sessions with StreamFixture.child(s0, confs*) and " +
      "scope a caller's conf with a StreamFixture set-and-restore helper:\n" +
      offenders.mkString("\n"))
  }

  test("a child session carries its confs and leaves its parent's alone") {
    val s0 = spark.newSession()
    val before = s0.conf.getAll
    val c = StreamFixture.child(s0, "spark.sql.shuffle.partitions" -> "5", StreamFixture.RocksDbState)
    assert(c.conf.get("spark.sql.shuffle.partitions") === "5")
    assert(c.conf.get(StreamFixture.RocksDbState._1) === StreamFixture.RocksDbState._2)
    assert(c.conf.get(Isolation) === "false")
    assert(s0.conf.getAll === before)
  }

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // q138: a stream on the caller's session; q225: a child session with
  // RocksDB state; q253: a child session that starts and stops its own
  // stream; q92: a batch query on a child session
  for (name <- Seq("q138_stream_static_join", "q225_tws_initial_state", "q253_tws_ttl",
      "q92_bloom_join")) {
    test(s"$name compiles nothing on its second call; the caller's isolation conf is unchanged") {
      val s = spark.newSession()
      val before = s.conf.getAll.get(Isolation)
      def call(): Long = {
        val c0 = compiled
        SparkEntry.queries(name)(s, TestSpark.Sf0001).write.mode("overwrite").format("noop").save()
        s.streams.resetTerminated()
        compiled - c0
      }
      call()
      assert(call() === 0L, "codegen units compiled on the warm call")
      assert(s.conf.getAll.get(Isolation) === before)
    }
  }
}
