package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The versioned copy-on-write store has one implementation,
  * `sources.StoreManifest`: no main source outside it defines a parquet
  * manifest location, and each table-format fixture on it (q143, q155,
  * q168, q170) makes a warm call that starts no more Spark jobs than its
  * budget — a manifest written or read through Spark, or a store read
  * that infers its schema, adds jobs and breaks the budget. */
class VersionedStoreSpec extends AnyFunSuite {

  test("no main source outside StoreManifest.scala keeps a manifest of its own") {
    val banned = Seq("""def \w*ManifestDir\b""".r,
      """(?:scratchLeaf|leaf)\(\s*\w+\s*,\s*s?"[^"]*manifest""".r)
    assert(banned(0).findFirstIn("  def gdprManifestDir(d: String): String =").isDefined)
    assert(banned(1).findFirstIn("""val m = leaf(d, "tt_manifest")""").isDefined)
    assert(banned(1).findFirstIn("""scratchLeaf(d, s"${tag}_manifest_$id")""").isDefined)
    assert(banned(1).findFirstIn("""val root = leaf(d, "tt_store")""").isEmpty)
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "StoreManifest.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(_.findFirstIn(line).isDefined) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty, "commit a versioned store through StoreManifest.commit and " +
      "resolve it through asOf/readRows:\n" + offenders.mkString("\n"))
  }

  // Spark jobs of the warm call at sf0.001, the noop write of the result
  // included, and whether the warm call must compile no codegen unit.
  // With a private parquet manifest each, the warm calls took 11 (q143),
  // 28 (q155), 15 (q168) and 25 (q170) jobs. q155 and q170 compiled 0
  // units in some JVMs and 4 to 11 in others (generated code that differs
  // between calls only in its ids), so their units are only reported.
  private val budget = Seq(
    // base, rewrite and insert writes; one scan per component per version
    "q143_time_travel" -> (4L, true),
    // base and rewrite writes; two aggregates over two versions
    "q155_gdpr_delete" -> (7L, false),
    // q143's writes, a jobless vacuum, the post-vacuum audit
    "q168_vacuum" -> (6L, true),
    // base, two tombstone and one rewrite writes, the compaction decision,
    // the one-pass merge-on-read with its three broadcasts
    "q170_deletion_vector_delete" -> (14L, false))

  for ((name, (maxJobs, noCodegen)) <- budget) {
    test(s"$name: the warm call stays inside its job budget") {
      TestSpark.callCost(name)
      val (units, jobs) = TestSpark.callCost(name)
      info(s"warm call: $jobs jobs, $units codegen units")
      assert(jobs <= maxJobs, s"the warm call started $jobs Spark jobs")
      if (noCodegen) assert(units === 0L, "codegen units compiled on the warm call")
    }
  }
}
