package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}

/** q99 append-mode incremental dedup: the two-batch differential
  * semantics and the single-execution shape of the batch-1 verify.
  *
  * The semantics were previously guaranteed only by the DuckDB oracle
  * hash on the driver's synthetic corpus; this spec pins them on a
  * CONSTRUCTED corpus where each contract clause has exactly one witness
  * doc, so a future refactor that, e.g., forgets the anti-join on the
  * increment write fails here with a named assertion instead of a hash
  * mismatch.
  */
class DedupIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Write a crafted documents table to a fresh dir and return the dir.
    * Batch membership is q99's: doc_id % 10 == 0 → batch 1, == 5 →
    * batch 2, everything else → base corpus. Distinct texts share no
    * trigram, so the only candidate pairs are exact duplicates.
    */
  private def corpusDir(): String = {
    val tA = "alpha beta gamma delta epsilon"
    val tB = "one two three four five"
    val tC = "red green blue yellow purple"
    val tD = "spark shuffle partition broadcast join"
    val rows = Seq(
      (1L, tA), // base
      (2L, tB), // base
      (3L, tC), // base
      (10L, tA), // batch 1, dup of base doc 1 → REJECTED
      (20L, tD), // batch 1, unique → ACCEPTED, bands appended to the index
      (15L, tD), // batch 2, dup of ACCEPTED batch-1 doc 20 → must be caught
      (25L, tA)) // batch 2, dup of REJECTED batch-1 doc 10 (and base doc 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_q99_spec").toString
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'spec' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q99: accepted batch-1 dups are caught in batch 2; rejected ones are not re-flagged") {
    val dir = corpusDir()
    val out = SparkEntry.queries("q99_incremental_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // batch 1: doc 10 duplicates base doc 1; doc 20 is clean
    assert(out.filter(_._1 == 1L) === Set((1L, 10L, 1L)),
      s"batch-1 pair set wrong: $out")
    // batch 2, clause 1: doc 15 duplicates ACCEPTED batch-1 doc 20 —
    // the store increment must make this visible
    assert(out.contains((2L, 15L, 20L)),
      s"batch-2 probe missed the accepted batch-1 increment: $out")
    // batch 2, clause 2: doc 25 duplicates REJECTED batch-1 doc 10 —
    // 10 was never appended, so 25 may only match the BASE doc 1
    assert(out.contains((2L, 25L, 1L)), s"batch-2 probe missed the base index: $out")
    assert(!out.contains((2L, 25L, 10L)),
      s"rejected batch-1 doc re-flagged from the increment: $out")
    assert(out.size === 3, s"unexpected extra pairs: $out")
  }

  test("q99: batch-1 verify executes once — the output union reads it back from scratch") {
    // The verify join has two consumers across separate actions (the
    // increment anti-join and the output union); exchange reuse cannot
    // span actions, so pairs1 is materialized to scratch and read back.
    // In the returned plan the batch-1 branch must therefore be a file
    // scan of the pairs1 store with NO joins — the verify join ran
    // exactly once, inside the already-executed write action.
    val df = SparkEntry.queries("q99_incremental_dedup")(spark, TestSpark.Sf0001)
    val plan = df.queryExecution.optimizedPlan
    // collect is pre-order: the FIRST Union is the output union (batch-2's
    // branch holds its own base ∪ increment union, deeper in the tree)
    val union = plan.collect { case u: Union => u }
    assert(union.nonEmpty, s"expected the output Union:\n$plan")
    val batch1Branch = union.head.children.head
    assert(batch1Branch.collect { case j: Join => j }.isEmpty,
      s"batch-1 branch recomputes the verify join:\n$batch1Branch")
    val scanPaths = batch1Branch.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }
    assert(scanPaths.exists(_.contains("minhash_pairs1")),
      s"batch-1 branch does not read the materialized pairs: $scanPaths\n$batch1Branch")
  }

  test("q99: a corpus rewritten in place rebuilds the base index instead of serving the old one") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, when}
    def q99(dir: String) =
      SparkEntry.queries("q99_incremental_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def copyDocs(from: java.nio.file.Path): String = {
      val dir = Files.createTempDirectory("graft_q99_stale")
      Files.copy(from, dir.resolve("documents.parquet"))
      dir.toString
    }
    val live = copyDocs(Paths.get(TestSpark.Sf0001, "documents.parquet"))
    val before = q99(live)

    // rewrite the base docs in place: the first base doc takes the text of
    // the first batch-1 doc, so a fresh index holds a duplicate of it
    val docs = Tables.documents(spark, live)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val batch1 = ids.find(_ % 10 == 0).get
    val base = ids.find(i => i % 10 != 0 && i % 10 != 5).get
    val text = docs.where(col("doc_id") === batch1).select("text").head().getString(0)
    val rewritten = spark.createDataFrame(
      docs.withColumn("text", when(col("doc_id") === base, lit(text)).otherwise(col("text")))
        .collectAsList(), docs.schema)
    val staged = Files.createTempDirectory("graft_q99_stage").resolve("docs").toString
    rewritten.coalesce(1).write.parquet(staged)
    val part = Files.list(Paths.get(staged)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val target = Paths.get(live, "documents.parquet")
    val mtime = Files.getLastModifiedTime(target).toMillis
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    // a rewrite a second later, even where the clock is coarse
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime + 1000L))

    val after = q99(live)
    val fresh = q99(copyDocs(target))
    assert(fresh.contains((1L, batch1, base)), s"the rewrite planted no duplicate: $fresh")
    assert(fresh !== before, "the rewrite did not change q99's result")
    assert(after === fresh, "q99 served its index of the corpus before the rewrite")
  }
}
