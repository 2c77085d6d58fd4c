package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q347 PQ-compressed streaming serving — the claims beyond the DuckDB
  * oracle (which proves the streamed compressed path ≡ q111's one-shot
  * ADC search by hash):
  *   - the per-batch CODE scan is partition-pruned to the probed cells
  *     AND reads no vector column (codes in the scan, floats only in
  *     the candidate-sized rerank fetch — the compression thesis);
  *   - batching-layout invariance: 1-file and 4-file stagings serve
  *     identical rows, and the 4-file run genuinely multi-batches;
  *   - the streamed result equals the materialized one-shot q114 path.
  */
class AnnPqServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  test("q347: one-batch and multi-batch stagings serve identical rows; multi-batch is live") {
    val (one, nOne) = S.streamServePq(spark, d, nFiles = 1)
    val (four, nFour) = S.streamServePq(spark, d, nFiles = 4)
    assert(nOne == 1L, s"single-file staging must serve in one micro-batch, got $nOne")
    assert(nFour >= 2L, s"4-file staging must multi-batch, got $nFour")
    val r1 = rows(one); val r4 = rows(four)
    assert(r1.nonEmpty && r1 == r4, "served rows depend on the batching layout")
  }

  test("q347: the streamed compressed path equals the one-shot materialized PQ search") {
    val (streamed, _) = S.streamServePq(spark, d, nFiles = 4)
    val oneShot = SparkEntry.queries("q114_ann_ivf_pq_file")(spark, d)
    assert(rows(streamed) == rows(oneShot),
      "streaming over the code file diverged from the one-shot ADC search")
  }

  test("q347: a serving batch's code scan is partition-pruned and vector-free") {
    val ev = S.ivfWithCells(spark, d, S.ivfCents(spark, d))
    val booksRow = S.pqBooksRow(S.pqBooks(spark, d))
    val enc = graft.sources.Sources.artifactOnce(d, "ivf_pq_file_serve") { p =>
      graft.sources.Sources.write(S.pqEncode(ev.select(col("vec_id"), col("v"),
        element_at(col("cells"), 1)("j").as("cell")), booksRow), p, "cell").path
    }
    val probe = S.pqProbesLut(
      S.ivfProbes(ev).where(col("vec_id") === 0), booksRow)
    val cells = probe.select(col("cell").cast("long")).distinct().collect().map(_.getLong(0))
    val served = S.serveBatch(spark, d, S.PqTier, probe, Seq(enc), cells)
    served.collect() // force execution so the plan is final
    val plan = served.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cell[^\\]]* IN ".r
      .findFirstIn(plan).isDefined
    assert(pruned, s"code scan is not partition-pruned to the probed cells:\n$plan")
    // the compression thesis: the pruned store scan reads codes, never
    // a vector column — floats enter only through the rerank fetch
    val encScan = plan.linesIterator
      .filter(l => l.contains("ivf_pq_file_serve") && l.contains("ReadSchema"))
      .mkString("\n")
    assert(encScan.nonEmpty, s"no code-file scan found in plan:\n$plan")
    // ReadSchema renders unquoted (struct<vec_id:bigint,codes:...>), so
    // match the field:type form a real vector column would print
    // (ADVICE r16: the quoted form `"v"` was vacuously absent)
    assert(!encScan.replaceAll("\\s", "").contains("v:array"),
      s"the serving scan reads a vector column from the code file:\n$encScan")
    assert(encScan.replaceAll("\\s", "").contains("codes:array"),
      s"the serving scan does not read the code column:\n$encScan")
  }
}
