package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q344 streaming ANN serving — the claims beyond the DuckDB oracle
  * (which proves streamed serving ≡ the batch probe by hash):
  *   - per-batch store scans are PARTITION-PRUNED to the probed cells
  *     (the serving thesis: each micro-batch reads nprobe/k of the
  *     index, never the whole store);
  *   - batching-layout invariance: 1-file and 4-file stagings serve
  *     identical rows, and the 4-file run genuinely multi-batches;
  *   - the increment is serving-visible: appended (delta) vectors
  *     surface as neighbors through the streamed path.
  */
class AnnServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  test("q344: one-batch and multi-batch stagings serve identical rows; multi-batch is live") {
    val (one, nOne) = S.streamServe(spark, d, nFiles = 1)
    val (four, nFour) = S.streamServe(spark, d, nFiles = 4)
    assert(nOne == 1L, s"single-file staging must serve in one micro-batch, got $nOne")
    assert(nFour >= 2L, s"4-file staging must multi-batch, got $nFour")
    val r1 = rows(one); val r4 = rows(four)
    assert(r1.nonEmpty && r1 == r4, "served rows depend on the batching layout")
  }

  test("q344: a serving batch's store scan is partition-pruned to the probed cells") {
    val d0 = S.deltaCut(spark, d)
    val base = S.baseStore(spark, d, d0, S.IvfTier)
    val inc = graft.sources.Sources.artifactOnce(d, "ivf_inc_shared") { p =>
      graft.sources.Sources.write(S.deltaAssign(spark, d, d0, delta = true), p, "cell").path
    }
    // one probe = IvfNProbe cells; the scan must carry them as a
    // partition filter, not scan the store and filter rows after
    val probe = S.ivfProbes(S.withCells(
      S.vectors(spark, d).where(col("vec_id") === 0), S.ivfCents(spark, d, maxId = d0)))
    val cells = probe.select(col("cell").cast("long")).distinct().collect().map(_.getLong(0))
    val served = S.serveBatch(spark, d, S.IvfTier, probe, Seq(base, inc), cells)
    served.collect() // force execution so the plan is final
    val plan = served.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cell[^\\]]* IN ".r
      .findFirstIn(plan).isDefined
    assert(pruned, s"store scan is not partition-pruned to the probed cells:\n$plan")
  }

  test("q344: appended (delta) vectors are serving-visible through the streamed path") {
    val d0 = S.deltaCut(spark, d)
    val out = SparkEntry.queries("q344_ann_stream_serve")(spark, d).collect()
    assert(out.exists(_.getLong(1) >= d0),
      "no appended vector reached a served top-5 — the increment is not serving-visible")
  }
}
