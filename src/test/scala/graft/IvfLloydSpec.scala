package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Multi-step Lloyd training for the IVF coarse quantizer (q63/q76):
  * the k-step centroids must be a measurable improvement over the
  * 1-step centroids THE SAME PIPELINE produces — otherwise the extra
  * steps are cost without quality and should be deleted.
  *
  * Improvement is asserted on the two quantities the IVF cares about:
  *   - cell-occupancy balance over the FULL corpus assignment (variance
  *     of per-cell counts; balanced cells bound the worst probed-cell
  *     size, i.e. tail latency at scale), and
  *   - recall of the exact top-5 at nprobe=2 must not degrade.
  */
class IvfLloydSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  /** Per-cell corpus occupancy (zero-filled to all cells) under the
    * centroids after `steps` Lloyd steps.
    */
  private def occupancy(steps: Int): Array[Double] = {
    val ev = queries.Similarity.ivfWithCells(
      spark, d, queries.Similarity.ivfCents(spark, d, steps))
    val counts = ev.select(element_at(col("cells"), 1)("j").as("cell"))
      .groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
    Array.tabulate(8)(j => counts.getOrElse(j, 0.0))
  }

  private def variance(xs: Array[Double]): Double = {
    val m = xs.sum / xs.length
    xs.map(x => (x - m) * (x - m)).sum / xs.length
  }

  /** The full q63 pipeline under `steps`-step centroids. */
  private def ivfPairs(steps: Int): Set[(Long, Long)] = {
    val ev = queries.Similarity.ivfWithCells(
      spark, d, queries.Similarity.ivfCents(spark, d, steps))
    val e = ev.select(col("vec_id"), col("v"),
      element_at(col("cells"), 1)("j").as("cell"))
    queries.Similarity.ivfRank(queries.Similarity.ivfProbes(ev), e)
      .collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")))
      .toSet
  }

  test("k-step Lloyd balances cells: occupancy variance drops vs 1 step") {
    val v1 = variance(occupancy(1))
    val vk = variance(occupancy(queries.Similarity.IvfLloydSteps))
    info(f"occupancy variance: 1-step=$v1%.1f k-step=$vk%.1f")
    assert(vk < v1,
      f"k-step centroids did not improve cell balance ($vk%.1f >= $v1%.1f)")
  }

  test("k-step Lloyd holds recall: nprobe=2 recall does not degrade vs 1 step") {
    val exact = SparkEntry.queries("q27_cosine_topk")(spark, d)
      .where(col("rnk") <= 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val r1 = (exact intersect ivfPairs(1)).size.toDouble / exact.size
    val rk = (exact intersect ivfPairs(queries.Similarity.IvfLloydSteps))
      .size.toDouble / exact.size
    info(f"recall@nprobe=2: 1-step=$r1%.3f k-step=$rk%.3f")
    assert(rk >= r1, f"k-step recall $rk%.3f dropped below 1-step $r1%.3f")
    assert(rk >= 0.5, f"k-step recall $rk%.3f below the q63 floor")
  }

  test("the trained quantizers are memoized: a second call starts no Spark job") {
    val sim = queries.Similarity
    val cut = sim.deltaCut(spark, d)
    val calls: Seq[() => Any] = Seq(
      () => sim.ivfCents(spark, d), () => sim.ivfCents(spark, d, 1, 16, cut),
      () => sim.pqBooks(spark, d), () => sim.pqBooks(spark, d, 1, cut),
      () => sim.maxVecId(spark, d))
    for ((call, i) <- calls.zipWithIndex) {
      call()
      assert(TestSpark.jobsStartedBy(call()) === 0L, s"call $i trained again")
    }
  }

  test("embeddings rewritten in place retrain the centroids instead of serving the old ones") {
    def cents(dir: String) = queries.Similarity.ivfCents(spark, dir).collect().toSeq
    val live = TestSpark.copyTables(d, "embeddings")
    val before = cents(live)
    // every training-sample vector mirrored through the origin
    val e = Tables.embeddings(spark, live)
    TestSpark.rewriteTable(live, "embeddings", e.withColumn("embedding",
      when(col("vec_id") % 7 === 0, transform(col("embedding"), x => -x))
        .otherwise(col("embedding"))))
    val after = cents(live)
    val fresh = cents(TestSpark.copyTables(live, "embeddings"))
    assert(fresh !== before, "the rewrite did not change the trained centroids")
    assert(after === fresh, "ivfCents served the centroids of the embeddings before the rewrite")
  }
}
