package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q341 incremental ANN index maintenance — the three claims beyond the
  * DuckDB oracle (which already proves append-then-probe ≡ DuckDB's
  * from-scratch rebuild):
  *   - in-engine equivalence: probing base+increment equals probing a
  *     fresh FULL store assigned with the same stored centroids;
  *   - the append path scans ONLY the delta (range predicate pushed
  *     into the parquet scan — the O(delta) half of the thesis);
  *   - fixture liveness: the increment is exactly the delta slice and
  *     appended vectors actually surface as probe neighbors (the
  *     append is serving-visible, not just stored).
  */
class IvfDeltaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity

  test("q341: append-then-probe equals an in-engine full rebuild with the stored centroids") {
    val appended = SparkEntry.queries("q341_ann_index_delta")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    val d0 = S.deltaCut(spark, d)
    val full = S.withCells(S.vectors(spark, d), S.ivfCents(spark, d, maxId = d0))
      .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
    val rebuilt = graft.sources.Sources.scratchLeaf(d, "ivf_delta_rebuild_spec")
    full.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(rebuilt)
    val probes = S.ivfProbes(S.withCells(
      S.vectors(spark, d).where(col("vec_id") < 8), S.ivfCents(spark, d, maxId = d0)))
    val fresh = S.ivfRank(probes, spark.read.parquet(rebuilt)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    assert(appended.length == fresh.length && appended.sameElements(fresh),
      "append-then-probe diverged from rebuild-then-probe")
  }

  test("q341: the append path's scan carries the delta range predicate (O(delta), not O(corpus))") {
    val d0 = S.deltaCut(spark, d)
    val plan = S.deltaAssign(spark, d, d0, delta = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"GreaterThanOrEqual(vec_id,$d0)"),
      s"delta assignment scan is not range-pruned to the delta:\n$plan")
  }

  test("q341: increment write order does not change probe results (r14 verdict task 5)") {
    val d0 = S.deltaCut(spark, d)
    val base = S.baseStore(spark, d, d0, S.IvfTier)
    val delta = S.deltaAssign(spark, d, d0, delta = true)
    def probeWith(inc: org.apache.spark.sql.DataFrame, leafName: String) = {
      val p = graft.sources.Sources.scratchLeaf(d, leafName)
      inc.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell").parquet(p)
      val store = spark.read.parquet(base).unionByName(spark.read.parquet(p))
      val probes = S.ivfProbes(S.withCells(
        S.vectors(spark, d).where(col("vec_id") < 8), S.ivfCents(spark, d, maxId = d0)))
      S.ivfRank(probes, store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    }
    // same increment content, opposite within-file row order and a
    // different file fan-out — the physical layouts a retried or
    // differently-parallelized append would produce
    val asc = probeWith(delta.repartition(1).sortWithinPartitions(col("vec_id").asc),
      "ivf_det_inc_asc")
    val desc = probeWith(delta.repartition(3).sortWithinPartitions(col("vec_id").desc),
      "ivf_det_inc_desc")
    assert(asc.nonEmpty && asc == desc,
      "probe results depend on the increment's physical write order")
  }

  test("q341: increment is exactly the delta slice and appended vectors surface as neighbors") {
    val d0 = S.deltaCut(spark, d)
    val corpus = S.vectors(spark, d)
    val nAll = corpus.count()
    val nDelta = corpus.where(col("vec_id") >= d0).count()
    assert(nDelta > 0 && nDelta < nAll, "fixture must split base/delta non-trivially")
    val inc = S.deltaAssign(spark, d, d0, delta = true).collect()
    assert(inc.length == nDelta && inc.forall(_.getLong(0) >= d0),
      "increment must contain every delta vector and nothing else")
    val out = SparkEntry.queries("q341_ann_index_delta")(spark, d).collect()
    assert(out.exists(_.getLong(1) >= d0),
      "no appended vector reached a probe's top-5 — the append is not serving-visible")
  }
}
