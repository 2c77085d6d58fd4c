package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q346 serving across a live compaction commit — the dynamic
  * reader-isolation proofs the flattened hash-gated output can't show:
  *   - the loop really spanned the commit: the version trail is
  *     non-decreasing, starts at 3 and ends at 4;
  *   - PER-VERSION REPLAY: each micro-batch's stored rows equal a
  *     fresh batch-mode serve of that batch's probes against the exact
  *     manifest version the batch recorded — what each reader saw
  *     mid-stream is what a pinned reader of that version sees now;
  *   - the union over batches equals the one-shot batch probe over the
  *     post-commit store (in-engine rebuild equality, independent of
  *     the DuckDB oracle).
  */
class AnnServeLiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity
  private val SM = sources.StoreManifest

  private lazy val (res, trail) = S.streamServeLive(spark, d, S.IvfTier, nFiles = 4)
  private lazy val rows = res.collect()

  private def key(t: (Long, Long, Double, Long)) = (t._1, t._4)

  test("q346: the version trail spans the commit monotonically (3 then 4)") {
    assert(trail.size >= 2, s"need multiple batches, got $trail")
    val vs = trail.map(_._2)
    assert(vs.head == 3L && vs.last == 4L && vs.sorted == vs,
      s"trail $trail did not step 3 -> 4 across the commit")
  }

  test("q346: each batch's rows replay exactly against the manifest version it resolved") {
    // reconstruct the store root from the run: every batch recorded its
    // version; replay needs the same probes and the same manifest
    val byBatch = rows.groupBy(_.getAs[Long]("batch_id"))
    assert(byBatch.keySet == trail.map(_._1).toSet)
    // the probes staged for the run: rebuild them deterministically
    val d0 = S.deltaCut(spark, d)
    val probes = S.ivfProbes(S.withCells(
      S.vectors(spark, d).where(col("vec_id") < 8),
      S.ivfCents(spark, d, maxId = d0)))
    val root = rows.head.getAs[String]("store_root")
    trail.foreach { case (bid, v) =>
      val served = byBatch(bid).map(r =>
        (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cos_sim"), r.getAs[Long]("rnk"))).sortBy(key)
      val probeIds = served.map(_._1).toSet
      val replay = S.ivfRank(
        probes.where(col("vec_id").isin(probeIds.toSeq: _*)),
        SM.readStore(spark, SM.asOf(spark, root, v), S.IvfTier.schema))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sortBy(key)
      assert(served.sameElements(replay),
        s"batch $bid (version $v): mid-stream result diverged from a pinned v$v replay")
    }
  }

  test("q346: the union over batches equals the one-shot post-commit batch probe") {
    val d0 = S.deltaCut(spark, d)
    val probes = S.ivfProbes(S.withCells(
      S.vectors(spark, d).where(col("vec_id") < 8),
      S.ivfCents(spark, d, maxId = d0)))
    val root = rows.head.getAs[String]("store_root")
    val oneShot = S.ivfRank(probes,
      SM.readStore(spark, SM.asOf(spark, root, 4L), S.IvfTier.schema))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(key)
    val streamed = rows.map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Long]("rnk"))).sortBy(key)
    assert(streamed.sameElements(oneShot),
      "streamed union diverged from the one-shot batch probe")
  }
}
