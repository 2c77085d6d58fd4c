package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q348 serving across a live vacuum — the dynamic reader-isolation
  * proofs the flattened hash-gated output can't show:
  *   - the generation trail really spanned the vacuum (two distinct
  *     manifest generations, head version pinned at 4 throughout, dirs
  *     actually retired mid-stream);
  *   - the streamed union equals the one-shot post-vacuum batch probe
  *     (in-engine rebuild equality, independent of the DuckDB oracle);
  *   - NO reader can observe an empty or partial manifest mid-vacuum:
  *     a hammer thread resolves the v4 view continuously while the
  *     vacuum runs — under the round-16 in-place Overwrite this window
  *     existed; the atomic generation publish closes it.
  */
class AnnVacuumLiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity
  private val SM = sources.StoreManifest

  private lazy val (res, trail, rep) = S.streamServeLiveVacuum(spark, d, nFiles = 4)
  private lazy val rows = res.collect()

  private def key(t: (Long, Long, Double, Long)) = (t._1, t._4)

  test("q348: the generation trail spans the vacuum; dirs were retired mid-stream") {
    assert(trail.size >= 2, s"need multiple batches, got $trail")
    val gs = trail.map(_._2)
    assert(gs.distinct.size == 2 && gs.sorted == gs,
      s"trail $trail did not step across the vacuum's generation flip")
    assert(rep != null && rep.deleted.nonEmpty, "the live vacuum retired nothing")
    rep.deleted.foreach(p =>
      assert(!new java.io.File(p).exists(), s"retired dir $p still on disk"))
  }

  test("q348: the union over batches equals the one-shot post-vacuum batch probe") {
    val root = rows.head.getAs[String]("store_root")
    val d0 = S.deltaCut(spark, d)
    val probes = S.ivfProbes(S.withCells(
      S.vectors(spark, d).where(col("vec_id") < 8),
      S.ivfCents(spark, d, maxId = d0)))
    val oneShot = S.ivfRank(probes,
      SM.readStore(spark, SM.asOf(spark, root, 4L), S.IvfTier.schema))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(key)
    val streamed = rows.map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Long]("rnk"))).sortBy(key)
    assert(streamed.sameElements(oneShot),
      "streamed union diverged from the one-shot post-vacuum batch probe")
  }

  test("q348: manifest resolution is never torn while a vacuum pass runs (hammer)") {
    val st = S.compactStore(spark, d, S.IvfTier, privateBase = true)
    val expected = graft.sources.StoreManifest.asOf(spark, st.root, 4L)
    assert(expected.nonEmpty)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() =>
      while (!stop.get()) {
        try {
          // the v4 view must be COMPLETE and IDENTICAL on every resolve,
          // before, during, and after the prune — the vacuum never
          // changes what a floor-or-above reader sees
          val m = graft.sources.StoreManifest.asOf(spark, st.root, 4L)
          assert(m == expected, s"v4 view changed mid-vacuum: $m")
          reads.incrementAndGet(); ()
        } catch { case t: Throwable => errs.add(t); () }
      })
    reader.start()
    val rep2 = SM.vacuumStore(spark, st.root, keepFrom = 4L)
    stop.set(true); reader.join(60000)
    import scala.jdk.CollectionConverters._
    assert(errs.isEmpty,
      s"a reader observed a torn manifest mid-vacuum: ${errs.asScala.headOption}")
    assert(reads.get() > 0, "hammer never completed a read")
    assert(rep2.deleted.nonEmpty && rep2.prunedManifestRows > 0)
    // and the post-vacuum view still matches
    assert(graft.sources.StoreManifest.asOf(spark, st.root, 4L) == expected)
  }
}
