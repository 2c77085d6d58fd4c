package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PQ code-store lifecycle q349-q352 (round-16 verdict task 2) —
  * the claims the hash-gated oracles can't show:
  *   - compression thesis: the code store's files carry (vec_id, codes)
  *     and NO vector column, at every lifecycle stage;
  *   - q349 append ≡ in-engine re-encode-from-scratch (independent of
  *     the DuckDB oracle);
  *   - q350 file economics: compacted cells rewritten once into the
  *     compact dir with increments retired from v4; untouched cells
  *     carried by reference (v3 paths verbatim);
  *   - q351 vacuum economics: exactly the below-floor-only dirs retired,
  *     every v4 dir intact, the v4 ADC search row-identical across it;
  *   - q352 gate: fresh on the real corpus, STALE on a synthetically
  *     drifted delta pushed through the same code path.
  */
class PqLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity
  private val SM = sources.StoreManifest

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("probe_id", "neighbor_id", "cos_sim", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def frozenParts(d0: Long) = {
    val booksRow = S.pqBooksRow(S.pqBooks(spark, d, maxId = d0))
    val ev = S.withCells(S.vectors(spark, d).where(col("vec_id") < 8),
      S.ivfCents(spark, d, maxId = d0))
    (booksRow, S.pqProbesLut(S.ivfProbes(ev), booksRow))
  }

  test("q349: the delta append equals an in-engine re-encode-from-scratch search") {
    val appended = rows(SparkEntry.queries("q349_ann_pq_index_delta")(spark, d))
    val d0 = S.deltaCut(spark, d)
    val (booksRow, probes) = frozenParts(d0)
    val corpus = S.withCells(S.vectors(spark, d), S.ivfCents(spark, d, maxId = d0))
      .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
    val rebuilt = rows(S.pqAdcRank(probes, S.pqEncode(corpus, booksRow),
      S.vectors(spark, d)))
    assert(appended.nonEmpty && appended == rebuilt,
      "append-then-search diverged from re-encode-then-search")
  }

  test("q350: code-store file economics across the compaction commit") {
    val st = S.compactStore(spark, d, S.PqTier)
    assert(st.compacted.nonEmpty && st.compacted != st.v3.keySet,
      "fixture dead: need both compacted and carried cells")
    st.v3.keys.foreach { j =>
      if (st.compacted(j)) {
        assert(st.v4(j).size == 1 &&
          st.v4(j).head.startsWith(st.compactDir),
          s"compacted cell $j not rewritten into the compact dir: ${st.v4(j)}")
        assert(!st.v4(j).exists(_.contains("inc_")),
          s"compacted cell $j still references an increment")
      } else
        assert(st.v4(j) == st.v3(j),
          s"untouched cell $j not carried by reference")
    }
    // the manifest resolves both versions to the handle's maps
    assert(graft.sources.StoreManifest.asOf(spark, st.root, 3L) == st.v3)
    assert(graft.sources.StoreManifest.asOf(spark, st.root, 4L) == st.v4)
    // compression thesis: NO lifecycle stage's files carry a vector
    (st.v3.values.flatten ++ st.v4.values.flatten).toSeq.distinct.foreach { dir =>
      val fields = spark.read.parquet(dir).schema.fieldNames.toSet
      assert(fields.contains("codes") && !fields.contains("v"),
        s"code-store dir $dir carries fields $fields")
    }
  }

  test("q351: vacuum retires exactly the below-floor-only dirs; the v4 search is unchanged") {
    val st = S.compactStore(spark, d, S.PqTier, privateBase = true)
    val (_, probes) = frozenParts(st.d0)
    def serve() = rows(S.pqAdcRank(probes,
      SM.readStore(spark, SM.asOf(spark, st.root, 4L), S.PqTier.schema),
      S.vectors(spark, d)))
    val before = serve()
    val v4Live = st.v4.values.flatten.toSet
    val belowOnly = (st.v3.values.flatten.toSet -- v4Live).toSeq.sorted
    assert(belowOnly.nonEmpty, "fixture dead: nothing to retire")
    val rep = SM.vacuumStore(spark, st.root, keepFrom = 4L)
    assert(rep.deleted == belowOnly,
      s"vacuum deleted ${rep.deleted}, retired set is $belowOnly")
    v4Live.foreach(p => assert(new java.io.File(p).exists(), s"live dir $p deleted"))
    assert(serve() == before, "the v4 ADC search changed across the vacuum")
  }

  test("q353: the version trail spans the live code-store commit; batches replay pinned") {
    val (res, trail) = S.streamServeLive(spark, d, S.PqTier, nFiles = 4)
    assert(trail.size >= 2, s"need multiple batches, got $trail")
    val vs = trail.map(_._2)
    assert(vs.head == 3L && vs.last == 4L && vs.sorted == vs,
      s"trail $trail did not step 3 -> 4 across the commit")
    // per-version pinned replay: each batch's stored rows equal a fresh
    // ADC serve of that batch's probes against the version it recorded
    val all = res.collect()
    val root = all.head.getAs[String]("store_root")
    val d0 = S.deltaCut(spark, d)
    val (_, probes) = frozenParts(d0)
    val byBatch = all.groupBy(_.getAs[Long]("batch_id"))
    trail.foreach { case (bid, v) =>
      val served = byBatch(bid).map(r =>
        (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cos_sim"), r.getAs[Long]("rnk")))
        .sortBy(t => (t._1, t._4)).toSeq
      val probeIds = served.map(_._1).toSet
      val replay = rows(S.pqAdcRank(
        probes.where(col("vec_id").isin(probeIds.toSeq: _*)),
        SM.readStore(spark, SM.asOf(spark, root, v), S.PqTier.schema),
        S.vectors(spark, d)))
      assert(served == replay,
        s"batch $bid (version $v): mid-stream ADC result diverged from a pinned v$v replay")
    }
  }

  test("q352: the gate is fresh on the real corpus and stale on a drifted delta") {
    val d0 = S.deltaCut(spark, d)
    val corpus = S.withCells(S.vectors(spark, d), S.ivfCents(spark, d, maxId = d0))
      .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
    def gateRows(c: org.apache.spark.sql.DataFrame) =
      S.pqScopeDistortion(spark, d, d0, c).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    assert(S.pqCodebookFresh(gateRows(corpus)),
      "gate flagged the real corpus — the band is mis-set")
    // drift the delta slice off the frozen codebooks: 5× scale explodes
    // reconstruction error quadratically while the base stays put
    val drifted = corpus.withColumn("v",
      when(col("vec_id") >= d0, expr("transform(v, x -> x * 5.0D)"))
        .otherwise(col("v")))
    assert(!S.pqCodebookFresh(gateRows(drifted)),
      "gate missed a 5x-drifted delta — the retrain trigger is inert")
    // and the registered query enforces it (require passes on real data)
    assert(SparkEntry.queries("q352_pq_codebook_staleness")(spark, d).count() > 0)
  }
}
