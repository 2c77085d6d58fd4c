package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q345 ANN store vacuum — the file economics the DuckDB oracle (which
  * proves pre ≡ post ≡ rebuild by hash) cannot see:
  *   - exactly the dirs referenced ONLY below the retention floor are
  *     deleted: for every compacted cell its base + increment dirs; for
  *     every untouched cell nothing;
  *   - every v4-referenced dir survives on disk and v4 resolves
  *     identically through the pruned manifest;
  *   - below-floor manifest rows are pruned in the same commit;
  *   - a shared-base store is structurally safe: its base dirs are not
  *     under the root, so they are never vacuum candidates;
  *   - a full-retention vacuum (floor = v1) deletes nothing; a floor
  *     above the newest version refuses to run.
  */
class IvfVacuumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity
  private val SM = sources.StoreManifest

  private lazy val st = S.compactStore(spark, d, S.IvfTier, privateBase = true)

  private def v4Rows(m: Map[Long, Seq[String]]): Seq[(Long, Long)] =
    SM.readStore(spark, m, S.IvfTier.schema).select("cell", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("q345: vacuum deletes exactly the below-floor-only dirs and spares every v4 dir") {
    val before = v4Rows(st.v4)
    val v4Live = st.v4.values.flatten.toSet
    val belowOnly = (st.v3.values.flatten.toSet -- v4Live).toSeq.sorted
    assert(belowOnly.nonEmpty, "no retired dirs — fixture dead (no cell compacted?)")
    val rep = SM.vacuumStore(spark, st.root, keepFrom = 4L)
    assert(rep.deleted == belowOnly,
      s"vacuum deleted ${rep.deleted} but the retired set is $belowOnly")
    rep.deleted.foreach(p => assert(!new java.io.File(p).exists(), s"$p still on disk"))
    v4Live.foreach(p => assert(new java.io.File(p).exists(), s"live dir $p deleted"))
    // the pruned manifest still resolves v4 to the same dirs, and reads
    // through it are row-identical to the pre-vacuum store
    assert(graft.sources.StoreManifest.asOf(spark, st.root, 4L) == st.v4)
    assert(v4Rows(graft.sources.StoreManifest.asOf(spark, st.root, 4L)) == before,
      "vacuum changed what a v4 reader sees")
    // below-floor rows are gone from the published head snapshot
    val vers = graft.sources.StoreManifest.readRows(spark, st.root)
      .map(_._1).toSet
    assert(vers == Set(4L), s"manifest still carries versions $vers")
    assert(rep.prunedManifestRows > 0)
  }

  test("q345: compacted cells retire base+increments; untouched cells retire nothing") {
    // build a fresh private store so this test is independent of the
    // vacuum the shared handle's test already ran
    val st2 = S.compactStore(spark, d, S.IvfTier, privateBase = true)
    val rep = SM.vacuumStore(spark, st2.root, keepFrom = 4L)
    st2.v3.keys.foreach { j =>
      val retired = st2.v3(j).filterNot(st2.v4(j).contains)
      if (st2.compacted(j))
        assert(retired.nonEmpty && retired.forall(rep.deleted.contains),
          s"compacted cell $j: retired dirs $retired not all deleted")
      else
        assert(retired.isEmpty && st2.v3(j).forall(p => new java.io.File(p).exists()),
          s"untouched cell $j lost a dir")
    }
  }

  test("q345: a shared-base store never loses the shared artifact to a vacuum") {
    val shared = S.compactStore(spark, d, S.IvfTier) // base = the per-corpus artifact
    val baseDirs = shared.v3.values.flatten.filterNot(_.startsWith(shared.root + "/")).toSeq
    assert(baseDirs.nonEmpty, "shared store has no out-of-root base dirs?")
    val rep = SM.vacuumStore(spark, shared.root, keepFrom = 4L)
    assert(rep.deleted.forall(_.startsWith(shared.root + "/")),
      "vacuum deleted outside the store root")
    baseDirs.foreach(p => assert(new java.io.File(p).exists(),
      s"shared base dir $p deleted by a store vacuum"))
  }

  test("q345: full retention deletes nothing; a floor above the newest version refuses") {
    val st2 = S.compactStore(spark, d, S.IvfTier, privateBase = true)
    val rep = SM.vacuumStore(spark, st2.root, keepFrom = 1L)
    assert(rep.deleted.isEmpty && rep.prunedManifestRows == 0L)
    intercept[IllegalArgumentException] {
      SM.vacuumStore(spark, st2.root, keepFrom = 99L)
    }
  }

  test("q345: registered query — pre equals post across the vacuum, both phases present") {
    val out = SparkEntry.queries("q345_ann_store_vacuum")(spark, d).collect()
      .map(r => (r.getString(4), r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val pre = out.filter(_._1 == "pre").map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._4))
    val post = out.filter(_._1 == "post").map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._4))
    assert(pre.nonEmpty && pre.sameElements(post),
      "probe results diverged across the vacuum")
  }
}
