package graft

import org.scalatest.funsuite.AnyFunSuite

/** q168 (vacuum / retention GC) physical contract, beyond the value-level
  * oracle: dead files are genuinely GONE from disk, live+shared files
  * survive, and the retained snapshot still reads correctly AFTER the
  * deletes — the part a result-only check can't see.
  */
class VacuumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("vacuum deletes exactly the v1-only files; v2 still reads") {
    val rows = graft.sources.Sources.vacuum.fn(spark, TestSpark.Sf0001).collect()
    val byTag = rows.map(r => r.getAs[String]("tag") -> r).toMap
    assert(byTag.keySet == Set("base_0", "base_1", "base_2", "base_3", "rw_0", "rw_2", "ins"))

    // Status split: v1-private buckets vacuumed, everything else live.
    assert(byTag("base_0").getAs[String]("status") == "vacuumed")
    assert(byTag("base_2").getAs[String]("status") == "vacuumed")
    Seq("base_1", "base_3", "rw_0", "rw_2", "ins").foreach { t =>
      assert(byTag(t).getAs[String]("status") == "live", s"$t should be live")
    }

    // Shared files are the point of copy-on-write: base_1/base_3 carry
    // TWO manifest references and survive because one is retained.
    assert(byTag("base_1").getAs[Long]("n_refs_total") == 2L)
    assert(byTag("base_3").getAs[Long]("n_refs_total") == 2L)
    assert(byTag("base_1").getAs[Long]("n_refs_retained") == 1L)

    // Post-vacuum, live row counts reconstruct the v2 snapshot exactly:
    // every base doc appears once (rewritten or shared) + the inserts.
    val docs = Tables.documents(spark, TestSpark.Sf0001).count()
    val inserts = Tables.documents(spark, TestSpark.Sf0001)
      .where(org.apache.spark.sql.functions.col("doc_id") % 7 === 0).count()
    val liveRows = rows.filter(_.getAs[String]("status") == "live")
      .map(_.getAs[Long]("n_rows")).sum
    assert(liveRows == docs + inserts, s"v2 snapshot rows: $liveRows vs ${docs + inserts}")
    assert(rows.filter(_.getAs[String]("status") == "vacuumed")
      .forall(_.getAs[Long]("n_rows") == 0L))

    // Physical deletion: the vacuumed parquet dirs are absent on disk,
    // so materializing v1 is impossible (the retention contract).
    val root = graft.sources.Sources.scratchLeaf(TestSpark.Sf0001, "vac_store")
    val deadDirs = Seq(s"$root/base/cell=0", s"$root/base/cell=2")
    deadDirs.foreach { p =>
      assert(!new java.io.File(p).exists(), s"$p should have been deleted")
    }
    val liveDirs = Seq(s"$root/base/cell=1", s"$root/base/cell=3",
      s"$root/rw/cell=0", s"$root/rw/cell=2", s"$root/ins/cell=-1")
    liveDirs.foreach { p =>
      assert(new java.io.File(p).exists(), s"$p should have survived")
    }
  }
}
