package graft

import org.scalatest.funsuite.AnyFunSuite

/** q143 time-travel contracts beyond the oracle:
  *   - snapshot isolation — the v1 rows read AFTER v2 committed are
  *     byte-identical (per-doc fingerprints) to the base corpus;
  *   - copy-on-write file sharing — the untouched buckets' data files
  *     appear in BOTH manifests (nothing was rewritten for them), while
  *     the touched buckets' v2 files are new paths;
  *   - v2 ≡ the q88 merge result (same doc_id → fingerprint map), so the
  *     storage path and the join path of the same logical MERGE agree.
  */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  test("q143: snapshot isolation, file sharing, and v2 ≡ merge") {
    val out = SparkEntry.queries("q143_time_travel")(spark, d)
      .collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("doc_id")) ->
        r.getAs[String]("text_fp")).toMap

    val base = Tables.documents(spark, d).selectExpr(
      "doc_id", "md5(cast(text as binary)) fp", "upper(text) utext").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        r.getAs[String]("utext")))

    // v1 after the v2 commit is the untouched base, row for row
    val v1 = out.collect { case ((1L, id), fp) => id -> fp }
    assert(v1 == base.map(r => r._1 -> r._2).toMap)

    // v2 is the merge: updates uppercased, inserts offset, rest shared
    import org.apache.spark.sql.functions._
    val upperFp = Tables.documents(spark, d)
      .select(col("doc_id"), md5(upper(col("text")).cast("binary")).as("fp"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp")).toMap
    val v2 = out.collect { case ((2L, id), fp) => id -> fp }
    val expectedV2 = base.map { case (id, fp, _) =>
      id -> (if (id % 10 == 0) upperFp(id) else fp)
    }.toMap ++ base.collect { case (id, fp, _) if id % 7 == 0 => (id + 10000000L) -> fp }
    assert(v2 == expectedV2)
    assert(v2.size == base.length + base.count(_._1 % 7 == 0))

    // copy-on-write file sharing: untouched buckets (1, 3) keep their v1
    // dirs in the v2 manifest; touched buckets (0, 2) got new dirs, and
    // v2 adds exactly one extra component (the inserts)
    val manifest = sources.StoreManifest.readRows(spark, sources.Sources.scratchLeaf(d, "tt_store"))
    val (p1, p2) = (manifest.collect { case (1L, _, p) => p }.toSet,
      manifest.collect { case (2L, _, p) => p }.toSet)
    val shared = p1 intersect p2
    assert(shared.size == 2, s"expected 2 shared bucket dirs, got $shared")
    assert(shared.forall(p => sources.StoreManifest.component(p) == "base" &&
      (p.endsWith("cell=1") || p.endsWith("cell=3"))))
    assert(p2.size == p1.size + 1, "v2 should add exactly the insert component")
    assert((p2 -- p1).map(sources.StoreManifest.component) == Set("rw", "ins"))
  }
}
