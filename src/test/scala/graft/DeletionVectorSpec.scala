package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, expr}

/** q170 contract — merge-on-read delete must actually be merge-on-READ:
  *   (a) the deletion-vector commit (v2) rewrites NO data file — every
  *       v2 data dir IS the corresponding v1 dir, and no data part
  *       file was modified after the tombstone sidecar was written;
  *   (b) maintenance compacts exactly the bucket whose tombstone
  *       fraction crossed the threshold (bucket 5), clearing its vector,
  *       while the under-threshold bucket (6) keeps riding its vector;
  *   (c) the merge-on-read snapshot equals the copy-on-write answer —
  *       reading v2 through the anti-join gives exactly q155's deleted
  *       universe.
  */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  // run the query once; everything below inspects the committed store
  private lazy val result =
    SparkEntry.queries("q170_deletion_vector_delete")(spark, d).collect()

  // (version, kind, bucket, dir): tombstone sidecars are the dv_ components
  private lazy val manifest = {
    result // force the commit
    sources.StoreManifest.readRows(spark, sources.Sources.scratchLeaf(d, "dv_store"))
      .map { case (v, k, p) =>
        (v, if (sources.StoreManifest.component(p).startsWith("dv_")) "dv" else "data", k, p)
      }
  }

  private def dataPaths(v: Long): Map[Long, String] =
    manifest.collect { case (`v`, "data", k, p) => k -> p }.toMap

  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))

  test("q170: the delete commit rewrote no data file") {
    val v1 = dataPaths(1L); val v2 = dataPaths(2L)
    assert(v1 === v2, "v2 data layout diverged from v1 — that's copy-on-write")
    // temporal proof: every data part file predates the tombstone sidecar
    val dvBorn = manifest.collect { case (2L, "dv", _, p) => p }
      .flatMap(partFiles).map(_.lastModified()).min
    v2.values.flatMap(partFiles).foreach { f =>
      assert(f.lastModified() <= dvBorn,
        s"data file $f modified after the deletion-vector commit")
    }
  }

  test("q170: maintenance compacted exactly the over-threshold bucket") {
    val v1 = dataPaths(1L); val v3 = dataPaths(3L)
    assert(v3(5L) !== v1(5L), "bucket 5 crossed the threshold but kept its file")
    ((0L until 8L).toSet - 5L).foreach { k =>
      assert(v3(k) === v1(k), s"bucket $k was rewritten without cause")
    }
    // bucket 5's tombstones are cleared; bucket 6 still rides its vector
    val dv3Buckets = manifest.collect { case (3L, "dv", k, p) if partFiles(p).nonEmpty => k }.toSet
    assert(!dv3Buckets.contains(5L), "compacted bucket still has tombstones")
    assert(dv3Buckets.contains(6L), "under-threshold bucket lost its vector")
  }

  test("q170: merge-on-read v2 equals the copy-on-write answer (q155 semantics)") {
    val v2 = result.filter(_.getAs[Long]("version") == 2L)
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_users")))
      .toMap
    val cow = Tables.events(spark, d)
      .where(!expr("user_id % 16 IN (5, 14)"))
      .groupBy((col("user_id") % 8).as("bucket"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.countDistinct(col("user_id")).as("u"))
      .collect()
      .map(r => r.getAs[Long]("bucket") -> (r.getAs[Long]("n"), r.getAs[Long]("u")))
      .toMap
    assert(v2 === cow)
  }
}
