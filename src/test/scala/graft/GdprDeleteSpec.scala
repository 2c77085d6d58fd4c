package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q155 copy-on-write DELETE contract:
  *
  *  - file sharing: the committed manifest maps v1 and v2 to the SAME
  *    file for the six untouched buckets and different files only for
  *    buckets {5, 6} (where `user_id % 16 IN (5, 14)` lives) — the
  *    property that makes a deletion request affordable on a 100 TB
  *    table;
  *  - snapshot isolation: v1 still contains every deleted user's rows
  *    AFTER the v2 commit;
  *  - exact deletion: v2 contains zero deleted-user rows, and the rows
  *    it dropped are EXACTLY the deleted users' rows (count + value
  *    mass conservation per bucket, untouched buckets identical).
  */
class GdprDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  private lazy val out = SparkEntry.queries("q155_gdpr_delete")(spark, d)
    .collect()
    .map(r => (r.getAs[Long]("version"), r.getAs[Long]("bucket")) ->
      ((r.getAs[Long]("n_rows"), r.getAs[Double]("sum_value"),
        r.getAs[Long]("n_deleted_users"))))
    .toMap

  test("manifest shares untouched bucket files across versions") {
    assert(out.nonEmpty) // force the query: it commits the manifest
    val m = sources.StoreManifest.readRows(spark, sources.Sources.scratchLeaf(d, "gdpr_store"))
      .map { case (v, k, p) => (v, k) -> p }.toMap
    for (k <- 0L until 8L) {
      if (k == 5L || k == 6L)
        assert(m((1L, k)) != m((2L, k)), s"touched bucket $k not rewritten")
      else
        assert(m((1L, k)) == m((2L, k)), s"untouched bucket $k not shared")
    }
  }

  test("v1 still contains the deleted users after the v2 commit") {
    val v1Deleted = (0L until 8L).map(k => out((1L, k))._3).sum
    assert(v1Deleted > 0, "fixture has no deleted users — vacuous test")
  }

  test("v2 deletes exactly the deleted users' rows, nothing else") {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("value"), (col("user_id") % 8).as("bucket"))
      .withColumn("del", expr("user_id % 16 IN (5, 14)"))
      .collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Boolean]("del"),
        BigDecimal(r.getAs[Double]("value")).setScale(2, BigDecimal.RoundingMode.HALF_UP)))

    for (k <- 0L until 8L) {
      val (n1, s1, _) = out((1L, k))
      val (n2, s2, del2) = out((2L, k))
      assert(del2 == 0L, s"bucket $k: deleted users survive in v2")
      val delRows = ev.filter(r => r._1 == k && r._2)
      assert(n1 - n2 == delRows.length, s"bucket $k row conservation")
      val delMass = delRows.map(_._3).sum.toDouble
      val s1d = BigDecimal(s1).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      val s2d = BigDecimal(s2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      assert((s1d - s2d).toDouble == delMass, s"bucket $k value conservation")
    }
  }
}
