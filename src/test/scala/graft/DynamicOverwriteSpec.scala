package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q185 contract — the storage physics the value oracle can't see:
  *   (a) after the correction commit, every UNTOUCHED partition keeps
  *       its exact file set (paths + sizes) — dynamic overwrite never
  *       rewrites a partition absent from the batch;
  *   (b) the corrected partition's files are REPLACED (new part files);
  *   (c) the counterfactual: the same correction under the default
  *       STATIC overwrite truncates the whole table to the one
  *       corrected day — the data-loss mode `dynamic` exists to fix.
  */
class DynamicOverwriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  /** (partition dir name → part-file names+sizes) for a day-partitioned store. */
  private def partFiles(store: String): Map[String, Set[(String, Long)]] =
    new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(dir => dir.getName ->
        dir.listFiles().filterNot(_.getName.startsWith("."))
          .map(f => (f.getName, f.length())).toSet)
      .toMap

  test("q185: correction rewrites only its own partition; static drops the rest") {
    val s = sources.Sources.dpoSession(spark)
    val store = sources.Sources.dpoWriteBase(s, d, "dpo_spec_store").path
    val before = partFiles(store)
    assert(before.size > 1, "fixture drift: single-day store — no contest")
    val target = s"day=${sources.Sources.DpoDay}"
    assert(before.contains(target), s"fixture drift: no $target partition")

    sources.Sources.dpoCorrection(s, d)
      .write.mode("overwrite").partitionBy("day").parquet(store)
    val after = partFiles(store)

    // (a) untouched partitions: identical file sets
    (before.keySet - target).foreach { p =>
      assert(after(p) === before(p), s"dynamic overwrite touched unrelated $p")
    }
    // (b) the corrected partition was really replaced
    assert(after(target).map(_._1) !== before(target).map(_._1),
      "corrected partition kept its old part files — nothing was written")
    // and the restated values landed (sum doubled for that day)
    val v = spark.read.parquet(store)
      .where(col("day") === lit(sources.Sources.DpoDay))
      .agg(Q.dsum2(col("value"))).head().getDouble(0)
    val orig = Tables.events(spark, d)
      .where(to_date(col("ts")) === lit(sources.Sources.DpoDay))
      .agg(Q.dsum2(col("value") * 2)).head().getDouble(0)
    assert(v === orig, "corrected day does not carry the restated values")

    // (c) static counterfactual on a fresh copy: every other partition dies
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val store2 = sources.Sources.dpoWriteBase(s2, d, "dpo_spec_static").path
    assert(partFiles(store2).size > 1)
    sources.Sources.dpoCorrection(s2, d)
      .write.mode("overwrite").partitionBy("day").parquet(store2)
    val left = partFiles(store2)
    assert(left.keySet === Set(target),
      s"static overwrite kept other partitions: ${left.keySet.take(5)}")
  }
}
