package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Sketches
import graft.sources.Sources

/** The day-sketch store family (q173, q181, q258, q292, q295): every
  * query builds its store through one helper and answers its date ranges
  * from the store's own day span inside one plan. Its answers must not
  * depend on how the store's scan splits, and an empty store answers
  * with no rows instead of throwing. */
class DayStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  private val family = Seq("q173_hll_sketch_store", "q181_quantile_sketch_store",
    "q258_bitmap_distinct_store", "q292_topk_sketch_store", "q295_rolling_distinct")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def run(s: SparkSession, dir: String, name: String): Seq[String] =
    rows(SparkEntry.queries(name)(s, dir))

  test("results do not change when store scans split into row-less partitions") {
    // 1 KB splits cut each few-KB single-row-group store file into
    // several splits, all but one of them reading no row: the empty
    // partial buffer q292's combine crashed on at sf0.1
    val split = streaming.StreamFixture.child(spark,
      "spark.sql.files.maxPartitionBytes" -> "1024",
      "spark.sql.files.openCostInBytes" -> "1024")
    for (name <- family) {
      val expected = run(spark, d, name)
      assert(expected.nonEmpty, name)
      assert(run(split, d, name) === expected, s"$name changed under split scans")
    }
  }

  test("an empty store serves no row, through the range helper and every store query") {
    val empty = spark.range(0).select(current_date().as("day"), col("id").as("n"))
    val st = Sources.write(empty, Files.createTempDirectory("graft_day_store")
      .resolve("empty").toString).read(spark)
    val ranges = Sketches.dayRanges(st).collect()
    assert(ranges.map(_.getString(0)).toSeq.sorted === Seq("all", "day1", "week1"))
    assert(ranges.forall(r => r.isNullAt(1) && r.isNullAt(2)))
    assert(st.join(Sketches.dayRanges(st), Sketches.inRange(col("day"))).count() === 0L)
    val dir = Files.createTempDirectory("graft_empty_events").toString
    Tables.events(spark, d).where(lit(false)).write.parquet(s"$dir/events.parquet")
    for (name <- family)
      assert(run(spark, dir, name).isEmpty, s"$name over empty events")
  }
}
