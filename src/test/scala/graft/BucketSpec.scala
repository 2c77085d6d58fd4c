package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** q219 contract — bucketing must actually BUY both of its promises at
  * read time, not just write 8 files:
  *   (a) bucket pruning: the IN-needle scan opens only the buckets the
  *       needles hash to (`SelectedBucketsCount: k out of 8`, k ≤ 2 —
  *       the plain-parquet counterfactual has no such line);
  *   (b) distribution reuse: a groupBy on the bucket column consumes the
  *       write-time hash layout with ZERO exchange in the executed plan
  *       — the persisted-shuffle economics that justify the layout;
  *   (c) correctness independence: the bucketed read equals the plain
  *       parquet filter row-for-row.
  */
class BucketSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  private lazy val df = SparkEntry.queries("q219_bucket_pruned_read")(spark, d)
  private lazy val plan = { df.collect(); df.queryExecution.executedPlan.toString }

  test("q219: scan reads only the needle buckets") {
    val sel = plan.linesIterator.find(_.contains("SelectedBucketsCount"))
    assert(sel.isDefined, s"no bucket pruning in plan: ${plan.take(1500)}")
    val k = "SelectedBucketsCount: (\\d+) out of 8".r
      .findFirstMatchIn(sel.get).map(_.group(1).toInt)
    assert(k.exists(n => n >= 1 && n <= 2), s"expected <=2 of 8 buckets: ${sel.get}")
  }

  test("q219: groupBy on the bucket key plans zero exchanges") {
    assert(!plan.contains("Exchange"),
      s"bucketed distribution not reused: ${plan.take(1500)}")
  }

  test("q220: co-bucketed join is sort-merge with zero exchanges end-to-end") {
    val j = SparkEntry.queries("q220_smb_join")(spark, d)
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("Exchange"),
      s"co-bucketed join paid a shuffle/broadcast: ${p.take(1500)}")
  }

  test("q226: CBO consumes the analyzed row count as its cardinality estimate") {
    SparkEntry.queries("q226_analyze_stats")(spark, d).collect()
    val s = spark.newSession()
    s.conf.set("spark.sql.cbo.enabled", "true")
    val tbl = sources.Sources.bucketStore(s, d)
    val exact = spark.table(tbl).count()
    // plan statistics read SQLConf from the thread's ACTIVE session —
    // the cbo flag must be active when .stats is computed, not just
    // when the plan was resolved
    val prev = org.apache.spark.sql.classic.SparkSession.getActiveSession
    org.apache.spark.sql.classic.SparkSession.setActiveSession(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    try {
      val rc = s.table(tbl).queryExecution.optimizedPlan.stats.rowCount
      assert(rc.contains(BigInt(exact)),
        s"optimizer cardinality $rc != analyzed exact count $exact")
    } finally prev.foreach(org.apache.spark.sql.classic.SparkSession.setActiveSession)
  }

  test("q219: plain parquet counterfactual has no bucket pruning, same rows") {
    val flat = Tables.orders(spark, d)
      .where(col("o_custkey").isin(sources.Sources.BucketNeedles: _*))
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_orders"),
        Q.dsum2(col("o_totalprice")).as("revenue"))
    assert(!flat.queryExecution.executedPlan.toString.contains("SelectedBucketsCount"))
    assert(df.exceptAll(flat).isEmpty && flat.exceptAll(df).isEmpty)
  }

  test("q219: orders rewritten in place serves the new rows, not the old bucketed copy") {
    import org.apache.spark.sql.functions.when
    def q219(dir: String) = SparkEntry.queries("q219_bucket_pruned_read")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    val live = TestSpark.copyTables(d, "orders")
    val before = q219(live)
    // the first needle's orders double in price; the second's are gone
    val Seq(n1, n2) = sources.Sources.BucketNeedles
    val orders = Tables.orders(spark, live)
    TestSpark.rewriteTable(live, "orders", orders.where(col("o_custkey") =!= n2)
      .withColumn("o_totalprice", when(col("o_custkey") === n1, col("o_totalprice") * 2)
        .otherwise(col("o_totalprice"))))
    val after = q219(live)
    val fresh = q219(TestSpark.copyTables(live, "orders"))
    assert(fresh !== before, "the rewrite did not change q219's result")
    assert(after === fresh, "q219 served its bucketed copy of the orders before the rewrite")
  }
}
