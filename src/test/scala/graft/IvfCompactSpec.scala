package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q343 ANN increment compaction — the file-economics claims the DuckDB
  * oracle (which proves pre ≡ post ≡ rebuild by hash) cannot see:
  *   - BOTH regimes exercised: some cells trigger the integer-ratio
  *     threshold and compact, some are carried by reference;
  *   - increments retired: a compacted cell's v4 manifest entry is
  *     exactly its one rewritten dir — none of its v3 dirs survive;
  *   - untouched cells shared: a non-triggered cell's v4 paths are its
  *     v3 paths VERBATIM (no rewrite happened — no compact dir exists
  *     for it on disk);
  *   - the decision matches the recounted per-cell increment fractions;
  *   - store content is invariant across the boundary (row-set equal);
  *   - the wave appends scan only their vec_id range (O(wave) appends).
  */
class IvfCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001
  private val S = queries.Similarity
  private val SM = sources.StoreManifest

  private lazy val st = S.compactStore(spark, d, S.IvfTier)

  test("q343: both compaction regimes are non-empty and the decision matches recounted fractions") {
    val untouched = st.v3.keySet -- st.compacted
    assert(st.compacted.nonEmpty, "no cell triggered compaction — fixture dead")
    assert(untouched.nonEmpty, "every cell compacted — the shared-by-reference regime is untested")
    // recount independently through the manifest view
    val byCell = st.v3.keys.map { j =>
      val total = st.v3(j).map(p => spark.read.parquet(p).count()).sum
      // increments live under the run root; the base artifact is a sibling
      val inc = st.v3(j).filter(_.startsWith(st.root + "/"))
        .map(p => spark.read.parquet(p).count()).sum
      (j, inc, total)
    }
    byCell.foreach { case (j, inc, total) =>
      val trigger = S.IvfIncCompactDen * inc >= S.IvfIncCompactNum * total
      assert(trigger == st.compacted(j),
        s"cell $j: inc=$inc total=$total trigger=$trigger but compacted=${st.compacted(j)}")
    }
  }

  test("q343: compacted cells are rewritten once with increments retired; untouched cells shared verbatim") {
    st.v3.keys.foreach { j =>
      if (st.compacted(j)) {
        assert(st.v4(j) == Seq(s"${st.compactDir}/cell=$j"),
          s"compacted cell $j must be served by exactly its one rewritten dir, got ${st.v4(j)}")
        assert(st.v3(j).forall(p => !st.v4(j).contains(p)),
          s"compacted cell $j still references a retired v3 dir")
      } else {
        assert(st.v4(j) == st.v3(j),
          s"untouched cell $j must carry its v3 paths by reference, got ${st.v4(j)}")
        assert(!new java.io.File(s"${st.compactDir}/cell=$j").exists(),
          s"untouched cell $j was rewritten — compaction touched a cell below threshold")
      }
    }
  }

  test("q343: store content is row-set invariant across the compaction boundary") {
    def rows(m: Map[Long, Seq[String]]) =
      SM.readStore(spark, m, S.IvfTier.schema).select("cell", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(st.v3) == rows(st.v4), "compaction changed the store's row set")
  }

  test("q343: manifest versions resolve and the persisted v3/v4 match the handle") {
    assert(graft.sources.StoreManifest.asOf(spark, st.root, 3L) == st.v3)
    assert(graft.sources.StoreManifest.asOf(spark, st.root, 4L) == st.v4)
    // v1 is the base alone: one dir per base cell, none under the run root
    val v1 = graft.sources.StoreManifest.asOf(spark, st.root, 1L)
    assert(v1.values.forall(ps => ps.size == 1 && !ps.head.startsWith(st.root + "/")))
  }

  test("q343: wave appends scan only their vec_id range (O(wave), not O(corpus))") {
    val plan = S.waveAssign(spark, d, st.d0, st.d0, st.dMid)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"GreaterThanOrEqual(vec_id,${st.d0})") &&
      plan.contains(s"LessThan(vec_id,${st.dMid})"),
      s"wave append scan is not range-pruned to its wave:\n$plan")
  }

  test("q343: served result — pre equals post, and both phases are present") {
    val out = SparkEntry.queries("q343_ann_index_compact")(spark, d).collect()
      .map(r => (r.getString(4), r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val pre = out.filter(_._1 == "pre").map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._4))
    val post = out.filter(_._1 == "post").map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._4))
    assert(pre.nonEmpty && pre.sameElements(post),
      "probe results diverged across the compaction boundary")
  }
}
