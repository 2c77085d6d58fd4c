package graft.mr

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Opaque composite key for the custom-ordering grouping test — top
  * level so the product encoder can be derived.
  */
case class VKey(major: Int, minor: Int)

/** The reference's client contract on the Spark façade (SURVEY.md §5):
  * golden character-count fixture, plus property tests that the façade is
  * equivalent to sequential groupBy-then-reduce and invariant to partition
  * count (the reference's thread-count independence,
  * `/root/reference/MapReduceFramework.cpp:264`).
  */
class MapReduceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic random-input generator (property-test style, seeded). */
  private def randomInputs(seed: Long, rounds: Int): Seq[List[(Int, Int)]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(rounds)(List.fill(60)((rnd.nextInt(10), rnd.nextInt(201) - 100)))
  }

  private def forAllInputs(seed: Long)(check: List[(Int, Int)] => Unit): Unit =
    randomInputs(seed, 5).foreach(check)

  /** FIXTURES.md §A — the reference's own sample client. */
  test("golden character count matches the reference fixture") {
    val inputs = Seq[(Int, String)](
      0 -> "This string is full of characters",
      0 -> "Multithreading is awesome",
      0 -> "race conditions are bad")
    import spark.implicits._
    val out = MapReduce.runLocal[Int, String, String, Int, String, Int](
      spark, inputs,
      map = (_, text) => text.map(c => (c.toString, 1)),
      reduce = (c, group) => Iterator((c, group.map(_._2).sum)),
      parallelism = 4)
    val expected = Map(
      " " -> 10, "M" -> 1, "T" -> 1, "a" -> 7, "b" -> 1, "c" -> 4, "d" -> 3,
      "e" -> 6, "f" -> 2, "g" -> 2, "h" -> 3, "i" -> 8, "l" -> 3, "m" -> 1,
      "n" -> 4, "o" -> 4, "r" -> 6, "s" -> 7, "t" -> 5, "u" -> 2, "w" -> 1)
    assert(out.toMap === expected)
    assert(out.size === 21) // 21 distinct keys, FIXTURES.md §A
  }

  test("empty input short-circuits to an empty result (cpp:256-261)") {
    import spark.implicits._
    val out = MapReduce.runLocal[Int, String, String, Int, String, Int](
      spark, Seq.empty,
      map = (_, t) => t.map(c => (c.toString, 1)),
      reduce = (c, g) => Iterator((c, g.map(_._2).sum)))
    assert(out.isEmpty)
  }

  test("null input keys pass through the façade (SampleClient.cpp:77-79)") {
    // The reference's sample client hands the framework nullptr K1 for
    // every input pair — input keys are opaque and may be absent. The
    // façade must accept null K1 through the encoder and never inspect it.
    val inputs = Seq[(String, String)](
      (null, "aa"), (null, "ab"), (null, "b"))
    import spark.implicits._
    val out = MapReduce.runLocal[String, String, String, Int, String, Int](
      spark, inputs,
      map = (_, text) => text.map(c => (c.toString, 1)),
      reduce = (c, group) => Iterator((c, group.map(_._2).sum)),
      parallelism = 2)
    assert(out.toMap === Map("a" -> 3, "b" -> 2))
  }

  test("mapReduce ≡ sequential groupBy-then-fold (word-count-style job)") {
    import spark.implicits._
    forAllInputs(seed = 1) { input =>
      val got = MapReduce.runLocal[Int, Int, Int, Int, Int, Int](
        spark, input,
        map = (k, v) => Iterator((k % 5, v)),
        reduce = (k, g) => Iterator((k, g.map(_._2).sum)),
        parallelism = 4).toMap
      val want = input.groupBy(_._1 % 5).map { case (k, vs) => k -> vs.map(_._2).sum }
      assert(got === want)
    }
  }

  test("result is invariant to parallelism (thread-count independence)") {
    import spark.implicits._
    forAllInputs(seed = 2) { input =>
      val runs = Seq(1, 3, 7).map { par =>
        MapReduce.runLocal[Int, Int, Int, Int, Int, Int](
          spark, input,
          map = (k, v) => Iterator((k, v), (k + 1, v)), // 0..n emissions
          reduce = (k, g) => if (g.isEmpty) Iterator.empty else Iterator((k, g.map(_._2).max)),
          parallelism = par).sorted
      }
      assert(runs.distinct.size === 1)
    }
  }

  test("ScalaCheck property: result invariant under input permutation") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val gen = for {
      pairs <- Gen.listOfN(40, Gen.zip(Gen.choose(0, 6), Gen.choose(-50, 50)))
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (pairs, seed)
    val prop = Prop.forAll(gen) { case (pairs, seed) =>
      def job(in: List[(Int, Int)]) =
        MapReduce.runLocal[Int, Int, Int, Int, Int, Int](
          spark, in,
          map = (k, v) => Iterator((k, v)),
          reduce = (k, g) => Iterator((k, g.map(_._2).sum)),
          parallelism = 3).sorted
      job(pairs) == job(new scala.util.Random(seed).shuffle(pairs))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  /** One job through both forms with the same fold: (runCombine, run). */
  private def bothForms[K1, V1, K2, V2](
      ds: Dataset[(K1, V1)],
      map: (K1, V1) => IterableOnce[(K2, V2)],
      combine: (V2, V2) => V2)(
      implicit e2: Encoder[(K2, V2)], ek: Encoder[K2]): (Map[K2, V2], Map[K2, V2]) = {
    val viaCombine = MapReduce.runCombine(ds, map, combine).collect().toMap
    val viaReduce = MapReduce.run[K1, V1, K2, V2, K2, V2](
      ds, map, (k, g) => Iterator((k, g.map(_._2).reduce(combine)))).collect().toMap
    (viaCombine, viaReduce)
  }

  test("combiner path ≡ whole-group reduce for associative folds") {
    import spark.implicits._
    forAllInputs(seed = 3) { input =>
      val perPartitioning = Seq(1, 3, 7).map { par =>
        val (viaCombine, viaReduce) = bothForms[Int, Int, Int, Long](
          spark.createDataset(input).repartition(par),
          (k, v) => Iterator((k % 4, v.toLong)), _ + _)
        assert(viaCombine === viaReduce, s"partitions=$par")
        viaCombine
      }
      assert(perPartitioning.distinct.size === 1)

      val ds = spark.createDataset(input).repartition(3)
      val (caseCombine, caseReduce) = bothForms[Int, Int, VKey, Long](
        ds, (k, v) => Iterator((VKey(k % 3, v % 2), v.toLong)), _ + _)
      assert(caseCombine.nonEmpty && caseCombine === caseReduce)
      val (tupleCombine, tupleReduce) = bothForms[Int, Int, (Int, String), Long](
        ds, (k, v) => Iterator(((k % 3, if (v < 0) "neg" else "pos"), v.toLong)), _ + _)
      assert(tupleCombine.nonEmpty && tupleCombine === tupleReduce)

      // Null-tolerant max over strings; key 0 only ever sees null.
      val max: (String, String) => String = (a, b) =>
        if (a == null) b else if (b == null) a else if (a > b) a else b
      val (nullCombine, nullReduce) = bothForms[Int, Int, Int, String](
        ds, (k, v) => Iterator((k % 3, if (k % 3 == 0 || v % 2 == 0) null else v.toString)), max)
      assert(nullCombine === nullReduce)
      assert(nullCombine.contains(0) && nullCombine(0) == null)
    }

    // One partition whose emissions walk every key twice, so the cap is
    // reached mid-walk and flushed copies of a key meet in the final merge.
    val distinct = MapReduce.MapSideCap + 1000
    val wide = spark.range(0, 2L * distinct, 1, 1).map(i => (i.longValue, i.longValue))
    val out = MapReduce.runCombine[Long, Long, Long, Long](
      wide, (k, _) => Iterator((k % distinct, 1L)), _ + _).collect()
    assert(out.length === distinct)
    assert(out.map(_._1).distinct.length === distinct)
    assert(out.map(_._2).sum === 2L * distinct)
  }

  /** Runs `job` and returns its result with (map tasks, summed shuffle
    * records written) over the jobs it started. Build inputs without a
    * shuffle (e.g. with `parallelize`) so every record counted belongs to
    * the job's own exchange.
    */
  private def shuffleWrites[T](job: => T): (T, Long, Long) = {
    val mapTasks = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskType == "ShuffleMapTask" && te.taskMetrics != null) {
          mapTasks.incrementAndGet()
          records.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val result =
      try { val r = job; Bridge.drainListenerBus(spark); r }
      finally spark.sparkContext.removeSparkListener(listener)
    (result, mapTasks.get, records.get)
  }

  test("combiner ships at most one record per (map task, key) across the shuffle") {
    import spark.implicits._
    val rows = (1 to 1000).map(i => (i % 5, i))
    val ds = spark.createDataset(spark.sparkContext.parallelize(rows, 4))
    val (out, mapTasks, records) = shuffleWrites {
      MapReduce.runCombine[Int, Int, Int, Long](
        ds, (k, v) => Iterator((k, v.toLong)), _ + _).collect().toMap
    }
    assert(out === rows.groupMapReduce(_._1)(_._2.toLong)(_ + _))
    assert(mapTasks === 4)
    assert(records <= mapTasks * 5, s"records=$records")
    assert(records < rows.size)
  }

  test("run ships at most one record per (map task, key) across the shuffle") {
    import spark.implicits._
    val rows = (1 to 1000).map(i => (i % 5, i))
    val ds = spark.createDataset(spark.sparkContext.parallelize(rows, 4))
    val (out, mapTasks, records) = shuffleWrites {
      MapReduce.run[Int, Int, Int, Long, Int, Long](
        ds, (k, v) => Iterator((k, v.toLong)), (k, g) => Iterator((k, g.map(_._2).sum))
      ).collect().toMap
    }
    assert(out === rows.groupMapReduce(_._1)(_._2.toLong)(_ + _))
    assert(mapTasks === 4)
    assert(records <= mapTasks * 5, s"records=$records")
  }

  test("run: hot keys flushed several times in one task still reduce as one group") {
    import spark.implicits._
    // One partition of 2 × cap + 1000 emissions over 5 keys: the map side
    // flushes after cap and 2 × cap values and drains 1000 at the end, so
    // each key crosses the shuffle in 3 rows that one reduce call joins.
    val n = 2L * MapReduce.MapSideCap + 1000
    val ds = spark.createDataset(spark.sparkContext.parallelize(Seq((0L, n)), 1))
    val (out, mapTasks, records) = shuffleWrites {
      MapReduce.run[Long, Long, Long, Long, Long, (Long, Long)](
        ds, (_, count) => Iterator.range(0L, count).map(i => (i % 5, i)),
        (k, g) => {
          var size, sum = 0L
          g.foreach { case (_, v) => size += 1; sum += v }
          Iterator((k, (size, sum)))
        }).collect()
    }
    val want = (0L until n).groupBy(_ % 5).map { case (k, vs) => k -> ((vs.size.toLong, vs.sum)) }
    assert(out.length === 5)
    assert(out.toMap === want)
    assert(mapTasks === 1)
    assert(records === 3 * 5, s"records=$records")
  }

  test("run: null K2 and null V2 pass through the pre-grouping") {
    import spark.implicits._
    val rows = (1 to 60).map(i => (i, i))
    val ds = spark.createDataset(spark.sparkContext.parallelize(rows, 3))
    val key: Int => String = i => if (i % 3 == 0) null else (i % 3).toString
    val value: Int => String = i => if (i % 2 == 0) null else i.toString
    val render: Iterator[String] => String =
      vs => vs.map(v => if (v == null) "-" else v).toSeq.sorted.mkString(",")
    val out = MapReduce.run[Int, Int, String, String, String, String](
      ds, (k, v) => Iterator((key(k), value(v))),
      (k, g) => Iterator((k, render(g.map(_._2))))).collect().toMap
    val want = rows.groupBy(r => key(r._1))
      .map { case (k, g) => k -> render(g.iterator.map(r => value(r._2))) }
    assert(out === want)
    assert(out.contains(null))
  }

  test("run rejects a pair encoder that is not a two-field product encoder") {
    import spark.implicits._
    val ds = spark.createDataset(Seq((1, "a")))
    val err = intercept[IllegalArgumentException] {
      MapReduce.run[Int, String, String, Int, String, Int](
        ds, (_, s) => Iterator((s, 1)), (k, g) => Iterator((k, g.size)))(
        org.apache.spark.sql.Encoders.kryo[(String, Int)], implicitly, implicitly)
    }
    assert(err.getMessage.contains("two-field product encoder"), err.getMessage)
  }

  test("opaque composite key type with custom ordering groups correctly") {
    // the reference's contract: keys are opaque, grouping derives from
    // ordering-equality (cpp:197); here equality must be consistent with
    // the Ordering (SURVEY.md §7 hard-parts note)
    import spark.implicits._
    implicit val ord: Ordering[VKey] = Ordering.by(k => (k.minor, k.major))
    val input = (1 to 60).map(i => (VKey(i % 3, i % 2), i)).toList
    val out = MapReduce.runLocal[VKey, Int, VKey, Int, VKey, Int](
      spark, input,
      map = (k, v) => Iterator((k, v)),
      reduce = (k, g) => Iterator((k, g.size)),
      parallelism = 4)
    assert(out.size === 6) // 3 majors × 2 minors
    assert(out.map(_._2).sum === 60)
  }

  test("reduce sees each whole key-group exactly once") {
    import spark.implicits._
    val input = (1 to 100).map(i => (i % 10, i)).toList
    val out = MapReduce.runLocal[Int, Int, Int, Int, Int, Int](
      spark, input,
      map = (k, v) => Iterator((k, v)),
      reduce = (k, g) => Iterator((k, g.size)), // group cardinality
      parallelism = 4)
    assert(out.toMap === (0 to 9).map(k => k -> 10).toMap)
  }
}
