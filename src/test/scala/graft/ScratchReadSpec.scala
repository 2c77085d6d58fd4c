package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.Sources

/** The scratch write-and-read-back path: a fixture writes a dir through
  * `Sources.write` and reads it back through `Written.read`, with the
  * schema its writer held — no schema-inference job, an empty write
  * reads back empty, and a memoized artifact reads in its caller's
  * session. */
class ScratchReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scratch(tag: String): String =
    Files.createTempDirectory("graft_scratch_read").resolve(tag).toString

  /** Rows as comparable strings, columns in `df`'s order: binary as hex,
    * variant as JSON. */
  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map { c =>
      df.schema(c).dataType match {
        case BinaryType => hex(col(c)).as(c)
        case VariantType => to_json(col(c)).as(c)
        case _ => col(c)
      }
    }: _*).collect().map(_.toString).toSeq.sorted

  /** Names and types in order, nullability ignored. */
  private def fields(st: StructType): Seq[(String, String)] =
    st.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  private def frames: Seq[(String, DataFrame, Seq[String])] = {
    val base = spark.range(0, 40).toDF("id")
    Seq(
      ("flat", base.select(col("id"), (col("id") * 0.5).as("x"),
        concat(lit("t"), col("id").cast("string")).as("s")), Nil),
      ("by string", base.select(col("id"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("g"), (col("id") * 2).as("y")),
        Seq("g")),
      ("by long", base.select((col("id") % 4).as("k"), col("id"),
        concat(lit("t"), col("id").cast("string")).as("s")), Seq("k")),
      ("sketch, array of struct, variant",
        base.groupBy((col("id") % 5).as("k"))
          .agg(expr("hll_sketch_agg(id, 12)").as("sk"),
            sort_array(collect_list(struct(col("id").as("a"),
              concat(lit("v"), col("id").cast("string")).as("b")))).as("arr"),
            max(col("id")).as("m"))
          .select(col("k"), col("sk"), col("arr"),
            parse_json(concat(lit("{\"m\":"), col("m").cast("string"), lit("}"))).as("v")),
        Nil))
  }

  test("a Written reads back the written rows with the writer's schema") {
    for ((tag, df, parts) <- frames) {
      val w = Sources.write(df, scratch(tag.replace(' ', '_')), parts: _*)
      val back = w.read(spark)
      val expected = StructType(df.schema.filterNot(f => parts.contains(f.name)) ++
        parts.map(df.schema(_)))
      assert(fields(back.schema) === fields(expected), tag)
      assert(fields(w.schema) === fields(expected), tag)
      assert(rows(back, df.columns.toSeq) === rows(df, df.columns.toSeq), tag)
    }
    // a long partition column keeps the writer's type, where partition
    // discovery would have typed its small values as int
    val byLong = frames.find(_._1 == "by long").get
    val w = Sources.write(byLong._2, scratch("by_long_type"), "k")
    assert(w.read(spark).schema("k").dataType === LongType)
    assert(spark.read.parquet(w.path).schema("k").dataType === IntegerType)
  }

  test("building the read of a Written starts no Spark job; a bare read does") {
    val w = Sources.write(frames.head._2, scratch("jobs"))
    assert(TestSpark.jobsStartedBy(w.read(spark)) === 0L)
    assert(TestSpark.jobsStartedBy(w.read(spark, Seq(w.path))) === 0L)
    assert(TestSpark.jobsStartedBy(spark.read.parquet(w.path)) >= 1L)
  }

  test("a partitioned write of zero rows reads back empty; a bare read throws") {
    val df = frames(1)._2.where(lit(false))
    val w = Sources.write(df, scratch("empty"), "g")
    val back = w.read(spark)
    assert(back.schema.fieldNames.toSeq === Seq("id", "y", "g"))
    assert(back.collect().isEmpty)
    val e = intercept[AnalysisException](spark.read.parquet(w.path))
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
  }

  test("an artifactOnce read resolves in the calling session") {
    val d = TestSpark.Sf0001
    graft.queries.Similarity.gramianArtifact(spark, d).collect()
    val child = graft.streaming.StreamFixture.child(spark)
    val df = graft.queries.Similarity.gramianArtifact(child, d)
    assert(df.sparkSession eq child)
    assert(df.count() > 0L)
  }

  /** The lines of the main sources, outside the files `exempt` names,
    * where `pattern` matches and `allowed` does not accept the line. */
  private def mainOffenders(pattern: scala.util.matching.Regex, exempt: Set[String],
      allowed: String => Boolean = _ => false): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !exempt(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined && !allowed(line) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
  }

  test("no main source reads a parquet dir back with an inferred schema") {
    // a dir the program wrote is read through Sources.Written (the writer's
    // schema); only Tables infers, once per JVM, for the base tables
    val bare = """\.read\.parquet\(""".r
    assert(bare.findFirstIn("      s.read.parquet(out)").isDefined)
    assert(bare.findFirstIn("      s.read.schema(w.schema).parquet(out)").isEmpty)
    val offenders = mainOffenders(bare, Set("Tables.scala"))
    assert(offenders.isEmpty,
      "write scratch dirs through Sources.write and read them with Written.read:\n" +
        offenders.mkString("\n"))
  }

  test("no main source keeps a memo of its own outside Sources.artifactOnce") {
    // a per-dataset value (a trained quantizer, a corpus constant) is an
    // artifact: artifactOnce keys it on the dataset fingerprint, builds it
    // once under a per-key lock and retries a failed build. Tables keeps
    // the base-table schemas and JobTracker its per-job stage state.
    val memo = """TrieMap|\b\w+\.(?:getOrElseUpdate|computeIfAbsent)\(""".r
    assert(memo.findFirstIn("  private val centCache = scala.collection.concurrent.TrieMap").isDefined)
    assert(memo.findFirstIn("    maxIdCache.getOrElseUpdate(").isDefined)
    // an automaton's transition table, filled in its constructor
    assert(memo.findFirstIn("      s = gotos(s).getOrElseUpdate(c, {").isEmpty)
    val offenders = mainOffenders(memo, Set("Tables.scala", "JobTracker.scala"),
      _.contains("artifactMemo.getOrElseUpdate("))
    assert(offenders.isEmpty,
      "memoize a per-dataset value through Sources.artifactOnce:\n" + offenders.mkString("\n"))
  }

  // Spark jobs of the warm call at sf0.001, the noop write of its result
  // included. Reading their scratch dirs back with inferred schemas, the
  // warm calls took 17 (q99), 21 (q173), 19 (q181), 24 (q258), 9 (q292)
  // and 11 (q183) jobs: one inference job per bare read. Collecting
  // their day bounds to the driver and serving each date range in a plan
  // of its own, the day-sketch stores took 17 (q173), 15 (q181),
  // 20 (q258), 5 (q292) and 9 (q295). Joining its window-day count to
  // its distinct count as two aggregates of one range join, q295 took 9.
  private val budget = Seq(
    "q99_incremental_dedup" -> 13L,
    "q173_hll_sketch_store" -> 8L,
    "q181_quantile_sketch_store" -> 10L,
    "q258_bitmap_distinct_store" -> 6L,
    "q292_topk_sketch_store" -> 4L,
    "q183_bloom_skip_lookup" -> 8L,
    "q295_rolling_distinct" -> 7L)

  // q258 and q295 serve through one chain of aggregates: each warm call
  // compiled 0 codegen units in each of two JVMs, where q258's plan per
  // range compiled 14 to 24 and one plan joining two aggregates 6 to 10
  private val noWarmCodegen = Set("q258_bitmap_distinct_store", "q295_rolling_distinct")

  for ((name, maxJobs) <- budget) {
    test(s"$name: the warm call stays inside its job budget") {
      TestSpark.callCost(name)
      val (units, jobs) = TestSpark.callCost(name)
      info(s"warm call: $jobs jobs, $units codegen units")
      assert(jobs <= maxJobs, s"the warm call started $jobs Spark jobs")
      if (noWarmCodegen(name)) assert(units === 0L, "the warm call compiled code")
    }
  }
}
