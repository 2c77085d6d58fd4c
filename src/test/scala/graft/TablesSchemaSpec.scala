package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Tables.schema`: the memoized base-table schema is the one Spark
  * infers, opening a cached table starts no Spark job, a rewritten file
  * is inferred again, and a failed inference is never cached. */
class TablesSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rawSchema(s: org.apache.spark.sql.SparkSession, d: String, name: String) =
    s.read.parquet(s"$d/$name.parquet").schema

  test("every base table's cached schema equals Spark's inference under the same confs") {
    for (d <- Seq(TestSpark.Sf0001, TestSpark.Sf001); name <- Tables.names) {
      val s = spark.newSession()
      assert(Tables.schema(s, d, name) === rawSchema(s, d, name), s"$d $name")
      assert(Tables(s, d, name).schema === rawSchema(s, d, name), s"$d $name")
    }
    // the nanos conf is a constant of the session recipe, so the shared
    // session and every session made from it read events under it
    for (d <- Seq(TestSpark.Sf0001, TestSpark.Sf001); s <- Seq(spark, spark.newSession())) {
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
      assert(Tables.schema(s, d, "events") === rawSchema(s, d, "events"))
      assert(Tables.events(s, d).schema("ts").dataType === TimestampType)
    }
  }

  test("after an events read, the schema cache holds one entry per table path") {
    // a private copy of the tables, so no other spec's conf variant of
    // the shared test data lands in the count
    val d = Files.createTempDirectory("graft_tables_keys")
    for (name <- Tables.names)
      Files.copy(Paths.get(TestSpark.Sf0001, s"$name.parquet"), d.resolve(s"$name.parquet"))
    val s = spark.newSession()
    val reads: Seq[(org.apache.spark.sql.SparkSession, String) => Any] = Seq(
      Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
      Tables.orders, Tables.lineitem, Tables.documents, Tables.embeddings)
    val before = s.conf.getAll
    reads.foreach(_(s, d.toString))
    Tables.events(s, d.toString)
    reads.foreach(_(s, d.toString))
    for (name <- Tables.names)
      assert(Tables.schemas.keySet.asScala.count(_._1 == s"$d/$name.parquet") === 1, name)
    assert(s.conf.getAll === before)
  }

  test("the key holds the session's parquet confs: one file, two conf variants") {
    val d = TestSpark.Sf0001
    val ntz = spark.newSession()
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // events.ts is TIMESTAMP(MICROS) with isAdjustedToUTC=false: the conf
    // alone decides between the NTZ and the session-local type
    assert(Tables.schema(ntz, d, "events")("ts").dataType === TimestampNTZType)
    assert(Tables.schema(ltz, d, "events")("ts").dataType === TimestampType)
    assert(Tables.schema(ntz, d, "events") === rawSchema(ntz, d, "events"))
    assert(Tables.schema(ltz, d, "events") === rawSchema(ltz, d, "events"))
  }

  test("a cached table opens with no Spark job, in this session and in a new one") {
    val d = TestSpark.Sf0001
    Tables.events(spark, d)
    Tables.lineitem(spark, d)
    // the listener does see the inference job a plain read pays
    assert(TestSpark.jobsStartedBy(spark.read.parquet(s"$d/lineitem.parquet")) >= 1)
    assert(TestSpark.jobsStartedBy(Tables.lineitem(spark, d)) === 0)
    assert(TestSpark.jobsStartedBy(Tables.events(spark, d)) === 0)
    // the cache is per JVM: a session with the same confs reuses the entry
    Tables.lineitem(spark.newSession(), d)
    assert(TestSpark.jobsStartedBy(Tables.lineitem(spark.newSession(), d)) === 0)
  }

  test("a table file rewritten at the same path is inferred again, in the same entry") {
    val tmp = Files.createTempDirectory("graft_tables_schema")
    val table = tmp.resolve("t.parquet")
    def publish(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val out = tmp.resolve(tag).toString
      df.coalesce(1).write.parquet(out)
      val part = Files.list(Paths.get(out)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, table, StandardCopyOption.REPLACE_EXISTING)
    }
    import spark.implicits._
    publish(Seq((1, "a")).toDF("k", "v"), "v1")
    assert(Tables.schema(spark, tmp.toString, "t").fieldNames.toSeq === Seq("k", "v"))
    val mtime1 = Files.getLastModifiedTime(table).toMillis
    publish(Seq((1L, 2.0, true)).toDF("id", "score", "flag"), "v2")
    // a rewrite a second later, even where the clock is coarse
    Files.setLastModifiedTime(table,
      java.nio.file.attribute.FileTime.fromMillis(mtime1 + 1000L))
    val s2 = Tables.schema(spark, tmp.toString, "t")
    assert(s2.fieldNames.toSeq === Seq("id", "score", "flag"))
    assert(s2 === rawSchema(spark, tmp.toString, "t"))
    assert(Tables(spark, tmp.toString, "t").as[(Long, Double, Boolean)].collect() ===
      Array((1L, 2.0, true)))
    val path = s"$tmp/t.parquet"
    assert(Tables.schemas.keySet.asScala.count(_._1 == path) === 1)
  }

  test("a missing table throws on every call and is never cached") {
    val d = Files.createTempDirectory("graft_tables_missing").toString
    for (_ <- 1 to 2) {
      intercept[AnalysisException](Tables.schema(spark, d, "nope"))
      intercept[AnalysisException](Tables(spark, d, "nope"))
    }
    assert(!Tables.schemas.keySet.asScala.exists(_._1 == s"$d/nope.parquet"))
  }

  test("no main source outside Tables.scala reads a base table file by path") {
    // each such read infers the schema again: one Spark job per query
    val baseRead = """\.(parquet|load)\(\s*s?"[^"]*\.parquet"""".r
    assert(baseRead.findFirstIn("""val schema = s.read.parquet(s"$d/events.parquet").schema""")
      .isDefined)
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Tables.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if baseRead.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "read base tables through Tables (or Tables.schema):\n" + offenders.mkString("\n"))
  }
}
