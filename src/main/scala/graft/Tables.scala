package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query receives the scale-factor directory and reads only the
  * tables it needs — Catalyst prunes columns and pushes filters into the
  * parquet scan, so "load the table" costs only what the plan touches.
  *
  * Every table opens with a known schema ([[schema]]). A plain
  * `spark.read.parquet` infers it again on each call, and Spark's parquet
  * inference runs a one-task Spark job every time (the footer read goes
  * through `parallelize(...).collect()`, even with `mergeSchema=false`):
  * 40–110 ms of fixed cost per table in every query's build step. The
  * file-listing cache does not cover it, since it holds listings, not
  * schemas.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** The cached schema of one table file under one conf variant. */
  private[graft] final case class Inferred(len: Long, mtime: Long, schema: StructType)

  /** (table path, the session's `*parquet*` confs) → the last schema
    * inferred for that path under those confs. One entry per key, so a
    * rewritten file replaces its entry instead of adding one. */
  private[graft] val schemas = new ConcurrentHashMap[(String, Seq[(String, String)]), Inferred]()

  /** The schema `s.read.parquet` infers for table `name` in `d`, inferred
    * once per JVM for each (file, conf variant) and shared by every session.
    *
    * The key holds every conf of `s` whose name contains `parquet`, since
    * those steer inference (`spark.sql.legacy.parquet.nanosAsLong` turns
    * `events.ts` into a long); an entry counts only while the file's
    * length and modification time match the ones it was inferred from,
    * so a file rewritten in place is inferred again. Inference runs outside
    * any lock (it is a Spark job); two racing misses infer the same schema
    * and the later `put` wins. A failed inference throws and caches nothing,
    * so a missing table throws Spark's own error on every call.
    */
  def schema(s: SparkSession, d: String, name: String): StructType = {
    val path = s"$d/$name.parquet"
    val hp = new Path(path)
    val st = try Some(hp.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(hp))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None => s.read.parquet(path).schema // throws the usual missing-path error
      case Some(f) =>
        val key = (path, s.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted)
        val hit = schemas.get(key)
        if (hit != null && hit.len == f.getLen && hit.mtime == f.getModificationTime) hit.schema
        else {
          val inferred = s.read.parquet(path).schema
          schemas.put(key, Inferred(f.getLen, f.getModificationTime, inferred))
          inferred
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across driver
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects outright — read as a raw nanos long under
    * `spark.sql.legacy.parquet.nanosAsLong`, which `SparkEntry.session`
    * sets for every session, then convert; the data is µs-aligned per
    * TESTDATA.md) and plain TIMESTAMP(MICROS) `isAdjustedToUTC=false`,
    * which Spark 4 infers as TIMESTAMP_NTZ. `nanosTsToMicros` normalizes
    * EITHER encoding to a session-local TimestampType — the session
    * timezone is pinned to UTC in every entry point, so the NTZ→LTZ cast
    * preserves instants exactly and both generations produce identical
    * values. [[events]] and [[eventStream]] share it, so batch and
    * stream can never diverge on the conversion.
    */
  def nanosTsToMicros(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame = nanosTsToMicros(apply(s, d, "events"))

  /** `events` as a file stream: the file source wants a directory, so it
    * streams the scale-factor directory filtered down to the events file,
    * under the cached schema and the same `ts` normalization as [[events]]. */
  def eventStream(s: SparkSession, d: String): DataFrame =
    nanosTsToMicros(s.readStream.schema(schema(s, d, "events"))
      .option("pathGlobFilter", "events.parquet").parquet(d))

  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
