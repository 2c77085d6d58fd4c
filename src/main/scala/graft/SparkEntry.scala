package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine's public query surface: every operator from SURVEY.md §2
  * (reference parity + relational completions + LLM-pipeline extensions)
  * is one entry in `queries`, with DuckDB oracle SQL in `oracleSql` where
  * the semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** All registered queries, grouped by suite. */
  def registry: Seq[Q] =
    _root_.graft.queries.Core.all ++
      _root_.graft.queries.MapReduceQueries.all ++
      _root_.graft.queries.Dedup.all ++
      _root_.graft.queries.Similarity.all ++
      _root_.graft.queries.TextAnalysis.all ++
      _root_.graft.queries.Sampling.all ++
      _root_.graft.queries.Multimodal.all ++
      _root_.graft.queries.EventWindows.all ++
      _root_.graft.queries.Behavior.all ++
      _root_.graft.queries.Relational2.all ++
      _root_.graft.queries.Profiling.all ++
      _root_.graft.queries.Sketches.all ++
      _root_.graft.sources.Sources.all ++
      _root_.graft.operators.CleanCorpus.all ++
      _root_.graft.operators.SequencePacking.all ++
      _root_.graft.operators.GlobalOrder.all ++
      _root_.graft.operators.PrefixScan.all ++
      _root_.graft.operators.MatrixScan.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own golden workload: character frequency count
    * (SampleClient.cpp:32-66) over documents.text.
    */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Core.charCount.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Scan-split floor. Split size is min(maxPartitionBytes,
    * max(openCostInBytes, totalBytes/parallelism)); the 4 MB default
    * floors the scale-adaptive term, so a single small parquet file (every
    * base table here is one file, 0.3-11 MB) plans into 1-3 map tasks and
    * a scan-heavy stage runs on 1-3 of 32 cores (q03's scan+partial-agg
    * stage: 1.29 s wall on a 75 ms-per-core job). 128 KB keeps the
    * adaptive term in charge at every scale; at 100 TB splits still cap at
    * maxPartitionBytes.
    */
  private val OpenCostBytes: Long = 128 * 1024

  /** Whole-stage-codegen class cache entries (Spark's default is 100). A
    * full registry pass generates ~5.4k codegen units, so a smaller cache
    * evicts everything and every stage recompiles on every pass (~10-40 ms
    * per unit, serial with the query). Measured by per-pass
    * CodegenMetrics counts: at 5000 a pass still recompiled ~4.7k units;
    * 12000 holds a pass. The ~1.1k units a warm pass still compiled were
    * not evictions: Spark keys the cache on (class loader, code), and every
    * child session and every stream's session clone ran its tasks under an
    * artifact class loader of its own, so its byte-identical code missed
    * on every call. With `StreamFixture.child` and `StreamFixture.drain`
    * sharing the class loader, a warm sf0.01 pass on 4 cores compiles 209
    * units (from 1092), in 31 queries whose generated code differs between
    * calls, mostly only in a whole-stage class's stage id or a fresh
    * variable name; Bench's artifact names them (`warm_codegen_units`).
    * The entries are weakly referenced compiled classes, not data.
    */
  private val CodegenCacheEntries: Int = 12000

  /** Read a parquet TIMESTAMP(NANOS) column as its raw nanos long instead
    * of failing the read: some data generations write `events.ts` as
    * NANOS, and `Tables.nanosTsToMicros` converts the long losslessly. It
    * is a session constant rather than a per-query set-and-restore scope
    * because the reader consults it when a plan executes: a query returns
    * a lazy DataFrame that runs after the query's code has returned, and
    * a stream reads at micro-batch time. MICROS columns read the same
    * either way.
    */
  private val NanosAsLong = true

  /** The session every main runs queries in — Bench, Verify and Explain,
    * and the test suite's shared session — so the plans Explain prints and
    * the specs check are the plans that get measured.
    */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.files.openCostInBytes", OpenCostBytes.toString)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", NanosAsLong.toString)
    .getOrCreate()
}
