package graft.sources

import graft.{Q, Tables}
import graft.streaming.StreamFixture
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File-format connectors beyond parquet (SURVEY.md §2c): CSV and JSON
  * read/write, demonstrated as lossless round-trips of the `documents`
  * table verified against the parquet original by the DuckDB oracle.
  *
  * Scale note: both writers partition by Spark's task parallelism (one
  * file per partition — no driver funnel); both readers take an explicit
  * schema, so no inference pass over the data at 100 TB.
  *
  * The scratch contract of every fixture that writes a dir and reads it
  * back: write it through [[Sources.write]], which hands back a
  * [[Sources.Written]] (the path and the writer's schema), and read it
  * with `Written.read`, so no read infers a schema the writer held.
  * A per-dir artifact goes through [[Sources.artifactOnce]], which
  * memoizes values (a `Written`, or a store's path), never DataFrames:
  * each caller reads the artifact in its own session.
  */
object Sources {

  /** Scratch root for write-then-read round-trips. On a real cluster every
    * executor must read back what every other executor wrote, so a SHARED
    * filesystem (HDFS/S3 URI or shared mount) via SPARK_GRAFT_SCRATCH takes
    * precedence; the local tmpdir fallback is only correct in local[*].
    * The leaf directory is unique per JVM (pid + UUID) so two concurrent
    * runs on the same sf dir can never race each other's
    * SaveMode.Overwrite, and a shutdown hook removes local scratch.
    */
  private lazy val jvmScratch: String = {
    val root = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", sys.props("java.io.tmpdir"))
      .stripSuffix("/")
    val path = root +
      s"/graft_scratch_${ProcessHandle.current().pid()}_" +
      java.util.UUID.randomUUID().toString.take(8)
    if (!path.contains("://")) { // remote URIs: cluster retention policy
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(path))
      }
    }
    path
  }

  /** Key the leaf by the sf dir too: the returned read is LAZY, so two
    * scale factors round-tripped in one JVM must not share an output path
    * (the second write would silently replace what the first one reads).
    */
  private def leaf(d: String, name: String): String =
    s"$jvmScratch/${name}_" + java.lang.Integer.toHexString(d.hashCode)

  /** Scratch path for other write-then-read operators (e.g. the q76
    * materialized ANN inverted file) — same shared-FS/keying/cleanup
    * contract as the round-trip queries above.
    */
  def scratchLeaf(d: String, name: String): String = leaf(d, name)

  /** A scratch dir this program wrote, with the schema its writer held
    * (partition columns last, in `partitionBy` order — the order Spark's
    * partition discovery gives them). Reading it back through `read`
    * hands that schema to the reader, so the read starts no
    * schema-inference job and a write that landed no part file reads
    * back as an empty relation instead of throwing
    * `UNABLE_TO_INFER_SCHEMA`.
    */
  final case class Written(path: String, schema: StructType) {
    def read(s: SparkSession): DataFrame = s.read.schema(schema).parquet(path)

    /** Only `files` of this dir (a pruned file list of an unpartitioned write). */
    def read(s: SparkSession, files: Seq[String]): DataFrame =
      s.read.schema(schema).parquet(files: _*)
  }

  /** The one scratch write of the fixtures: overwrite `path` with `df` as
    * parquet, partitioned by `partitionBy`, and hand back the dir with
    * the schema it reads back under. A bare parquet read of the dir
    * would infer that schema again: one Spark job per read.
    */
  def write(df: DataFrame, path: String, partitionBy: String*): Written = {
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(path)
    Written(path, StructType(df.schema.filterNot(f => partitionBy.contains(f.name)) ++
      partitionBy.map(df.schema(_))))
  }

  /** Memoized per-dir scratch artifact (the train-once discipline shared
    * by q23's pair table, q99's base band index, q151's gram index,
    * q167's energies, q262's gramian, q300's rollup store, q316's L2
    * levels and the ANN stores): `build` runs once per (name, dataset
    * fingerprint) under a single-writer lock — concurrent first calls
    * would otherwise race the same SaveMode.Overwrite path — and an
    * in-place regeneration of the dataset within one JVM changes the
    * fingerprint, so the artifact REBUILDS instead of silently serving a
    * stale index (r13 advisor finding). The fingerprint also suffixes
    * the path, so a lazy reader of the old artifact keeps reading the
    * bytes it was handed.
    *
    * The memo holds what `build` returns for the path it is handed: a
    * [[Written]] (read with `.read(s)` in the caller's own session) or
    * the path itself for a store that is listed and copied by path.
    * Never a DataFrame: it would stay bound to the first caller's
    * session and its confs.
    */
  private val artifactMemo = scala.collection.mutable.HashMap.empty[String, () => Any]
  def artifactOnce[T](d: String, name: String)(build: String => T): T = {
    val fp = dirFingerprint(d)
    // Per-key build lock (ADVICE r14): the global memo lock is held only
    // long enough to install a lazy thunk; the Spark build itself runs
    // under that key's own monitor (a local lazy val's LazyRef), so two
    // unrelated first-touch builds proceed concurrently and a reader of
    // an already-built artifact never blocks behind a different
    // artifact's in-flight build. A failed build leaves the LazyRef
    // uninitialized, so the next caller retries instead of caching the
    // failure.
    val thunk = artifactMemo.synchronized {
      artifactMemo.getOrElseUpdate(s"$name|$d@$fp", {
        lazy val built: Any = build(scratchLeaf(d, s"${name}_$fp"))
        () => built
      })
    }
    thunk().asInstanceOf[T]
  }

  /** Cheap dataset fingerprint — (relative path, size, mtime) of every
    * regular file under `d`, hashed. Per-dir artifact memos
    * (q151/q316/q334) key on `dir + this`, so regenerating a dataset
    * IN PLACE within one JVM invalidates the memo instead of silently
    * serving a stale index. Local-filesystem walk (the sf dirs); a
    * remote-URI dataset skips the walk and keys on the URI alone —
    * there the snapshot path itself is the version (immutable-snapshot
    * discipline at 100 TB).
    */
  def dirFingerprint(d: String): String = {
    if (d.contains("://")) return "uri"
    val root = java.nio.file.Paths.get(d)
    if (!java.nio.file.Files.isDirectory(root)) return "na"
    val md = java.security.MessageDigest.getInstance("MD5")
    val walk = java.nio.file.Files.walk(root)
    try {
      val it = walk.sorted().iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          val line = s"${root.relativize(p)}|${java.nio.file.Files.size(p)}|" +
            s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}\n"
          md.update(line.getBytes("UTF-8"))
        }
      }
    } finally walk.close()
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def roundTrip(s: SparkSession, d: String, format: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars", "text")
    val out = leaf(d, s"roundtrip_$format")
    val w = docs.write.mode(SaveMode.Overwrite)
    val r = s.read.schema(docs.schema)
    format match {
      case "csv" =>
        // header for self-description; quote-all so free text survives
        w.option("header", "true").option("quoteAll", "true").csv(out)
        r.option("header", "true").csv(out)
      case "json" =>
        w.json(out)
        r.json(out)
      case "orc" =>
        // columnar like parquet: schema-carrying, so the explicit read
        // schema is a cross-check rather than a requirement
        w.orc(out)
        r.orc(out)
      case "xml" =>
        // Spark 4's built-in XML source (spark-xml merged into core):
        // one <doc> element per row, values as child elements. The
        // explicit read schema is REQUIRED at scale — XML inference is a
        // full extra pass AND would re-guess types per run. The writer
        // escapes markup, so free text survives; the reader trims
        // element character data by DEFAULT (losing leading/trailing
        // whitespace in string values — XmlRoundTripSpec's fixture), so
        // the lossless contract needs ignoreSurroundingSpaces=false.
        w.option("rowTag", "doc").xml(out)
        r.option("rowTag", "doc")
          .option("ignoreSurroundingSpaces", "false").xml(out)
    }
  }

  /** q44 — CSV write + read round-trip equals the parquet source. */
  val csvRoundTrip = Q(
    "q44_csv_roundtrip",
    (s, d) => roundTrip(s, d, "csv"),
    Some("SELECT doc_id, lang, source, n_chars, text FROM documents")
  )

  /** q45 — JSON (lines) write + read round-trip equals the parquet source. */
  val jsonRoundTrip = Q(
    "q45_json_roundtrip",
    (s, d) => roundTrip(s, d, "json"),
    Some("SELECT doc_id, lang, source, n_chars, text FROM documents")
  )

  /** q65 — ORC write + read round-trip equals the parquet source. */
  val orcRoundTrip = Q(
    "q65_orc_roundtrip",
    (s, d) => roundTrip(s, d, "orc"),
    Some("SELECT doc_id, lang, source, n_chars, text FROM documents")
  )

  /** q190 — XML write + read round-trip equals the parquet source,
    * completing the text-format matrix (CSV q44, JSON q45, ORC q65):
    * the interchange format document feeds still arrive in (sitemaps,
    * feed dumps, Wikipedia exports). Same lossless contract as the
    * other round-trips — markup characters in `text` are escaped by the
    * writer and restored by the parser, so the DuckDB compare against
    * the parquet original is byte-exact. Scale shape: identical to
    * q44's (one file per task both ways, schema-on-read, no inference
    * pass); XML is a row-major text format, so like CSV/JSON it is an
    * INGEST format — the first job in a 100 TB pipeline converts it to
    * parquet, which is exactly the write-then-read this query runs in
    * reverse.
    */
  val xmlRoundTrip = Q(
    "q190_xml_roundtrip",
    (s, d) => roundTrip(s, d, "xml"),
    Some("SELECT doc_id, lang, source, n_chars, text FROM documents")
  )

  /** q206 — HIDDEN FILE-METADATA COLUMNS (`_metadata.file_path` /
    * `row_index`): row-level LINEAGE without writing lineage. Every
    * debugging session on a 100 TB lake eventually asks "which FILE did
    * this bad row come from?", and the answer is a hidden struct the
    * scan can attach to every row for free — no schema change, no
    * bookkeeping column maintained at write time. The fixture writes a
    * lang-partitioned store (q67's layout), reads it back selecting
    * `_metadata`, and reports per-source-FILE row counts and row-index
    * extents, keyed deterministically by the partition directory parsed
    * out of the file path (file NAMES carry random task UUIDs — the
    * path's partition segment is the stable part, which is exactly how
    * an incident writeup names a bad shard). `row_index` is the row's
    * ordinal INSIDE its file, so max(row_index) = file rows − 1 pins
    * the column's semantics in the oracle (each lang = one task = one
    * file here; a multi-file partition would group by file_path).
    */
  val fileMetadataLineage = Q(
    "q206_file_metadata",
    (s, d) => {
      write(Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        leaf(d, "metadata_docs"), "lang").read(s)
        .select(col("doc_id"),
          regexp_extract(col("_metadata.file_path"), "lang=([^/]+)/", 1).as("shard"),
          col("_metadata.row_index").as("row_index"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"),
          (max(col("row_index")) + 1).as("rows_by_index"),
          min(col("row_index")).as("first_index"))
    },
    Some("""SELECT lang AS shard, count(*) AS n_rows,
                   count(*) AS rows_by_index,
                   CAST(0 AS BIGINT) AS first_index
            FROM documents GROUP BY lang""")
  )

  /** q208 — PARQUET COMPRESSION-CODEC MATRIX: the same documents slice
    * written under five codecs (zstd / snappy / gzip / lz4 /
    * uncompressed) and read back with an IN-QUERY exactness audit — at
    * 100 TB the codec choice is a first-order cost knob (zstd routinely
    * halves snappy's footprint at comparable scan speed; storage bills
    * and shuffle/network both scale with it), and the non-negotiable
    * contract this query pins is that the knob is INVISIBLE to readers:
    * every codec round-trips byte-exactly (checked per codec via an
    * anti-join row diff folded into a boolean column the oracle expects
    * TRUE — the q172/q173 in-query-audit discipline). `CodecSpec`
    * additionally orders the on-disk footprints (compressed beats
    * uncompressed; the codecs really engaged) — file bytes are
    * layout-dependent, so sizes stay OUT of the oracle-checked output.
    */
  val codecMatrix = Q(
    "q208_parquet_codecs",
    (s, d) => {
      val src = Tables.documents(s, d).select("doc_id", "lang", "text")
      Seq("zstd", "snappy", "gzip", "lz4", "uncompressed").map { codec =>
        val out = leaf(d, s"codec_$codec")
        src.write.mode(SaveMode.Overwrite)
          .option("compression", codec).parquet(out)
        val back = s.read.schema(src.schema).parquet(out)
        val diffs = src.exceptAll(back).unionAll(back.exceptAll(src))
          .agg(count(lit(1)).as("n_diff"))
        back.agg(count(lit(1)).as("n_rows"))
          .crossJoin(diffs)
          .select(lit(codec).as("codec"), col("n_rows"),
            (col("n_diff") === 0L).as("exact_roundtrip"))
      }.reduce(_ unionAll _)
    },
    Some("""SELECT codec, (SELECT count(*) FROM documents) AS n_rows,
                   TRUE AS exact_roundtrip
            FROM (SELECT unnest(['zstd', 'snappy', 'gzip', 'lz4', 'uncompressed']) AS codec)""")
  )

  /** q67 — Hive-style PARTITIONED write + partition-PRUNED read: the
    * documents table written `partitionBy("lang")`, read back with a
    * lang predicate. At 100 TB partition layout is the first line of
    * defense — the pruned read must touch only the matching directory
    * (PlanSpec asserts the predicate lands in PartitionFilters, not as a
    * post-scan filter).
    */
  val partitionPruned = Q(
    "q67_partition_pruned",
    (s, d) => {
      write(Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars", "text"),
        leaf(d, "partitioned_docs"), "lang").read(s)
        .where(col("lang") === "en")
        .select("doc_id", "lang", "source", "n_chars", "text")
    },
    Some("SELECT doc_id, lang, source, n_chars, text FROM documents WHERE lang = 'en'")
  )

  private val CompactTargetBytes = 4L * 1024 * 1024

  /** q90 — SMALL-FILE COMPACTION, the lakehouse maintenance operator: a
    * table written by a high-parallelism job (here: forced to 32 files)
    * is rewritten into `ceil(bytes / target)` right-sized files. Small
    * files are the classic 100 TB killer — every file costs a listing
    * round-trip, a footer read and a scheduler task, so a million
    * 100 KB files can cost more than the scan itself; compaction
    * restores scan efficiency without changing a row (which is exactly
    * what the oracle checks — the rewrite must be invisible to readers).
    *
    * The byte size comes from the filesystem LISTING (driver-side
    * metadata, never data); the rewrite uses `coalesce`, which merges
    * input splits without a shuffle. Production target is 128 MB–1 GB;
    * scaled down here so the math exercises at test sizes. SinksSpec
    * asserts the file count actually drops.
    */
  val compaction = Q(
    "q90_compaction",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars", "text")
      val small = write(docs.repartition(32), leaf(d, "compact_in"))
      val p = new org.apache.hadoop.fs.Path(small.path)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      val bytes = fs.listStatus(p)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      val nOut = math.max(1L, (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
      write(small.read(s).coalesce(nOut), leaf(d, "compact_out")).read(s)
    },
    Some("SELECT doc_id, lang, source, n_chars, text FROM documents")
  )

  /** q91 — Z-ORDER (Morton-curve) CLUSTERING, the multi-dimensional
    * layout step behind lakehouse `ZORDER BY`: events are mapped onto a
    * 2-D Morton curve over (user_id, ⌊value⌋) by the native
    * [[graft.functions.InterleaveBits]] expression and bucketed by the
    * curve's leading bits (zval >> 12 — chosen so test-scale ids, which
    * occupy the curve's LOW bits, still spread across buckets; production
    * derives the shift from the target file count) — the bucket a row
    * would land in when the table is range-partitioned by the curve
    * position. The output is
    * each bucket's occupancy and min/max envelope on BOTH dimensions:
    * the per-file statistics a reader's min-max pruning consults, and
    * the whole point of the layout — every bucket covers a bounded
    * rectangle, so a predicate on EITHER column (not just the leading
    * sort key, as in a lexicographic sort) skips most buckets. Narrow
    * codegen'd map + one aggregation; at 100 TB the same expression
    * feeds `repartitionByRange(zval)` + per-file stats at write time.
    */
  val zorderLayout = Q(
    "q91_zorder_layout",
    (s, d) => {
      val z = graft.functions.InterleaveBits(
        col("user_id"), floor(col("value")).cast("long"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          floor(col("value")).cast("long").as("vbin"), z.as("zval"))
        .withColumn("zbucket", shiftright(col("zval"), 12))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("vbin").as("min_vbin"), max("vbin").as("max_vbin"),
          min("zval").as("min_z"), max("zval").as("max_z"))
    },
    Some("""WITH z AS (
              SELECT event_id, user_id,
                     CAST(floor("value") AS BIGINT) AS vbin,
                     CAST(list_aggregate(list_transform(generate_series(0, 15),
                            i -> (((user_id >> i) & 1) << (2 * i))
                               + (((CAST(floor("value") AS BIGINT) >> i) & 1) << (2 * i + 1))),
                            'sum') AS BIGINT) AS zval
              FROM events)
            SELECT zval >> 12 AS zbucket, count(*) AS n_rows,
                   min(user_id) AS min_user, max(user_id) AS max_user,
                   min(vbin) AS min_vbin, max(vbin) AS max_vbin,
                   min(zval) AS min_z, max(zval) AS max_z
            FROM z GROUP BY zval >> 12""")
  )

  /** q169 — Z-ORDER PRUNED READ: the payoff of q91's Morton layout,
    * executed end-to-end. q91 computes the clustered layout's min/max
    * envelopes as EVIDENCE; this query actually (1) writes the events
    * table range-partitioned by the z-value (`repartitionByRange` over
    * [[graft.functions.InterleaveBits]] — each file covers a contiguous
    * curve segment, hence a bounded rectangle in (user_id, vbin) space),
    * (2) collects a per-file min/max STATS SIDECAR on both original
    * dimensions in one pass over the fresh files (the Delta/Iceberg
    * data-skipping model: stats ride the commit log, not parquet
    * footers — at 100 TB the reader consults O(files) metadata, never
    * opens a footer to decide), and (3) serves a 2-dim range predicate
    * by intersecting the predicate rectangle with each file's envelope
    * and scanning ONLY the intersecting files, residual-filtered.
    *
    * This is the claim a lexicographic sort cannot make: sorted by
    * (user_id, vbin), a predicate on vbin alone touches every file;
    * z-ordered, BOTH dimensions have bounded per-file ranges, so either
    * predicate skips most files. Correctness never depends on the
    * envelope logic — the residual filter re-applies the full predicate,
    * and the oracle (a plain filter over the source table) catches a
    * sidecar that wrongly DROPS a matching file. `ZorderPruneSpec` gates
    * the economics: files-read is a strict subset of files-written, and
    * skipping is better than a lexicographic layout's on the
    * second dimension.
    */
  private[graft] val ZPruneFiles = 16
  // The predicate rectangle is selective AND populated at every test SF
  // (user_id tops out at 14 in sf0.001, 1499 in sf0.1; ⌊value⌋ ∈
  // [100, 180] covers ~11% of rows) — an empty-match rectangle would
  // make the oracle compare vacuous and the spec's skipping gate lucky.
  private[graft] val ZPredU = (3L, 7L) // user_id ∈ [3, 7]
  private[graft] val ZPredV = (100L, 180L) // ⌊value⌋ ∈ [100, 180]

  /** Write the z-clustered store + stats sidecar, return
    * (allFiles, selectedFiles, prunedScan). Factored so the spec can see
    * the file lists; `clusterBy` swaps the layout (the lexicographic
    * counterfactual) while the sidecar/pruning path stays identical.
    */
  private[graft] def zorderPruned(s: SparkSession, d: String,
      tag: String = "zorder_store",
      clusterBy: DataFrame => DataFrame = _.repartitionByRange(ZPruneFiles,
        col("zval")).sortWithinPartitions("zval"))
      : (Seq[String], Seq[String], DataFrame) = {
    val z = graft.functions.InterleaveBits(
      col("user_id"), floor(col("value")).cast("long"))
    val store = write(clusterBy(
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          floor(col("value")).cast("long").as("vbin"), col("value"))
        .withColumn("zval", z))
      .drop("zval"), leaf(d, tag))
    // write-time stats collection (one pass over the fresh files): the
    // per-file envelope on BOTH original dimensions. Bounded by file
    // count — the same metadata-plane collect as q143's manifest reads.
    val stats = store.read(s)
      .groupBy(input_file_name().as("path"))
      .agg(min("user_id").as("min_u"), max("user_id").as("max_u"),
        min("vbin").as("min_v"), max("vbin").as("max_v"))
      .collect()
    val all = stats.map(_.getAs[String]("path")).toSeq
    val selected = stats.filter { r =>
      !(r.getAs[Long]("max_u") < ZPredU._1 || r.getAs[Long]("min_u") > ZPredU._2 ||
        r.getAs[Long]("max_v") < ZPredV._1 || r.getAs[Long]("min_v") > ZPredV._2)
    }.map(_.getAs[String]("path")).toSeq
    // prune-all is a LEGAL outcome (a rectangle outside every envelope):
    // serve it as an empty relation with the store's schema — limit(0)
    // folds to an empty plan, so the read scans nothing.
    val source =
      if (selected.isEmpty) store.read(s, all).limit(0)
      else store.read(s, selected)
    val scan = source
      .where(col("user_id").between(ZPredU._1, ZPredU._2)
        && col("vbin").between(ZPredV._1, ZPredV._2))
      .select("event_id", "user_id", "vbin", "value")
    (all, selected, scan)
  }

  val zorderPrunedRead = Q(
    "q169_zorder_pruned_read",
    (s, d) => zorderPruned(s, d)._3,
    Some(s"""SELECT event_id, user_id, CAST(floor("value") AS BIGINT) AS vbin, "value"
             FROM events
             WHERE user_id BETWEEN ${ZPredU._1} AND ${ZPredU._2}
               AND CAST(floor("value") AS BIGINT) BETWEEN ${ZPredV._1} AND ${ZPredV._2}""")
  )

  /** q183 — PER-FILE BLOOM DATA-SKIPPING SIDECAR: the skipping class
    * q169's min/max envelopes structurally CANNOT serve. A point lookup
    * on a high-cardinality scattered column (`event_id IN (2 needles)`)
    * defeats envelope pruning on a store clustered by OTHER dimensions —
    * every file's [min, max] event_id range covers the needles, so the
    * envelope-only prune reads ALL files. The fix is the Delta/Iceberg
    * answer: the stats pass additionally builds a PER-FILE BLOOM FILTER
    * over the lookup column (Spark's native `BloomFilterAggregate` under
    * `groupBy(input_file_name)` — the q136 machinery turned into
    * file-level metadata, KB per file), the sidecar rides the commit log
    * like q169's envelopes, and the reader opens only files whose bloom
    * admits at least one needle — O(needle files + FP·files), not
    * O(files). Residual `IN` filter re-applies the exact predicate, so
    * correctness never depends on the bloom (no false negatives by
    * construction; false positives only cost a file open).
    *
    * Scale: at 100 TB this is THE difference between a needle query
    * costing 2 file reads and costing a full scan — min/max skipping
    * only helps clustered dimensions, and a table has at most ~2
    * clustered dims (q91); blooms cover every other high-cardinality
    * lookup column for KB/file. Build rides the same single stats pass
    * as the envelopes (one aggregation per fresh file set); the probe is
    * a driver-side test over O(files) sidecar rows — metadata-plane,
    * like every manifest read in this suite. `ZorderPruneSpec` gates the
    * economics: bloom∧envelope reads STRICTLY fewer files than the
    * envelope-only prune (which reads all of them here).
    */
  private[graft] val BloomNeedles = Seq(7L, 13L) // present at every test SF
  private[graft] val BloomFpp = 0.01

  /** Write the z-clustered store + (envelope, bloom) sidecar; return
    * (allFiles, envelopeSelected, bloomSelected, lookupScan). Factored
    * so the spec can compare the two prunes' file economics.
    */
  private[graft] def bloomPointLookup(s: SparkSession, d: String)
      : (Seq[String], Seq[String], Seq[String], DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val z = graft.functions.InterleaveBits(
      col("user_id"), floor(col("value")).cast("long"))
    val store = write(Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("vbin"), col("value"))
      .withColumn("zval", z)
      .repartitionByRange(ZPruneFiles, col("zval")).sortWithinPartitions("zval")
      .drop("zval"), leaf(d, "zbloom_store"))
    // bloom sizing from the store's row count (a parquet metadata count,
    // no data scan): estimated items per file at the known file count
    val estPerFile = math.max(1L, store.read(s).count() / ZPruneFiles)
    val nBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(estPerFile, BloomFpp)
    // ONE stats pass per fresh file set: envelopes AND blooms together
    val stats = store.read(s)
      .groupBy(input_file_name().as("path"))
      .agg(min("user_id").as("min_u"), max("user_id").as("max_u"),
        min("vbin").as("min_v"), max("vbin").as("max_v"),
        Bridge.column(new BloomFilterAggregate(
          Bridge.expression(col("event_id")),
          Literal(estPerFile), Literal(nBits)).toAggregateExpression()).as("bf"))
      .collect()
    val all = stats.map(_.getAs[String]("path")).toSeq
    // envelope prune for the event_id point lookup: the sidecar's
    // min/max dims don't constrain it — every file survives (the
    // documented weakness this query exists to show)
    val envSelected = all
    val bloomSelected = stats.filter { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf")))
      BloomNeedles.exists(bf.mightContainLong)
    }.map(_.getAs[String]("path")).toSeq
    val source =
      if (bloomSelected.isEmpty) store.read(s, all).limit(0)
      else store.read(s, bloomSelected)
    val scan = source
      .where(col("event_id").isin(BloomNeedles: _*))
      .select("event_id", "user_id", "vbin", "value")
    (all, envSelected, bloomSelected, scan)
  }

  val bloomSkipLookup = Q(
    "q183_bloom_skip_lookup",
    (s, d) => bloomPointLookup(s, d)._4,
    Some(s"""SELECT event_id, user_id, CAST(floor("value") AS BIGINT) AS vbin, "value"
             FROM events
             WHERE event_id IN (${BloomNeedles.mkString(", ")})""")
  )

  /** q252 — HILBERT-CURVE CLUSTERED PRUNED READ: q169's end-to-end
    * data-skipping pipeline with the clustering key swapped from the
    * Morton code to the native [[graft.functions.HilbertIndex]]
    * expression — the layout Delta Lake's liquid clustering moved to,
    * because the Hilbert curve's defining property (consecutive
    * positions are ALWAYS adjacent cells; Morton takes O(2^k)-cell
    * jumps at quadrant seams) means a contiguous curve segment — one
    * file under `repartitionByRange(hval)` — covers a tighter (x, y)
    * rectangle, so the same min/max envelope sidecar prunes at least
    * as well on BOTH dimensions. The sidecar build, the
    * envelope-intersection prune, the prune-all empty-relation path and
    * the residual filter are all q169's machinery, reused verbatim via
    * the `clusterBy` hook — only the curve changed, which is exactly
    * the operational claim (re-clustering a table is a layout swap, not
    * a reader change). Correctness never depends on the curve: the
    * residual filter re-applies the full predicate and the oracle is
    * the plain filter over the source table. `HilbertSpec` proves the
    * adjacency property on the whole order-6 curve (and exhibits the
    * Morton seam jump it fixes), round-trips xy2d/d2xy, pins
    * interpreted ≡ codegen, and gates the file economics: the Hilbert
    * prune reads a strict subset of the files written.
    */
  val hilbertPrunedRead = Q(
    "q252_hilbert_pruned_read",
    (s, d) => zorderPruned(s, d, tag = "hilbert_store",
      clusterBy = df => df
        .withColumn("zval",
          graft.functions.HilbertIndex(col("user_id"), col("vbin")))
        .repartitionByRange(ZPruneFiles, col("zval"))
        .sortWithinPartitions("zval"))._3,
    Some(s"""SELECT event_id, user_id, CAST(floor("value") AS BIGINT) AS vbin, "value"
             FROM events
             WHERE user_id BETWEEN ${ZPredU._1} AND ${ZPredU._2}
               AND CAST(floor("value") AS BIGINT) BETWEEN ${ZPredV._1} AND ${ZPredV._2}""")
  )

  /** q185 — DYNAMIC PARTITION OVERWRITE: the lakehouse restatement op
    * the suite's other writes don't cover. A day-partitioned store
    * absorbs a CORRECTION BATCH (one day's rows restated — the
    * late-arriving-facts fix every pipeline runs) via
    * `partitionOverwriteMode=dynamic`: `SaveMode.Overwrite` replaces
    * ONLY the partitions present in the incoming batch, leaving every
    * other partition's files physically untouched — where the default
    * STATIC overwrite would truncate the whole table down to the one
    * corrected day (the classic data-loss footgun this mode exists to
    * fix). At 100 TB the difference is a one-partition write vs a
    * full-table rewrite — same contract as Hive's dynamic-partition
    * INSERT OVERWRITE and the Delta `replaceWhere` shape.
    *
    * Session-conf isolation via a `StreamFixture.child` session (q92/q184 discipline).
    * Oracle reconstructs the post-correction state in closed form
    * (CASE on the corrected day). `DynamicOverwriteSpec` pins the
    * physics the oracle can't see: untouched partitions keep their
    * exact file paths after the correction commit, the corrected
    * partition's files are replaced, and the STATIC counterfactual
    * really does drop every other partition.
    */
  private[graft] val DpoDay = "2024-01-03"

  private[graft] def dpoSession(s0: SparkSession): SparkSession =
    StreamFixture.child(s0, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")

  /** Day-partitioned base store of the events table. */
  private[graft] def dpoWriteBase(s: SparkSession, d: String, tag: String): Written =
    write(Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("event_id"), col("user_id"),
        col("value")), leaf(d, tag), "day")

  /** The correction batch: ONLY the target day, values restated ×2. */
  private[graft] def dpoCorrection(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("event_id"), col("user_id"),
        (col("value") * 2).as("value"))
      .where(col("day") === lit(DpoDay))

  val dynamicPartitionOverwrite = Q(
    "q185_dynamic_partition_overwrite",
    (s0, d) => {
      val s = dpoSession(s0)
      val store = dpoWriteBase(s, d, "dpo_store")
      // the correction's write stays hand-rolled: its dynamic overwrite
      // mode (a conf of `s`) is the operator; it lands the base's schema
      dpoCorrection(s, d)
        .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(store.path)
      store.read(s)
        .groupBy("day")
        .agg(count(lit(1)).as("n"), Q.dsum2(col("value")).as("sum_value"))
    },
    Some(s"""WITH src AS (
               SELECT CAST(ts AS DATE) AS day,
                      CASE WHEN CAST(ts AS DATE) = DATE '$DpoDay'
                           THEN "value" * 2 ELSE "value" END AS v
               FROM events)
             SELECT day, CAST(count(*) AS BIGINT) AS n,
                    ${Q.sqlSum2("v")} AS sum_value
             FROM src GROUP BY day""")
  )

  /** q102 — SCHEMA EVOLUTION on read: an old batch written without a
    * column and a new batch written with it (`quality`, the score a
    * later pipeline version started stamping) are read together with
    * `mergeSchema` — old rows surface NULL for the new column, and no
    * batch is ever rewritten. This is how a 100 TB lake absorbs schema
    * change: parquet footers carry per-file schemas, the reader takes
    * their union, and the alternative — rewriting every historical
    * batch on every added column — is a full-corpus write. The oracle
    * reconstructs the union semantics from the source table in closed
    * form.
    */
  val schemaEvolution = Q(
    "q102_schema_evolution",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val oldDir = leaf(d, "evolve_old")
      val newDir = leaf(d, "evolve_new")
      docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode(SaveMode.Overwrite).parquet(oldDir)
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars").cast("double") / 100.0).as("quality"))
        .write.mode(SaveMode.Overwrite).parquet(newDir)
      s.read.option("mergeSchema", "true").parquet(oldDir, newDir)
    },
    Some("""SELECT doc_id, lang, n_chars,
                   CASE WHEN doc_id % 2 = 1 THEN CAST(n_chars AS DOUBLE) / 100.0 END AS quality
            FROM documents""")
  )

  /** The two-version documents store that q143 and q168 each commit
    * under a root of their own: v1 is the corpus in 4 immutable buckets,
    * `<root>/base/cell=k` with k = doc_id % 4; v2 commits q88's
    * closed-form delta copy-on-write — the buckets holding updated docs
    * ({0, 2}) are rewritten into `<root>/rw/cell=k`, buckets {1, 3} are
    * SHARED with v1, and the inserts land as one unbucketed component,
    * `<root>/ins/cell=-1`. One scan fans the base, and one the rewrite,
    * into its bucket dirs (a partitioned write, not one filtered rescan
    * per bucket). Both versions publish as one StoreManifest commit, and
    * data files hold (doc_id, lang, n_chars, text). Returns the
    * committed rows and that schema.
    */
  private def docsStore(s: SparkSession, d: String,
      root: String): (StoreManifest.Rows, StructType) = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        (col("doc_id") % 4).as("cell"))
    val touched: Seq[Long] = Seq(0L, 2L) // multiples of 10 mod 4 ∈ {0, 2}
    write(base, s"$root/base", "cell")
    write(base.where(col("cell").isInCollection(touched))
      .withColumn("text", when(col("doc_id") % 10 === 0, upper(col("text"))).otherwise(col("text"))),
      s"$root/rw", "cell")
    write(base.where(col("doc_id") % 7 === 0).drop("cell")
      .withColumn("doc_id", col("doc_id") + lit(10000000L)), s"$root/ins/cell=-1")
    val baseDirs = StoreManifest.requireBucketDirs(s, s"$root/base", 0L until 4L)
    val rwDirs = StoreManifest.requireBucketDirs(s, s"$root/rw", touched)
    val insDir = StoreManifest.requireBucketDirs(s, s"$root/ins", Seq(-1L))(-1L)
    val rows = baseDirs.toSeq.flatMap { case (k, p) =>
      Seq((1L, k, p), (2L, k, rwDirs.getOrElse(k, p))) } :+ ((2L, -1L, insDir))
    (StoreManifest.commit(s, root)(_ => rows.sorted)._2, base.drop("cell").schema)
  }

  /** q143 — TIME-TRAVEL READS over a copy-on-write versioned table (the
    * Iceberg/Delta storage model, built from primitives): the corpus is
    * laid out as immutable bucket dirs, a StoreManifest generation
    * records which dirs each snapshot version comprises, and a commit is
    * "write the changed files + publish the new manifest rows" — data
    * files are NEVER edited in place. The store is [[docsStore]]'s: v2
    * rewrites only the touched buckets, untouched buckets' dirs are
    * SHARED by both versions (the whole point — a 100 TB table's daily
    * delta rewrites only the touched files), and inserts land in a new
    * component. Reading AS OF v = `StoreManifest.asOf` then `readStore`
    * over exactly that version's dirs, with the schema the writer holds
    * (no inference job); the output is both snapshots' rows tagged by
    * version, so the oracle proves v1 is still byte-intact AFTER v2
    * committed (snapshot isolation) and v2 equals the merge result.
    *
    * The manifest resolve is plain file I/O on bounded metadata, never a
    * Spark job — what every table format's planning phase does.
    * `TimeTravelSpec` pins file sharing (the untouched buckets appear in
    * both versions) and post-commit v1 integrity.
    */
  val timeTravel = Q(
    "q143_time_travel",
    (s, d) => {
      val root = leaf(d, "tt_store")
      val (_, schema) = docsStore(s, d, root)
      Seq(1L, 2L).map { v =>
        StoreManifest.readStore(s, StoreManifest.asOf(s, root, v), schema)
          .select(lit(v).as("version"), col("doc_id"), col("lang"),
            col("n_chars"), length(col("text")).cast("long").as("text_len"),
            graft.functions.TextFns.md5Hex(col("text")).as("text_fp"))
      }.reduce(_ unionAll _)
    },
    Some("""WITH base AS (SELECT doc_id, lang, n_chars, text FROM documents),
            v2 AS (
              SELECT b.doc_id, b.lang, b.n_chars,
                     CASE WHEN b.doc_id % 10 = 0 THEN upper(b.text) ELSE b.text END AS text
              FROM base b
              UNION ALL
              SELECT doc_id + 10000000, lang, n_chars, text
              FROM base WHERE doc_id % 7 = 0)
            SELECT CAST(1 AS BIGINT) AS version, doc_id, lang, n_chars,
                   CAST(length(text) AS BIGINT) AS text_len, md5(text) AS text_fp
            FROM base
            UNION ALL
            SELECT CAST(2 AS BIGINT), doc_id, lang, n_chars,
                   CAST(length(text) AS BIGINT), md5(text)
            FROM v2""")
  )

  /** The 8-bucket events base that q155 and q170 each commit as v1
    * under a root of their own: events' (event_id, user_id, value) in
    * `<root>/base/cell=k`, k = user_id % 8, landed by ONE scan fanned
    * into the bucket dirs by a partitioned write (on a 100 TB table a
    * bucketed base commit is one pass by construction). Returns the
    * source rows keyed by `cell` and the base dirs.
    */
  private def eventsBase(s: SparkSession, d: String,
      root: String): (DataFrame, Map[Long, String]) = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        (col("user_id") % 8).as("cell"))
    write(ev, s"$root/base", "cell")
    (ev, StoreManifest.requireBucketDirs(s, s"$root/base", 0L until 8L))
  }

  /** q155 — GDPR DELETION PROPAGATION (copy-on-write DELETE): the
    * right-to-be-forgotten request against q143's storage model. The
    * events table is [[eventsBase]]'s 8 immutable bucket dirs keyed by
    * `user_id % 8`; the deletion set (`user_id % 16 IN (5, 14)`) maps to
    * buckets {5, 6}, so the commit rewrites exactly those two buckets
    * into `<root>/rw/cell=k` with the users anti-filtered out and SHARES
    * the other six with v1 — on a 100 TB table, a deletion request
    * touches only the files whose key range contains the user, never the
    * corpus (and bucket layout makes "which files" a hash, not a scan;
    * `GdprDeleteSpec` pins the 6-of-8 sharing against the committed
    * manifest). Both versions publish as one StoreManifest commit. The
    * output reads BOTH snapshots through `asOf` and `readStore` (one scan
    * per component, the writer's schema, no inference job) and
    * aggregates per (version, bucket): v1 must still contain the deleted
    * users (snapshot isolation — compliance requires the pre-deletion
    * state be provably what was deleted FROM, until retention expires
    * it), v2 must contain zero, and untouched buckets must agree
    * row-for-row across versions. The `n_deleted_users` column is the
    * tombstone audit a DPO files.
    */
  private val deletedPred = "user_id % 16 IN (5, 14)"

  val gdprDelete = Q(
    "q155_gdpr_delete",
    (s, d) => {
      val root = leaf(d, "gdpr_store")
      val (ev, baseDirs) = eventsBase(s, d, root)
      val touched: Seq[Long] = Seq(5L, 6L) // {5 % 8, 14 % 8}
      write(ev.where(col("cell").isInCollection(touched) && !expr(deletedPred)),
        s"$root/rw", "cell")
      val rwDirs = StoreManifest.requireBucketDirs(s, s"$root/rw", touched)
      StoreManifest.commit(s, root)(_ => baseDirs.toSeq.sorted.flatMap { case (k, p) =>
        Seq((1L, k, p), (2L, k, rwDirs.getOrElse(k, p))) })
      val schema = ev.drop("cell").schema
      Seq(1L, 2L).map { v =>
        StoreManifest.readStore(s, StoreManifest.asOf(s, root, v), schema)
          .groupBy(lit(v).as("version"), col("cell").as("bucket"))
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_users"),
            graft.Q.dsum2(col("value")).as("sum_value"),
            countDistinct(when(expr(deletedPred), col("user_id")))
              .as("n_deleted_users"))
      }.reduce(_ unionAll _)
    },
    Some(s"""WITH e AS (SELECT event_id, user_id, "value",
                               user_id % 8 AS bucket FROM events),
             u AS (SELECT 1 AS version, * FROM e
                   UNION ALL
                   SELECT 2 AS version, * FROM e WHERE NOT ($deletedPred))
             SELECT CAST(version AS BIGINT) AS version, bucket,
                    CAST(count(*) AS BIGINT) AS n_rows,
                    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                    ${Q.sqlSum2("\"value\"")} AS sum_value,
                    CAST(count(DISTINCT CASE WHEN $deletedPred THEN user_id END)
                         AS BIGINT) AS n_deleted_users
             FROM u GROUP BY version, bucket""")
  )

  /** q170 — DELETION VECTORS (merge-on-read DELETE): the small-delete
    * path q155 deliberately does NOT take. Copy-on-write rewrites a
    * whole bucket file to drop a handful of rows — correct, but at
    * 100 TB a daily trickle of GDPR requests would rewrite the table
    * continuously. The Delta/Iceberg answer is a TOMBSTONE SIDECAR
    * (deletion vector): the delete commit writes only event_id
    * tombstones, bucketed like the data (`<root>/dv_vN/cell=k`, a
    * component of its own per commit), data files stay byte-identical,
    * and readers anti-join the sidecar at scan time (merge-on-read). The
    * read tax is paid per query until a MAINTENANCE pass (q168's vacuum
    * discipline) compacts: when a bucket's tombstone fraction crosses
    * [[DvCompactThreshold]], that bucket is rewritten into
    * `<root>/rw/cell=k` without its dead rows and its tombstones are
    * dropped; buckets under the threshold keep riding the sidecar.
    *
    * Three snapshots exercise both regimes, each a StoreManifest commit
    * resolved through `asOf` and read through `readStore` with the
    * writer's schema: v1 = [[eventsBase]]'s 8 immutable bucket dirs;
    * v2 = q155's deleted-user predicate as a PURE deletion-vector commit
    * — `DeletionVectorSpec` pins that every v2 data dir IS v1's,
    * untouched; v3 = a second delete wave that pushes bucket 5 past the
    * threshold (measured fraction ~0.99 vs bucket 6's ~0.55, threshold
    * 0.75 — safely between at every SF), so the maintenance pass
    * compacts exactly bucket 5 and clears its tombstones while bucket 6
    * keeps its vector. The compact-or-not decision is an 8-row aggregate
    * over the store, never a re-read of the source. Output: per
    * (version, bucket) visible rows / users / value mass, plus `n_dv` —
    * the live tombstone count a storage auditor reads off the manifest.
    */
  private[graft] val DvCompactThreshold = 0.75
  private val dvPred1 = deletedPred // q155's deleted users, as a DV commit
  private val dvPred2 = "user_id % 16 = 13 AND value < 250.0"

  val deletionVectors = Q(
    "q170_deletion_vector_delete",
    (s, d) => {
      val root = leaf(d, "dv_store")
      val (ev, baseDirs) = eventsBase(s, d, root)
      val schema = ev.drop("cell").schema
      val tombSchema = ev.select("event_id").schema
      val p1 = expr(dvPred1)
      val p2 = expr(dvPred2)
      // version v's manifest rows over some (cell → dir) maps
      def rows(v: Long, dirs: Map[Long, String]*): StoreManifest.Rows =
        dirs.flatMap(_.toSeq).sorted.map { case (k, p) => (v, k, p) }
      // one version's data dirs or tombstone dirs, as the manifest has them
      def read(v: Long, tombs: Boolean): DataFrame =
        StoreManifest.readStore(s,
          StoreManifest.asOf(s, root, v).map { case (k, ps) =>
            k -> ps.filter(p => StoreManifest.component(p).startsWith("dv_") == tombs) },
          if (tombs) tombSchema else schema)
          .withColumnRenamed("cell", "bucket")
      def landTombs(dead: DataFrame, comp: String): Map[Long, String] = {
        write(dead.select(col("event_id"), col("bucket").as("cell")), s"$root/$comp", "cell")
        StoreManifest.cellDirs(s, s"$root/$comp")
      }

      // v1: the immutable base. Everything downstream consults the STORE
      // through the manifest, never the upstream source again — the
      // commit discipline a real table format has (a delete decision
      // reads table state).
      StoreManifest.commit(s, root)(_ => rows(1L, baseDirs))
      val store = read(1L, tombs = false)

      // commit 2 — the deletion-vector path: tombstones only, zero data
      // files touched (the property DeletionVectorSpec gates on).
      StoreManifest.commit(s, root)(_ ++ rows(2L, baseDirs, landTombs(store.where(p1), "dv_v2")))

      // commit 3 — second wave + maintenance: per-bucket tombstone
      // fraction (an 8-row aggregate over the store) picks compaction
      // candidates, rewritten by ONE partitioned write.
      val fracs = store.groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(when(p1 || p2, 1L).otherwise(0L)).as("n_dead"))
        .collect()
        .map(r => (r.getAs[Long]("bucket"),
          r.getAs[Long]("n_dead").toDouble / r.getAs[Long]("n")))
      val compacted = fracs.filter(_._2 >= DvCompactThreshold).map(_._1).sorted.toSeq
      val rewritten =
        if (compacted.isEmpty) Map.empty[Long, String]
        else {
          write(store.where(col("bucket").isInCollection(compacted) && !(p1 || p2))
            .withColumnRenamed("bucket", "cell"), s"$root/rw", "cell")
          StoreManifest.requireBucketDirs(s, s"$root/rw", compacted)
        }
      val dv3Dirs = landTombs(
        store.where((p1 || p2) && !col("bucket").isInCollection(compacted)), "dv_v3")
      StoreManifest.commit(s, root)(_ ++ rows(3L, baseDirs ++ rewritten, dv3Dirs))

      // merge-on-read: manifest-v data dirs, anti-joined with manifest-v
      // tombstones on the (bucket, event_id) key.
      // ONE-PASS merge-on-read across all three versions (optimization
      // r18, guide §2.4 — reuse the base scan instead of mounting it
      // once per version): tombstone relations are tiny and broadcast,
      // so each base row's per-version visibility is two broadcast
      // LEFT-join null-tests — v1 always; v2 unless keyed in the v2
      // vector; v3 unless its bucket was compacted away (the rewritten
      // dirs carry those rows) or keyed in the v3 vector — and the
      // three per-version aggregations collapse into ONE scan of the
      // base plus ONE aggregation keyed (version, bucket) after
      // exploding the visible-version list. Equivalent to the
      // per-version LEFT-ANTI form row-for-row because tombstone keys
      // are unique per (bucket, event_id) (event_id is unique), so a
      // left join matches at most once and isNull ≡ anti.
      val dv2r = read(2L, tombs = true)
      val dv3r = read(3L, tombs = true)
      val noVersions = typedLit(Seq.empty[Long])
      val notCompacted =
        if (compacted.isEmpty) lit(true)
        else !col("bucket").isInCollection(compacted)
      val visibleBase = store // v1 data ≡ v2 data dirs
        .join(broadcast(dv2r.withColumn("d2", lit(1))),
          Seq("bucket", "event_id"), "left")
        .join(broadcast(dv3r.withColumn("d3", lit(1))),
          Seq("bucket", "event_id"), "left")
        .select(col("bucket"), col("user_id"), col("value"),
          explode(concat(
            array(lit(1L)),
            when(col("d2").isNull, array(lit(2L))).otherwise(noVersions),
            when(notCompacted && col("d3").isNull, array(lit(3L)))
              .otherwise(noVersions))).as("version"))
      val visible =
        if (rewritten.isEmpty) visibleBase
        else visibleBase.unionByName(
          read(3L, tombs = false).where(col("bucket").isInCollection(compacted))
            .select(col("bucket"), col("user_id"), col("value"),
              lit(3L).as("version")))
      val dvc = dv2r.groupBy("bucket").agg(count(lit(1)).as("n_dv"))
        .withColumn("version", lit(2L))
        .unionByName(dv3r.groupBy("bucket").agg(count(lit(1)).as("n_dv"))
          .withColumn("version", lit(3L)))
      visible
        .groupBy(col("version"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          graft.Q.dsum2(col("value")).as("sum_value"))
        .join(broadcast(dvc), Seq("version", "bucket"), "left")
        .select(col("version"), col("bucket"), col("n_rows"), col("n_users"),
          col("sum_value"), coalesce(col("n_dv"), lit(0L)).as("n_dv"))
    },
    Some(s"""WITH e AS (SELECT event_id, user_id, "value",
                               user_id % 8 AS bucket FROM events),
             u AS (SELECT 1 AS version, * FROM e
                   UNION ALL
                   SELECT 2 AS version, * FROM e WHERE NOT ($dvPred1)
                   UNION ALL
                   SELECT 3 AS version, * FROM e
                   WHERE NOT ($dvPred1) AND NOT (user_id % 16 = 13 AND "value" < 250.0)),
             dv AS (SELECT 2 AS version, bucket, CAST(count(*) AS BIGINT) AS n_dv
                    FROM e WHERE $dvPred1 GROUP BY bucket
                    UNION ALL
                    -- v3 keeps tombstones only for the non-compacted
                    -- bucket (bucket 5 crossed the threshold and was
                    -- rewritten; its vector is cleared)
                    SELECT 3 AS version, bucket, CAST(count(*) AS BIGINT)
                    FROM e
                    WHERE ($dvPred1 OR (user_id % 16 = 13 AND "value" < 250.0))
                      AND bucket <> 5
                    GROUP BY bucket),
             vis AS (
               SELECT CAST(version AS BIGINT) AS version, bucket,
                      CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                      ${Q.sqlSum2("\"value\"")} AS sum_value
               FROM u GROUP BY version, bucket)
             SELECT vis.version, vis.bucket, vis.n_rows, vis.n_users,
                    vis.sum_value, coalesce(dv.n_dv, 0) AS n_dv
             FROM vis LEFT JOIN dv
               ON dv.version = vis.version AND dv.bucket = vis.bucket""")
  )

  /** q174 — CUSTOM DataSourceV2 SINK (staged-commit write protocol):
    * the write half of the connector surface q154's read-only source
    * left unexercised. The documents table flows OUT through
    * `graft.sources.blob` — per-task [[graft.sources.blob.BlobDataWriter]]s
    * stage uuid-unique files, the driver's `BatchWrite.commit` publishes
    * exactly the files the commit messages name and renames the manifest
    * last — and back IN through the connector's manifest-resolved batch
    * read, aggregated per language. The oracle (a plain aggregation over
    * the source table) proves the whole staged-commit round trip loses
    * and invents nothing; `BlobStoreSpec` covers the failure paths the
    * happy-path oracle can't (planted staged/orphan files invisible to
    * readers, task abort cleanup, append vs truncate manifests).
    * At 100 TB this is the protocol that makes a 10 000-task write
    * all-or-nothing: stragglers and speculative duplicates stage files
    * no manifest ever references.
    */
  val blobSink = Q(
    "q174_blob_sink_roundtrip",
    (s, d) => {
      val p = leaf(d, "blob_store")
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        .write.format("graft.sources.blob").option("path", p)
        .mode(SaveMode.Overwrite).save()
      s.read.format("graft.sources.blob").option("path", p).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
    },
    Some("""SELECT lang, count(*) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(length(text)) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang""")
  )

  /** q175 — CUSTOM V2 STREAMING SINK: the last cell of the connector
    * matrix (batch read q154, micro-batch read q166, batch write q174,
    * streaming write HERE). The docgen stream drains its 4
    * admission-controlled micro-batches through
    * [[graft.sources.blob.BlobStreamingWrite]] — each epoch's staged
    * files and its `#epoch` marker publish in one atomic manifest
    * replace, so a replayed epoch (crash-recovery) discards duplicates
    * instead of double-publishing: exactly-once end-to-end on top of the
    * source's replayable offsets. The store is then batch-read back and
    * aggregated; hash equality with the q166/q154-shaped oracle proves
    * all 4 epochs landed exactly once. (An r13 commit had silently
    * collapsed this to one 100k-row epoch alongside the q166 sizing
    * work, which removed the multi-epoch manifest accumulation the
    * query exists to exercise — flagged by the r13 advisor; restored
    * at 4 epochs: the ~0.2 s/epoch micro-batch floor recorded for q166
    * prices epochs 2–4 at well under a second, and `BlobStoreSpec`
    * keeps the unit-level replayed-epoch coverage either way.) Store +
    * checkpoint are run-unique (q78's discipline) so re-runs never
    * inherit manifests.
    */
  val blobStreamSink = Q(
    "q175_stream_sink",
    (s, d) => {
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val p = leaf(d, s"blob_stream_$runId")
      val chk = leaf(d, s"blob_stream_chk_$runId")
      StreamFixture.drain(s)(
        s.readStream.format("graft.sources.docgen")
          .option("rows", "100000").option("slices", "8")
          .option("rowsPerBatch", "25000")
          .load()
          .writeStream.format("graft.sources.blob")
          .option("path", p).option("checkpointLocation", chk)
          .outputMode("append"))
      s.read.format("graft.sources.blob").option("path", p).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("tokens")).as("sum_tokens"),
          min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                   min(id) AS min_id, max(id) AS max_id
            FROM (SELECT id,
                         ['en','de','fr','es','it'][CAST(id % 5 AS INT) + 1] AS lang,
                         (id * 2654435761) % 997 AS tokens
                  FROM range(0, 100000) t(id))
            GROUP BY lang""")
  )

  /** q154 — CUSTOM DataSourceV2 CONNECTOR: aggregate a filtered read of
    * the [[graft.sources.docgen.DefaultSource]] synthetic table. The query
    * itself is deliberately plain — the operator under test is the SOURCE:
    * the `id` range predicate is pushed into the connector (the generated
    * range narrows to [25000, 50000) BEFORE partition planning — visible
    * in the scan description), the unused `score` column is pruned out of
    * the generator entirely, and the 8 planned input partitions carry the
    * parallelism. Every column is a closed-form integer function of `id`,
    * so the oracle replays the source as a DuckDB `range()` scan — two
    * engines generating the same table from the same arithmetic.
    */
  val docgenScan = Q(
    "q154_docgen_source",
    (s, _) =>
      s.read.format("graft.sources.docgen")
        .option("rows", "100000").option("slices", "8").load()
        .where(col("id") >= 25000 && col("id") < 50000)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n"),
          sum(col("tokens")).as("sum_tokens"),
          min(col("id")).as("min_id"),
          max(col("id")).as("max_id")),
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                   min(id) AS min_id, max(id) AS max_id
            FROM (SELECT id,
                         ['en','de','fr','es','it'][CAST(id % 5 AS INT) + 1] AS lang,
                         (id * 2654435761) % 997 AS tokens
                  FROM range(0, 100000) t(id))
            WHERE id >= 25000 AND id < 50000
            GROUP BY lang""")
  )

  /** q242 — DSv2 AGGREGATE PUSHDOWN (`SupportsPushDownAggregates`,
    * complete): ungrouped COUNT/MIN(id)/MAX(id)/SUM(id) over a
    * filter-narrowed read of the docgen connector are answered by the
    * SOURCE in closed form from its range bounds — the plan's scan node
    * is a one-partition, one-row `DocGenAggScan` and NO aggregate work
    * (and no row generation) remains above it. This is the connector
    * capability behind "count a 100 TB table from parquet footers /
    * manifest min-max in milliseconds": the aggregate travels to the
    * metadata instead of the data traveling to the aggregate.
    * `DocGenSourceSpec` gates the executed plan (DocGenAggScan present,
    * no hash/sort aggregate above it) and proves the answer equals the
    * unpushed twin's. Oracle replays the generator range in DuckDB.
    */
  val docgenAggPushdown = Q(
    "q242_v2_agg_pushdown",
    (s, _) =>
      s.read.format("graft.sources.docgen")
        .option("rows", "1000000").option("slices", "8").load()
        .where(col("id") >= 250000 && col("id") < 750000)
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"), sum(col("id")).as("sum_id")),
    Some("""SELECT CAST(count(*) AS BIGINT) AS n, min(id) AS min_id,
                   max(id) AS max_id, CAST(sum(id) AS BIGINT) AS sum_id
            FROM range(0, 1000000) t(id)
            WHERE id >= 250000 AND id < 750000""")
  )

  /** q243 — DSv2 LIMIT + TOP-N PUSHDOWN (`SupportsPushDownLimit` /
    * `SupportsPushDownTopN`): the "peek" queries every exploration
    * session runs — `LIMIT n` (fully pushed: the source plans [lo, lo+n)
    * and Spark drops its own Limit) and `ORDER BY id DESC LIMIT n`
    * (partially pushed: the source generates only the LAST n ids and
    * Spark re-sorts those n rows). Without these interfaces both shapes
    * scan the full million-row table to keep ≤7 rows; with them, row
    * generation is proportional to the answer — the difference between
    * "head a 100 TB table" being free or being a job. Both legs ride one
    * union; the leg tag keeps the contract visible in the output.
    */
  val docgenTopNPushdown = Q(
    "q243_v2_topn_pushdown",
    (s, _) => {
      def src = s.read.format("graft.sources.docgen")
        .option("rows", "1000000").option("slices", "8").load()
      val limited = src.where(col("id") >= 100).limit(7)
        .withColumn("leg", lit("limit7"))
      val topDesc = src.orderBy(col("id").desc).limit(5)
        .withColumn("leg", lit("top5_desc"))
      limited.unionByName(topDesc)
        .select(col("leg"), col("id"), col("lang"), col("tokens"))
    },
    Some("""WITH gen AS (
              SELECT id, ['en','de','fr','es','it'][CAST(id % 5 AS INT) + 1] AS lang,
                     (id * 2654435761) % 997 AS tokens
              FROM range(0, 1000000) t(id))
            SELECT 'limit7' AS leg, id, lang, tokens FROM gen
            WHERE id >= 100 AND id < 107
            UNION ALL
            SELECT 'top5_desc' AS leg, id, lang, tokens FROM gen
            WHERE id >= 999995""")
  )

  /** q244 — DSv2 REPORTED PARTITIONING (`SupportsReportPartitioning` +
    * `HasPartitionKey`): the docgen connector read in its lang-partitioned
    * layout (`partitionBy=lang` — one planned partition per language,
    * each carrying its key), with the layout reported to Catalyst as
    * `KeyGroupedPartitioning(identity(lang))`. Under
    * `spark.sql.sources.v2.bucketing.enabled`, groupBy(lang) plans BOTH
    * aggregation phases inside the scan stage — ZERO exchanges in the
    * executed plan (`DocGenSourceSpec` gates it). This is the "layout as
    * metadata" contract Iceberg/Delta tables ship: at 100 TB the data is
    * already clustered on disk, and re-shuffling it per query is the
    * single largest avoidable cost. Oracle replays the generator range.
    */
  val docgenKeyGroupedAgg = Q(
    "q244_v2_keygrouped_agg",
    (s, _) => {
      val s2 = StreamFixture.child(s, "spark.sql.sources.v2.bucketing.enabled" -> "true")
      s2.read.format("graft.sources.docgen")
        .option("rows", "1000000").option("partitionBy", "lang").load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("tokens")).as("sum_tokens"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                   min(id) AS min_id, max(id) AS max_id
            FROM (SELECT id,
                         ['en','de','fr','es','it'][CAST(id % 5 AS INT) + 1] AS lang,
                         (id * 2654435761) % 997 AS tokens
                  FROM range(0, 1000000) t(id))
            GROUP BY lang""")
  )

  /** q245 — STORAGE-PARTITIONED JOIN: two lang-partitioned docgen reads
    * (1M- and 500k-row generations of the same layout), each aggregated
    * per lang IN ITS SCAN STAGE, then joined on lang — and the executed
    * plan contains NOT ONE Exchange: the planner proves co-partitioning
    * from the two scans' reported `KeyGroupedPartitioning` and feeds the
    * SortMergeJoin directly (partition-local sorts of 5 rows). The
    * no-bucket-tables twin of q220's SMB join: there the layout came
    * from a bucketed WRITE the engine did earlier; here it is connector
    * metadata about data that never moved at all — the join class
    * (fact×fact on the partition key) that at 100 TB either shuffles
    * both sides per query or costs nothing. `DocGenSourceSpec` gates
    * zero exchanges differentially against the unreported twin.
    */
  val docgenSpjJoin = Q(
    "q245_v2_spj",
    (s, _) => {
      val s2 = StreamFixture.child(s, "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      def read(rows: Long) = s2.read.format("graft.sources.docgen")
        .option("rows", rows.toString).option("partitionBy", "lang").load()
      val a = read(1000000L).groupBy("lang")
        .agg(count(lit(1)).as("n_a"), sum(col("tokens")).as("tok_a"))
      val b = read(500000L).groupBy("lang")
        .agg(count(lit(1)).as("n_b"), min(col("id")).as("min_b"), max(col("id")).as("max_b"))
      a.join(b, Seq("lang"))
    },
    Some("""WITH gen_a AS (
              SELECT ['en','de','fr','es','it'][CAST(id % 5 AS INT) + 1] AS lang,
                     (id * 2654435761) % 997 AS tokens
              FROM range(0, 1000000) t(id)),
            gen_b AS (
              SELECT id, ['en','de','fr','es','it'][CAST(id % 5 AS INT) + 1] AS lang
              FROM range(0, 500000) t(id)),
            a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_a,
                         CAST(sum(tokens) AS BIGINT) AS tok_a
                  FROM gen_a GROUP BY lang),
            b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_b,
                         min(id) AS min_b, max(id) AS max_b
                  FROM gen_b GROUP BY lang)
            SELECT a.lang, n_a, tok_a, n_b, min_b, max_b
            FROM a JOIN b USING (lang)""")
  )

  /** q166 — CUSTOM STREAMING SOURCE: the docgen connector read through
    * Structured Streaming (`MICRO_BATCH_READ`), draining 100k generated
    * rows in 8 admission-controlled micro-batches of 12 500
    * (`Trigger.AvailableNow`) into a complete-mode aggregation. The
    * operator under test is the STREAM MACHINERY in
    * [[graft.sources.docgen.DocGenMicroBatchStream]]: replayable
    * `[start, end)` offsets (exactly-once re-generation), a
    * `maxRows`-style read limit per trigger, per-batch partition
    * planning. The final aggregate must equal the one-shot batch read of
    * the same options — which is exactly what the q154-shaped oracle
    * checks, so hash equality proves no batch was lost, duplicated, or
    * mis-split across the 8 triggers. (`DocGenStreamSpec` additionally
    * pins that the drain really was multi-batch and batch/stream
    * row-level equality.)
    *
    * Scale: state is one number (rows emitted); each micro-batch plans
    * `slices` independent readers, so a 1000-executor drain of a
    * backlogged source proceeds in bounded, checkpointable steps instead
    * of one unboundedly-large batch.
    */
  val docgenStream = Q(
    "q166_stream_source",
    (s, _) => {
      val name = "docgen_stream_" + java.util.UUID.randomUUID().toString.take(8)
      // State partitions sized to key cardinality (5 langs), not the
      // session's 32: complete mode rewrites and re-emits EVERY state
      // partition each micro-batch, so 32 near-empty state stores paid
      // ~0.9 s/epoch of pure commit machinery. Round-13 A/B on record
      // (BASELINE.md): 8 epochs at 32 partitions 7.9 s, at 5 partitions
      // 3.1 s, 1.7 s irreducible startup+drain. A production streaming
      // agg sizes state partitions to keys for exactly this reason; the
      // per-query session pins it at FIRST run as the checkpoint does.
      val s2 = StreamFixture.child(s, "spark.sql.shuffle.partitions" -> "5")
      StreamFixture.drain(s2)(
        s2.readStream.format("graft.sources.docgen")
          .option("rows", "100000").option("slices", "8")
          .option("rowsPerBatch", "12500")
          .load()
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n"),
            sum(col("tokens")).as("sum_tokens"),
            min(col("id")).as("min_id"),
            max(col("id")).as("max_id"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete"))
      s2.table(name)
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                   min(id) AS min_id, max(id) AS max_id
            FROM (SELECT id,
                         ['en','de','fr','es','it'][CAST(id % 5 AS INT) + 1] AS lang,
                         (id * 2654435761) % 997 AS tokens
                  FROM range(0, 100000) t(id))
            GROUP BY lang""")
  )

  /** q168 — VACUUM / RETENTION GC over the q143 copy-on-write store: the
    * second half of the time-travel contract. Snapshots share immutable
    * files, so old versions cost only their PRIVATE files — and reclaiming
    * space means deleting exactly the dirs no RETAINED version references
    * (Delta's `VACUUM`, Iceberg's `expireSnapshots`). The query commits
    * [[docsStore]]'s two-version store under its own root (v1 = 4 base
    * buckets; v2 = copy-on-write commit rewriting buckets {0,2} + an
    * insert component), builds the per-dir reference counts from the
    * committed manifest rows, expires v1 with
    * `StoreManifest.vacuumStore(s, root, keepFrom = 2)` — the ANN store's
    * pass: one atomic manifest prune, then deletes through the Hadoop
    * FileSystem — and then reports per dir TAG: reference counts,
    * live/vacuumed status (from what the vacuum actually deleted), and
    * the row count from actually RE-READING the retained snapshot
    * post-vacuum — so the result hash proves both halves at once (dead
    * dirs identified correctly AND no live dir was harmed; a vacuum that
    * deleted a shared bucket would fail the re-read).
    *
    * Scale: the reference counts and the dead set come from the MANIFEST
    * (file-count rows, the metadata plane, no Spark job — Delta does
    * this exact diff); the physical deletes are per-dir storage calls
    * fanned out from that list, never a data-plane scan. Tags, not
    * paths, appear in the output (`base_k`/`rw_k` per bucket, `ins` for
    * the unbucketed insert component), so the oracle is
    * layout-independent.
    *
    * `VacuumSpec` pins the physical contract: dead dirs ABSENT on disk,
    * live dirs present, and the retained snapshot's rows equal to v2's.
    */
  val vacuum = Q(
    "q168_vacuum",
    (s, d) => {
      val root = leaf(d, "vac_store")
      val (rows, schema) = docsStore(s, d, root)
      val rep = StoreManifest.vacuumStore(s, root, keepFrom = 2L)
      // Post-vacuum audit: the retained snapshot v2 holds one dir per
      // cell, so ONE re-read of it grouped by cell counts every survivor
      // (each is still physically re-read after the deletes, which is
      // the audit).
      val counts = StoreManifest.readStore(s, StoreManifest.asOf(s, root, 2L), schema)
        .groupBy("cell").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      import s.implicits._
      rows.groupBy(r => (r._2, r._3)).toSeq.map { case ((k, p), refs) =>
        val comp = StoreManifest.component(p)
        val dead = rep.deleted.contains(p)
        (if (k < 0) comp else s"${comp}_$k", refs.size.toLong,
          refs.count(_._1 >= 2L).toLong, if (dead) "vacuumed" else "live",
          if (dead) 0L else counts.getOrElse(k, 0L))
      }.toDF("tag", "n_refs_total", "n_refs_retained", "status", "n_rows")
    },
    Some("""WITH c AS (
              SELECT CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                     CAST(sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                     CAST(sum(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                     CAST(sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                     CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ci
              FROM documents)
            SELECT 'base_0' AS tag, CAST(1 AS BIGINT) AS n_refs_total,
                   CAST(0 AS BIGINT) AS n_refs_retained, 'vacuumed' AS status,
                   CAST(0 AS BIGINT) AS n_rows FROM c
            UNION ALL SELECT 'base_1', 2, 1, 'live', c1 FROM c
            UNION ALL SELECT 'base_2', 1, 0, 'vacuumed', 0 FROM c
            UNION ALL SELECT 'base_3', 2, 1, 'live', c3 FROM c
            UNION ALL SELECT 'rw_0', 1, 1, 'live', c0 FROM c
            UNION ALL SELECT 'rw_2', 1, 1, 'live', c2 FROM c
            UNION ALL SELECT 'ins', 1, 1, 'live', ci FROM c""")
  )

  /** q219 — BUCKETED TABLE WRITE + BUCKET-PRUNED POINT READ: the third
    * leg of the data-skipping family (q67 partition pruning by a LOW-
    * cardinality column, q169/q183 file-stat skipping by sort order /
    * membership) — hash-bucketing handles the HIGH-cardinality key that
    * partitioning can't (a dir per customer would be millions of tiny
    * dirs) and does double duty as a persisted physical DISTRIBUTION.
    * `bucketBy(8, o_custkey)` + `saveAsTable` records the layout in the
    * catalog; an equality/IN read on the bucket column then opens ONLY
    * the buckets the needles hash to (`SelectedBucketsCount: k out of 8`
    * in the scan — `BucketSpec`-gated), and a groupBy on the bucket key
    * consumes the write-time hash distribution with ZERO exchange (also
    * gated): at 100 TB that is the difference between a full shuffle per
    * aggregation and none, amortized over every consumer of the table —
    * the same economics as q92's co-located join, here persisted in the
    * catalog instead of re-derived per query. The store is written once
    * per (JVM, sf dir) into per-JVM scratch and registered under a
    * dir-keyed table name (the `leaf` contract); re-registration is
    * guarded by a catalog lookup, so Bench's repeated passes read, not
    * rewrite. Needle keys exist at every sf (low custkeys are dense).
    */
  private[graft] val BucketNeedles = Seq(7L, 42L)

  private[graft] def bucketStore(s: SparkSession, d: String): String = {
    val tbl = "orders_bucketed_" + java.lang.Integer.toHexString(d.hashCode)
    if (!s.catalog.tableExists(tbl)) {
      Tables.orders(s, d)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", leaf(d, "orders_bucketed"))
        .saveAsTable(tbl)
    }
    tbl
  }

  val bucketPrunedRead = Q(
    "q219_bucket_pruned_read",
    (s, d) => {
      val tbl = bucketStore(s, d)
      s.table(tbl)
        .where(col("o_custkey").isin(BucketNeedles: _*))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          Q.dsum2(col("o_totalprice")).as("revenue"))
    },
    Some(s"""SELECT o_custkey, count(*) AS n_orders,
                    ${Q.sqlSum2("o_totalprice")} AS revenue
             FROM orders
             WHERE o_custkey IN (${BucketNeedles.mkString(", ")})
             GROUP BY o_custkey""")
  )

  /** q220 — SORT-MERGE-BUCKET JOIN (two co-bucketed tables, ZERO
    * exchanges end-to-end): the completion of q219's persisted-layout
    * story. Both fact and dimension are bucketed on the join key with
    * the SAME bucket count, so the join consumes both write-time
    * distributions directly — no shuffle on EITHER side — and the
    * downstream per-custkey aggregation rides the same distribution
    * (HashPartitioning(custkey) satisfies the finer (custkey, segment)
    * clustering), so the WHOLE plan runs without a single Exchange
    * (`BucketSpec`-gated). This is the nightly-joined-tables contract
    * every warehouse runs: pay the distribution once at write time,
    * amortize it over every subsequent join — at 100 TB the difference
    * between re-shuffling both tables per query and none. The fact side
    * is q219's store (shared, catalog-guarded); the row filter keeps the
    * verified output bounded without disturbing the bucket layout.
    */
  private[graft] def custBucketStore(s: SparkSession, d: String): String = {
    val tbl = "customer_bucketed_" + java.lang.Integer.toHexString(d.hashCode)
    if (!s.catalog.tableExists(tbl)) {
      Tables.customer(s, d)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", leaf(d, "customer_bucketed"))
        .saveAsTable(tbl)
    }
    tbl
  }

  val smbJoin = Q(
    "q220_smb_join",
    (s0, d) => {
      // Session-conf isolation (q92 discipline): the dim is tiny at test
      // scale so the planner would broadcast it — which also avoids a
      // shuffle, but the contract under test is the SORT-MERGE-BUCKET
      // path both sides ride at 100 TB, where neither table broadcasts.
      // Both the static and the AQE runtime broadcast thresholds are
      // disabled so the demonstrated plan is the at-scale plan.
      val s = StreamFixture.child(s0, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val fact = s.table(bucketStore(s, d))
      val dim = s.table(custBucketStore(s, d))
      fact.join(dim, col("o_custkey") === col("c_custkey"))
        .where(col("c_custkey") % 50 === 0)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Q.dsum2(col("o_totalprice")).as("revenue"))
    },
    Some(s"""SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
                    ${Q.sqlSum2("o_totalprice")} AS revenue
             FROM orders JOIN customer ON o_custkey = c_custkey
             WHERE c_custkey % 50 = 0
             GROUP BY c_custkey, c_mktsegment""")
  )

  /** q226 — ANALYZE TABLE + CATALOG STATISTICS: the cost-based
    * optimizer's food. `ANALYZE TABLE … COMPUTE STATISTICS FOR
    * COLUMNS` runs one distributed aggregation pass and persists
    * table-level (row count, size) and column-level (min / max /
    * null count / approx NDV) statistics into the catalog entry;
    * with `spark.sql.cbo.enabled` the optimizer then costs join
    * orders and broadcast decisions from these numbers instead of
    * raw file sizes (`CboSpec` pins `optimizedPlan.stats.rowCount`
    * equal to the exact count once analyzed — the estimate the
    * planner actually consumes). At 100 TB stats are the difference
    * between a plan chosen from evidence and one chosen from a
    * 1-file-size heuristic: a filtered dim misses its broadcast, a
    * build side OOMs — q209's manual hints exist precisely for
    * engines flying blind; ANALYZE is how this one sees. The query
    * reads the stats BACK through `DESCRIBE EXTENDED` (the catalog
    * is the source of truth, not the computation) and verifies the
    * exact stats against ground truth: row count and min/max/nulls
    * must EQUAL the data's (the oracle recomputes them); approx NDV
    * is HLL-based, so it rides as a ±10 % band folded to a boolean
    * (q172 discipline). Bounded metadata-plane collects only.
    */
  val analyzeStats = Q(
    "q226_analyze_stats",
    (s, d) => {
      import s.implicits._
      val tbl = bucketStore(s, d)
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS o_custkey")
      val tblDesc = s.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      val rows = "(\\d+) rows".r.findFirstMatchIn(tblDesc("Statistics"))
        .map(_.group(1).toLong)
        .getOrElse(sys.error(s"no row count in catalog stats: ${tblDesc("Statistics")}"))
      val colDesc = s.sql(s"DESCRIBE TABLE EXTENDED $tbl o_custkey").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      val exactNdv = Tables.orders(s, d)
        .select(countDistinct(col("o_custkey"))).as[Long].head()
      val ndv = colDesc("distinct_count").toLong
      val ndvOk = if (math.abs(ndv - exactNdv) <= 0.1 * exactNdv) 1L else 0L
      Seq(
        ("row_count", rows),
        ("custkey_min", colDesc("min").toLong),
        ("custkey_max", colDesc("max").toLong),
        ("custkey_nulls", colDesc("num_nulls").toLong),
        ("ndv_within_10pct", ndvOk)
      ).toDF("stat", "value")
    },
    Some("""SELECT 'row_count' AS stat, count(*) AS value FROM orders
            UNION ALL SELECT 'custkey_min', min(o_custkey) FROM orders
            UNION ALL SELECT 'custkey_max', max(o_custkey) FROM orders
            UNION ALL SELECT 'custkey_nulls',
              CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) FROM orders
            UNION ALL SELECT 'ndv_within_10pct', 1""")
  )

  /** The q309 catalog fixture: three cataloged, ANALYZEd tables derived
    * from events — the full fact table, a ~1 % side table (every 97th
    * event), and a 2-of-5 selective type dim (the lexicographically
    * smallest two types — deterministic, unlike a bare LIMIT). Memoized
    * per (JVM × sf dir) like [[bucketStore]]; ANALYZE re-runs per call
    * (idempotent, one aggregation pass over test-scale data).
    */
  private[graft] def cboStore(s: SparkSession, d: String): (String, String, String) = {
    val suf = java.lang.Integer.toHexString(d.hashCode)
    val ev = Tables.events(s, d)
    def reg(name: String, df: => DataFrame): String = {
      val tbl = s"${name}_$suf"
      if (!s.catalog.tableExists(tbl)) {
        df.write.mode(SaveMode.Overwrite)
          .option("path", leaf(d, name)).saveAsTable(tbl)
      }
      tbl
    }
    val facts = reg("cbo_facts", ev.select(col("event_id"), col("user_id"), col("event_type")))
    val sides = reg("cbo_sides", ev.where(col("event_id") % 97 === 0)
      .select(col("event_id").as("side_id"), col("user_id")))
    val dim = reg("cbo_dim", ev.select("event_type").distinct()
      .orderBy("event_type").limit(2))
    // ANALYZE once per (JVM × sf dir): the fixture tables are immutable
    // after registration, so re-running three aggregation passes per
    // bench rep would time stats COLLECTION when the query's contract
    // is stats CONSUMPTION (the ivmStoreMemo precedent in Sketches)
    cboAnalyzed.getOrElseUpdate(suf, {
      s.sql(s"ANALYZE TABLE $facts COMPUTE STATISTICS FOR COLUMNS user_id, event_type")
      s.sql(s"ANALYZE TABLE $sides COMPUTE STATISTICS FOR COLUMNS user_id")
      s.sql(s"ANALYZE TABLE $dim COMPUTE STATISTICS FOR COLUMNS event_type")
      true
    })
    (facts, sides, dim)
  }
  private val cboAnalyzed = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** q309 — COST-BASED JOIN REORDER under the correctness gate: the
    * CONSUMPTION side of q226's catalog statistics, registered as a
    * query so the optimizer-acts-on-stats story sits under the driver's
    * DuckDB hash gate like everything else (round-11 verdict task 7;
    * `CboReorderSpec` keeps the plan-shape assertion — selective dim
    * pulled ahead of the fact-fact join — which a result hash cannot
    * see). The join is written in a deliberately BAD syntactic order:
    * fact ⋈ side-fact on user_id first (the blowup), the 2-of-5
    * selective type dim last; with `spark.sql.cbo.joinReorder.enabled`
    * and ANALYZEd stats the optimizer must realize the dim join is the
    * cheap reducer and commute it inward — and reordering is a physics
    * change only, so the rolled-up answer must hash-match an oracle
    * that never reorders anything.
    *
    * Scale shape: this is exactly the plan class where 100 TB lives or
    * dies — a syntactically-first fact-fact join that stats-blind
    * planning would execute as written. Broadcast is disabled
    * (q220/q92 session-conf isolation) so join ORDER, not join
    * strategy, is the variable under test; the rollup is
    * map-side-combined counts.
    */
  val cboReorder = Q(
    "q309_cbo_reorder",
    (s0, d) => {
      val s = StreamFixture.child(s0, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val (facts, sides, dim) = cboStore(s, d)
      s.sql(s"""SELECT f.event_type, count(*) AS n_pairs
                FROM $facts f
                JOIN $sides x ON x.user_id = f.user_id
                JOIN $dim t ON t.event_type = f.event_type
                GROUP BY f.event_type""")
    },
    Some("""WITH dim AS (SELECT DISTINCT event_type FROM events
                         ORDER BY event_type LIMIT 2),
            sides AS (SELECT event_id AS side_id, user_id FROM events
                      WHERE event_id % 97 = 0)
            SELECT f.event_type, CAST(count(*) AS BIGINT) AS n_pairs
            FROM events f
            JOIN sides x ON x.user_id = f.user_id
            JOIN dim t ON t.event_type = f.event_type
            GROUP BY 1""")
  )

  /** q235 — COLUMN DEFAULT VALUES (SQL:2011 DDL surface): a cataloged
    * parquet table whose `tag` column declares `DEFAULT 'legacy'`, fed
    * by the two INSERT shapes the feature exists for — an INSERT that
    * OMITS the column (the old producer that predates the schema
    * change; the engine fills the default at WRITE time, so readers
    * never reconcile) and an INSERT that names it via the `DEFAULT`
    * keyword explicitly. This is the write-side dual of q102's
    * mergeSchema (which backfills NULL at READ time for files written
    * before a column existed): defaults move the backfill to the
    * writer, so the stored files are self-contained — at 100 TB the
    * difference between every reader patching old files forever and a
    * one-time write-path rule. The catalog is the source of truth for
    * the default expression; the read-back must show it applied
    * per-row. Dir-keyed table name + loud drop-first registration
    * (the q219 catalog contract); oracle reconstructs the
    * post-insert state in closed form from the source table.
    */
  val columnDefaults = Q(
    "q235_column_defaults",
    (s, d) => {
      val tbl = "orders_defaults_" + java.lang.Integer.toHexString(d.hashCode)
      val loc = leaf(d, "orders_defaults")
      // external-table re-registration: DROP leaves the LOCATION's files,
      // and the INSERTs below append — a re-execution in the same JVM
      // (bench reps) must start from an empty store or rows double
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val locPath = new org.apache.hadoop.fs.Path(loc)
      val fs = locPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(locPath) && !fs.delete(locPath, true))
        sys.error(s"could not reset defaults store at $loc")
      s.sql(s"""CREATE TABLE $tbl (
                  o_orderkey BIGINT, o_totalprice DOUBLE,
                  tag STRING DEFAULT 'legacy')
                USING parquet LOCATION '$loc'""")
      Tables.orders(s, d).createOrReplaceTempView("orders_cd")
      // old producer: omits the defaulted column entirely
      s.sql(s"""INSERT INTO $tbl (o_orderkey, o_totalprice)
                SELECT o_orderkey, o_totalprice FROM orders_cd
                WHERE o_orderkey % 3 = 0""")
      // new producer: names it, explicitly asking for the default
      s.sql(s"""INSERT INTO $tbl (o_orderkey, o_totalprice, tag)
                SELECT o_orderkey, o_totalprice, DEFAULT FROM orders_cd
                WHERE o_orderkey % 3 = 1""")
      // and a producer that sets a real value
      s.sql(s"""INSERT INTO $tbl (o_orderkey, o_totalprice, tag)
                SELECT o_orderkey, o_totalprice, 'fresh' FROM orders_cd
                WHERE o_orderkey % 3 = 2""")
      s.table(tbl)
        .groupBy("tag")
        .agg(count(lit(1)).as("n"), Q.dsum2(col("o_totalprice")).as("revenue"))
    },
    Some(s"""SELECT CASE WHEN o_orderkey % 3 = 2 THEN 'fresh'
                         ELSE 'legacy' END AS tag,
                    count(*) AS n, ${Q.sqlSum2("o_totalprice")} AS revenue
             FROM orders GROUP BY 1""")
  )

  /** q288 — CORRUPT-FILE-RESILIENT READ (`ignoreCorruptFiles`): the
    * file-LEVEL sibling of the record-level quarantines (q162 JSON
    * corrupt-record column, q171 CSV PERMISSIVE): at 100 TB a few of
    * the millions of objects under a table root WILL be truncated
    * uploads, mid-write crashes, or bit-rot — and one bad footer must
    * not kill a 1000-executor job hours in. The fixture corrupts
    * every file of ONE partition of a scratch copy of events
    * (garbage bytes — no parquet magic), then reads the store with
    * `ignoreCorruptFiles=true` and an EXPLICIT schema (inference
    * itself would have to open the bad footer — the pinned subtlety:
    * resilience requires the reader not depend on the corrupt file
    * for metadata). Surviving per-type counts and cent-exact sums
    * equal the source minus the destroyed partition — the blast
    * radius is the file, not the job. The dropped partition is
    * chosen (`error`) not sampled, so the oracle is exact.
    *
    * Scale shape: partitioned write once per run (Overwrite), the
    * corruption walk is bounded metadata IO, the audited read is a
    * partition-parallel scan with map-side-combined aggregation.
    */
  val corruptFileSkip = Q(
    "q288_corrupt_file_skip",
    (s, d) => {
      val store = write(Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("v")),
        scratchLeaf(d, "corrupt_store"), "event_type")
      // through the Hadoop FileSystem of the store's scheme, so the
      // corruption lands wherever the scratch root lives
      val fs = StoreManifest.hfs(s, store.path)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"${store.path}/event_type=error"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).foreach { f =>
          val o = fs.create(f, true)
          try o.write("not a parquet file".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally o.close()
        }
      s.read
        .option("ignoreCorruptFiles", "true")
        .schema(store.schema)
        .parquet(store.path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("total"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM events
            WHERE event_type <> 'error'
            GROUP BY event_type""")
  )

  val all: Seq[Q] =
    Seq(csvRoundTrip, jsonRoundTrip, orcRoundTrip, partitionPruned, compaction, zorderLayout,
      zorderPrunedRead, schemaEvolution, timeTravel, docgenScan, docgenStream, gdprDelete,
      deletionVectors, vacuum, blobSink, blobStreamSink, bloomSkipLookup, hilbertPrunedRead,
      dynamicPartitionOverwrite, xmlRoundTrip, fileMetadataLineage, codecMatrix,
      bucketPrunedRead, smbJoin, analyzeStats, cboReorder, columnDefaults,
      docgenAggPushdown, docgenTopNPushdown, docgenKeyGroupedAgg, docgenSpjJoin,
      corruptFileSkip)
}
