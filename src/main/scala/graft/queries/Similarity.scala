package graft.queries

import graft.{Q, Tables}
import graft.functions.{CosineSimilarity, ScoredId, SeqDot, TopKAggregator}
import graft.sources.StoreManifest
import graft.sources.StoreManifest.{VacuumReport, cellDirs, readComponent, readStore, vacuumStore}
import graft.streaming.StreamFixture
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Similarity search over the `embeddings.embedding` (array<float>) column:
  * brute-force cosine top-k as the verified baseline, and a random-
  * hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design (100 TB): brute force is O(probes × corpus) — fine for few
  * probes because the probe set is broadcast (a broadcast nested-loop join;
  * no shuffle of the corpus). The LSH variant buckets the corpus once
  * (narrow map), then only joins within buckets; recall vs brute force is
  * property-tested in SimilaritySpec.
  */
object Similarity {

  private[graft] def vectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** q27 — brute-force cosine top-k: 8 probe vectors against the whole
    * corpus, scored by the native codegen'd CosineSimilarity expression
    * (one fused loop inside WholeStageCodegen). Rank on the 6-digit-
    * rounded score with vec_id tiebreak so the ordering is engine-portable.
    */
  val cosineTopK = Q(
    "q27_cosine_topk",
    (s, d) => {
      val e = vectors(s, d)
      val probes = e.where(col("vec_id") < 8)
      val scored = broadcast(probes).as("q")
        .join(e.as("x"), col("x.vec_id") =!= col("q.vec_id"))
        .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("neighbor_id"),
          round(CosineSimilarity(col("q.v"), col("x.v")), 6).as("cos_sim"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= 10)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            pairs AS (SELECT q.vec_id AS probe_id, x.vec_id AS neighbor_id,
                             round(list_cosine_similarity(q.v, x.v), 6) AS cos_sim
                      FROM e q JOIN e x ON x.vec_id <> q.vec_id
                      WHERE q.vec_id < 8)
            SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                             ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
              FROM pairs) t
            WHERE rnk <= 10""")
  )

  /** Deterministic pseudo-random component in [-0.5, 0.5) from the
    * first 32 bits of md5(key) — reproducible across runs and executors,
    * and mirrored by the oracles' `md5(concat(...))`. Seeds the LSH
    * planes (`"$p,$i"`), the IVF centroids (`"c$j,$i"`) and the PQ
    * codebooks (`"q$m,$k,$i"`); the key prefixes keep the families
    * disjoint.
    */
  private def hashUnit(key: String): Double = {
    val h = java.security.MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
    val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    u.toDouble / (1L << 32).toDouble - 0.5
  }

  private val Dim = 64

  private[graft] def bucketCol(nPlanes: Int): Column = {
    // native SeqDot: one fused codegen'd loop per plane projection,
    // replacing the interpreted aggregate(zip_with(...)) HOF pair
    def dotPlane(p: Int): Column =
      SeqDot(col("v"), typedLit((0 until Dim).map(i => hashUnit(s"$p,$i"))))
    (0 until nPlanes)
      .map(p => when(dotPlane(p) >= 0, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _)
  }

  /** Multi-probe ANN over `2^nPlanes` random-hyperplane buckets: each
    * probe searches every bucket within Hamming distance `radius` of its
    * own (sign flips where straddling neighbors land), ranked by exact
    * cosine. The (planes, radius) pair is the recall/cost dial: more
    * planes → sparser buckets → cheaper within-bucket joins; larger
    * radius → more probe buckets → higher recall. Both the 4-plane/H1
    * oracle query (q28) and the 8-plane/H2 scale setting (q62) come from
    * this one builder, so the dial itself is oracle-verified.
    */
  private def annPipeline(s: SparkSession, d: String,
      nPlanes: Int, radius: Int, topK: Int): DataFrame = {
    val masks = (0 until (1 << nPlanes)).filter(Integer.bitCount(_) <= radius)
    val e = vectors(s, d).withColumn("bucket", bucketCol(nPlanes))
    val probes = e.where(col("vec_id") < 8)
      .select(col("vec_id"), col("v"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val scored = broadcast(probes).as("q")
      .join(e.as("x"),
        col("x.bucket") === col("q.bucket") && col("x.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("neighbor_id"),
        round(CosineSimilarity(col("q.v"), col("x.v")), 6).as("cos_sim"))
      .distinct() // a neighbor can match via several probe buckets
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= topK)
  }

  /** The DuckDB twin of [[annPipeline]] — same hash-derived planes, same
    * XOR-mask probe set (inlined as a literal list), same ranking.
    */
  private def annOracle(nPlanes: Int, radius: Int, topK: Int): String = {
    val masks = (0 until (1 << nPlanes)).filter(Integer.bitCount(_) <= radius)
    val maskList = masks.map(m => s"xor(b.bucket, $m)").mkString("[", ", ", "]")
    s"""WITH planes AS (
          SELECT p, list_transform(generate_series(0, ${Dim - 1}),
                   i -> (('0x' || substr(md5(concat(p, ',', i)), 1, 8))::BIGINT
                         / 4294967296.0) - 0.5) AS pl
          FROM (SELECT unnest(generate_series(0, ${nPlanes - 1})) AS p) ps),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bucketed AS (
          SELECT e.vec_id, e.v,
                 CAST(sum(CASE WHEN list_dot_product(e.v, planes.pl) >= 0
                               THEN (1 << p) ELSE 0 END) AS INT) AS bucket
          FROM e, planes GROUP BY e.vec_id, e.v),
        probes AS (
          SELECT b.vec_id, b.v, unnest($maskList) AS bucket
          FROM bucketed b WHERE b.vec_id < 8),
        scored AS (
          SELECT DISTINCT q.vec_id AS probe_id, x.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.v, x.v), 6) AS cos_sim
          FROM probes q JOIN bucketed x
            ON x.bucket = q.bucket AND x.vec_id <> q.vec_id)
        SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                         ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
          FROM scored) t
        WHERE rnk <= $topK"""
  }

  /** q28 — ANN via multi-probe random-hyperplane LSH: 4 signed
    * projections → 16 buckets; each probe searches its own bucket plus
    * the 4 at Hamming distance 1, ranked by exact cosine. The hyperplanes
    * are hash-derived (md5(p,i) → uniform component), so the ENTIRE ANN
    * pipeline — planes, buckets, multi-probe, ranking — is reproducible
    * in the DuckDB oracle. Recall against q27's exact top-k is asserted
    * in QueriesSpec.
    *
    * At scale: bucketing is a narrow map; the within-bucket join shuffles
    * on the bucket id. More planes (sparser buckets) + multi-probe give
    * the recall/cost dial; the corpus-side bucket table can be written
    * once and reused across probe batches.
    */
  val annLsh = Q(
    "q28_ann_lsh",
    (s, d) => annPipeline(s, d, nPlanes = 4, radius = 1, topK = 5),
    Some(annOracle(nPlanes = 4, radius = 1, topK = 5))
  )

  /** q62 — the ANN recall/cost dial at its scale setting: 8 hyperplanes
    * (256 buckets — sparser, so within-bucket joins shrink ~16×) with
    * Hamming-2 multi-probe (1 + 8 + 28 = 37 probe buckets to win the
    * recall back). Same builder and oracle family as q28; recall vs the
    * exact q27 top-k is spec-asserted at BOTH settings in QueriesSpec.
    */
  val annLsh8 = Q(
    "q62_ann_lsh_hamming2",
    (s, d) => annPipeline(s, d, nPlanes = 8, radius = 2, topK = 5),
    Some(annOracle(nPlanes = 8, radius = 2, topK = 5))
  )

  /** q60 — q27's brute-force top-k re-aggregated through the bounded
    * `TopKAggregator` instead of a window rank: the window plan shuffles
    * EVERY scored candidate row to rank it; the aggregator keeps k
    * entries per (probe × map task) in the partial phase, so the shuffle
    * carries O(k · tasks) rows — at 100 TB that's the difference between
    * shuffling the corpus and shuffling the answer. Same oracle as q27.
    */
  val cosineTopKAgg = Q(
    "q60_cosine_topk_agg",
    (s, d) => {
      import s.implicits._
      val e = vectors(s, d)
      val probes = e.where(col("vec_id") < 8)
      val scored = broadcast(probes).as("q")
        .join(e.as("x"), col("x.vec_id") =!= col("q.vec_id"))
        .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("neighbor_id"),
          round(CosineSimilarity(col("q.v"), col("x.v")), 6).as("cos_sim"))
        .as[(Long, Long, Double)]
      scored.groupByKey(_._1)
        .mapValues { case (_, id, sc) => ScoredId(id, sc) }
        .agg(new TopKAggregator(10).toColumn.name("topk"))
        .flatMap { case (p, topk) =>
          topk.iterator.zipWithIndex.map { case (sid, i) =>
            (p, sid.id, sid.score, (i + 1).toLong)
          }
        }
        .toDF("probe_id", "neighbor_id", "cos_sim", "rnk")
    },
    cosineTopK.oracle // identical semantics to q27: same rows, same ranks
  )

  private val IvfCentroids = 8
  private val IvfNProbe = 2 // learned centroids need fewer probes than random ones
  private val IvfSampleMod = 7 // deterministic ~14% training sample for the Lloyd step

  /** q63 — ANN via an IVF (inverted-file) coarse quantizer with LEARNED
    * centroids, the other classic ANN family next to LSH (q28/q62).
    * Training is `IvfLloydSteps` deterministic Lloyd (k-means) steps on
    * ONE fixed-modulus sample (`vec_id % $IvfSampleMod`): each step
    * assigns the sample to the previous step's centroids and replaces
    * every non-empty cell's centroid with the element-wise mean of its
    * members folded in vec_id order — a strict fold, so the refined
    * centroids (and therefore every downstream argmax assignment) are
    * bit-identical in the DuckDB oracle, whose CTE chain unrolls the
    * same steps. Cells with no sample members carry the PREVIOUS step's
    * centroid forward. Extra steps rebalance cell boundaries toward the
    * data — assignment here is by max DOT (maximum inner product, the
    * quantity the probe ranking uses), so classic Lloyd SSE monotonicity
    * doesn't formally apply; the improvement is asserted EMPIRICALLY
    * instead (`IvfLloydSpec`: corpus cell-occupancy variance drops ~5×
    * and nprobe=2 recall rises 0.525 → 0.650 going 1 → 3 steps), which
    * is what lets nprobe stay at 2 without recall loss.
    *
    * Assignment stays ROW-LOCAL: the 8 current centroids are one array
    * row, broadcast via crossJoin, and each vector sorts an 8-element
    * struct array — no shuffle of the corpus, unlike a window
    * formulation which would shuffle 8× the corpus. No distinct on
    * the scored pairs: cells partition the corpus, and the two probed
    * cells are distinct, so a neighbor can only ever match once (the LSH
    * variants keep their distinct — multi-probe XOR masks can genuinely
    * duplicate there). At 100 TB the sample is a bounded reservoir
    * instead of a fixed rate — each extra Lloyd step re-aggregates only
    * the (tiny) sample, never the corpus, so step count is a pure
    * quality dial — and the cell-assigned corpus is written once as the
    * inverted file, partitioned by cell (q76).
    */
  private[graft] val IvfLloydSteps = 3

  /** One Lloyd step: assign the sample to the given centroid row, mean
    * per cell (vec_id-ordered fold), carry prior centroids for empty
    * cells, re-aggregate to ONE (cell-sorted) array row.
    */
  private def lloydStep(sample: DataFrame, cents: DataFrame): DataFrame = {
    val cells = array_sort(transform(col("cs"), sc =>
      struct((-SeqDot(col("v"), sc.getField("c"))).as("nd"),
        sc.getField("cell").as("j"))))
    val refined = sample.crossJoin(broadcast(cents))
      .withColumn("cell", element_at(cells, 1)("j"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("vs"))
      .select(col("cell"), expr(
        s"""transform(sequence(1, $Dim), i ->
            aggregate(vs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v[i-1])
            / size(vs))""").as("c1"))
    cents.select(explode(col("cs")).as("sc"))
      .select(col("sc")("cell").as("cell"), col("sc")("c").as("c0"))
      .join(refined, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("c1"), col("c0")).as("c"))
      .agg(array_sort(collect_list(struct(col("cell"), col("c")))).as("cs"))
  }

  /** The 8 learned centroids as ONE broadcast-able array row: seed
    * centroids → `steps` deterministic Lloyd steps over the fixed-
    * modulus sample. Non-finite vectors (NaN/Inf elements exist in the
    * corpus) are EXCLUDED from the sample on both engines: one NaN
    * member would poison its cell's mean, and a corpus-wide mixed
    * finite/NaN dot set is exactly where Spark's ascending `array_sort`
    * (NaN last) and the oracle's `ORDER BY dt DESC` (NaN first in
    * DuckDB) disagree — with only finite centroids, a vector's dots are
    * either all finite or all NaN, and both engines break all-NaN ties
    * identically by cell id. `steps` is exposed for `IvfLloydSpec`'s
    * 1-step-vs-k-step comparison; queries use `IvfLloydSteps`.
    *
    * NOTE (construction-time side effect): the bounded collect below
    * runs the full Lloyd chain as Spark jobs when the DataFrame is
    * BUILT, not when it is executed — so merely constructing a q63/q76
    * plan (PlanSpec's queryExecution inspection, dry-run tooling)
    * triggers those jobs. Accepted trade: it dedups the k-step build
    * across every consumer subtree and across q76's two actions.
    *
    * MEMOIZED per (dir, steps) — a TRAINING artifact, like q99's base
    * index: with five consumers (q63/q76/q109/q111/q114) the identical
    * deterministic chain would otherwise rebuild on every plan
    * construction in a long-lived JVM. The cache holds the collected
    * ROWS (session-independent plain data); each call re-wraps them in
    * the caller's session. First construction per JVM pays the build —
    * the production train-once/serve-many shape — and determinism makes
    * the cached rows bit-identical to a rebuild, so oracle parity is
    * untouched. Keyed by dir + dataset fingerprint (the artifactOnce
    * discipline), so an in-place dataset regeneration within one JVM
    * retrains instead of serving stale centroids.
    */
  private val centCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int), (java.util.List[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]

  /** Centroid count `k` is a PARAMETER of the Lloyd chain, not a build
    * constant: SemDeDup's within-cell loop (q117) is quadratic in cell
    * size, so at scale k must track the corpus (k ≈ n/⌀cell — the dial
    * the q117 scaladoc documents). Queries default to [[IvfCentroids]]
    * (the test-scale setting every oracle unrolls); `SemDedupSpec`
    * drives a second k to prove cells shrink and the survivor set
    * converges toward the unblocked ground truth.
    */
  private[graft] def ivfCents(s: SparkSession, d: String,
      steps: Int = IvfLloydSteps, k: Int = IvfCentroids,
      maxId: Long = Long.MaxValue): DataFrame = {
    import s.implicits._
    val cacheKey = s"$d@${graft.sources.Sources.dirFingerprint(d)}#$maxId"
    val (rows, schema) = centCache.getOrElseUpdate((cacheKey, steps, k), {
      val seeds = (0 until k)
        .map(j => (0 until Dim).map(i => hashUnit(s"c$j,$i")))
      val seedRow = seeds.zipWithIndex.map { case (c, j) => (j, c) }
        .toDF("cell", "c")
        .agg(array_sort(collect_list(struct(col("cell"), col("c")))).as("cs"))
      val sample = vectors(s, d)
        .where(col("vec_id") % IvfSampleMod === 0)
        .where(col("vec_id") < maxId) // q341: train on the base snapshot only
        .where(expr("NOT exists(v, x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))"))
      val chain = (1 to steps).foldLeft(seedRow)((c, _) => lloydStep(sample, c))
      // The centroid row is BOUNDED (8 cells × 64 dims of doubles):
      // materialize it ONCE and hand consumers a literal local relation.
      // Lazy, the k-step chain would re-execute per consumer — q63
      // mounts it in two subtrees (probe + corpus assignment) and q76
      // across two actions — multiplying k sample aggregations by the
      // consumer count. collect() → createDataFrame round-trips the
      // doubles bit-exactly (no string form), so argmax parity holds.
      (java.util.Arrays.asList(chain.collect(): _*), chain.schema)
    })
    s.createDataFrame(rows, schema)
  }

  /** Every corpus vector with its sorted probe-cell array (`cells`) from
    * the given centroid row. Shared by q63 (in-flight assignment) and
    * q76 (materialized inverted file).
    */
  private[graft] def ivfWithCells(s: SparkSession, d: String, cents: DataFrame): DataFrame =
    withCells(vectors(s, d), cents)

  /** Cell assignment of an arbitrary (vec_id, v) relation against a
    * centroid row — factored from ivfWithCells so q341 can assign a
    * DELTA slice without touching the rest of the corpus.
    */
  private[graft] def withCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // native SeqDot inside the transform lambda: the 8 per-vector dots
    // against the (data-driven) centroid array each run as one fused
    // scalar loop instead of an interpreted aggregate(zip_with(...))
    val cells = array_sort(transform(col("cs"), sc =>
      struct((-SeqDot(col("v"), sc.getField("c"))).as("nd"),
        sc.getField("cell").as("j"))))
    vecs.crossJoin(broadcast(cents))
      .withColumn("cells", cells)
      .drop("cs")
  }

  private[graft] def ivfProbes(ev: DataFrame): DataFrame =
    ev.where(col("vec_id") < 8)
      .select(col("vec_id"), col("v"),
        explode(slice(col("cells"), 1, IvfNProbe)).as("sc"))
      .select(col("vec_id"), col("v"), col("sc")("j").as("cell"))

  private[graft] def ivfRank(probes: DataFrame, corpus: DataFrame): DataFrame = {
    val scored = broadcast(probes).as("q")
      .join(corpus.as("x"),
        col("x.cell") === col("q.cell") && col("x.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("neighbor_id"),
        round(CosineSimilarity(col("q.v"), col("x.v")), 6).as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= 5)
  }

  /** The q63/q76/q109 oracle CTE prefix, with the Lloyd chain UNROLLED
    * to `steps` CTEs — each step's `cent{t}` is the coalesced
    * (refined | carried) centroid table computed from `cent{t-1}`,
    * mirroring `lloydStep` exactly — ending at `assigned` (the
    * cell-assigned corpus) and `probes` (each probe's `IvfNProbe`
    * cells). Shared so the blocked-matryoshka composition (q109) can
    * never drift from q63's cell assignment.
    */
  private def ivfOracleCtes(steps: Int, sampExtra: String = ""): String = {
    val stepCtes = (1 to steps).map { t =>
      s"""sdots$t AS (
              SELECT s.vec_id, s.v, c.j,
                     list_aggregate(list_transform(generate_series(1, $Dim),
                       i -> s.v[i] * c.c[i]), 'sum') AS dt
              FROM samp s, cent${t - 1} c),
            sass$t AS (
              SELECT vec_id, v, j AS cell FROM (
                SELECT vec_id, v, j,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dt DESC, j ASC) AS r
                FROM sdots$t) q
              WHERE r = 1),
            grp$t AS (SELECT cell, list(v ORDER BY vec_id) AS vs
                      FROM sass$t GROUP BY cell),
            ref$t AS (
              SELECT cell, list_transform(generate_series(1, $Dim), i ->
                       list_aggregate(list_transform(vs, x -> x[i]), 'sum') / len(vs)) AS c1
              FROM grp$t),
            cent$t AS (
              SELECT p.j, coalesce(r.c1, p.c) AS c
              FROM cent${t - 1} p LEFT JOIN ref$t r ON r.cell = p.j)"""
    }.mkString(",\n            ")
    s"""WITH cent0 AS (
              SELECT j, list_transform(generate_series(0, ${Dim - 1}),
                       i -> (('0x' || substr(md5(concat('c', j, ',', i)), 1, 8))::BIGINT
                             / 4294967296.0) - 0.5) AS c
              FROM (SELECT unnest(generate_series(0, ${IvfCentroids - 1})) AS j) js),
            e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            samp AS (SELECT vec_id, v FROM e
                     WHERE vec_id % $IvfSampleMod = 0
                       AND len(list_filter(v, x -> isnan(x) OR isinf(x))) = 0
                       $sampExtra),
            $stepCtes,
            dots AS (
              SELECT e.vec_id, e.v, c.j,
                     list_aggregate(list_transform(generate_series(1, $Dim),
                       i -> e.v[i] * c.c[i]), 'sum') AS dt
              FROM e, cent$steps c),
            ranked AS (
              SELECT vec_id, v, j,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dt DESC, j ASC) AS r
              FROM dots),
            assigned AS (SELECT vec_id, v, j AS cell FROM ranked WHERE r = 1),
            probes AS (SELECT vec_id, v, j AS cell FROM ranked
                       WHERE r <= $IvfNProbe AND vec_id < 8)"""
  }

  private def ivfOracle(steps: Int, sampExtra: String = ""): String =
    s"""${ivfOracleCtes(steps, sampExtra)},
            scored AS (
              SELECT q.vec_id AS probe_id, x.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, x.v), 6) AS cos_sim
              FROM probes q JOIN assigned x
                ON x.cell = q.cell AND x.vec_id <> q.vec_id)
            SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                             ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
              FROM scored) t
            WHERE rnk <= 5"""

  val annIvf = Q(
    "q63_ann_ivf",
    (s, d) => {
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val e = ev.select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
      ivfRank(ivfProbes(ev), e)
    },
    Some(ivfOracle(IvfLloydSteps))
  )

  /** q76 — the MATERIALIZED inverted file: the cell-assigned corpus is
    * written ONCE as parquet partitioned by cell (`cell=N/` directories —
    * the on-disk inverted file), then read back and probed. The probe
    * join is on the partition column, so Spark's dynamic partition
    * pruning (runtime subquery over the broadcast probe side) prunes the
    * scan to the probed cells' directories — at 100 TB this is the
    * difference between re-scanning the corpus per probe batch and
    * reading `nprobe/k` of it; the index is built once and amortized
    * across probe batches (q63 recomputes assignment in-flight every
    * run). PlanSpec asserts the pruning lands in the scan's
    * PartitionFilters. Same oracle as q63: materialization must not
    * change a single row.
    */
  val annIvfFile = Q(
    "q76_ann_ivf_file",
    (s, d) => {
      // ivfCents already returns a materialized literal local relation
      // (see its scaladoc), so the Lloyd build runs once even though the
      // write and the probe ranking are two separate ACTIONS — and
      // unlike persist(), nothing is left in the cache to leak across
      // benchmark reruns in one JVM
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val inv = graft.sources.Sources.write(
        ev.select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell")),
        graft.sources.Sources.scratchLeaf(d, "ivf_inverted_file"), "cell").read(s)
      ivfRank(ivfProbes(ev), inv)
    },
    annIvf.oracle // identical semantics: the inverted file is q63, materialized
  )

  /** The delta cut for q341: the newest ~10% of vec_ids. Integer
    * arithmetic ((max·9) div 10) so both engines compute the identical
    * boundary; reading max(vec_id) is a parquet-footer aggregate —
    * MEMOIZED per (dir, fingerprint) like the centroid/codebook
    * training artifacts (optimization r17): every lifecycle query and
    * every bench rep re-derived the same corpus constant as its own
    * Spark job (~10 store builds × reps per bench), and the value is a
    * pure function of the immutable snapshot.
    */
  private val maxIdCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private[graft] def maxVecId(s: SparkSession, d: String): Long =
    maxIdCache.getOrElseUpdate(
      s"$d@${graft.sources.Sources.dirFingerprint(d)}",
      vectors(s, d).agg(max(col("vec_id"))).collect()(0).getLong(0))

  private[graft] def deltaCut(s: SparkSession, d: String): Long =
    maxVecId(s, d) * 9 / 10

  /** The cell assignment of one side of the q341 cut against the BASE-
    * trained centroids — factored so `IvfDeltaSpec` can plan-gate that
    * the append path's scan carries the delta range predicate.
    */
  private[graft] def deltaAssign(s: SparkSession, d: String, d0: Long,
      delta: Boolean): DataFrame = {
    val side = if (delta) col("vec_id") >= d0 else col("vec_id") < d0
    withCells(vectors(s, d).where(side), ivfCents(s, d, maxId = d0))
      .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
  }

  /** A serving tier of the ANN store lifecycle (q341-q353): full-
    * precision IVF rows or PQ codes. `tag` keys the tier's artifacts and
    * scratch dirs; `encode(s, d, d0, rows)` turns cell-assigned
    * (vec_id, v, cell) rows into what the store lands, against
    * quantizers trained below `d0`; `schema` is what a store file holds
    * (vec_id and the value column; `cell` is the dir name), handed to
    * every store read so none infers it; `probes(s, d, maxId)` is the 8-probe set (one row per
    * probed cell) against quantizers trained below `maxId`; and
    * `rank(s, d, probes, store)` is the top-5 search over a store
    * relation.
    */
  private[graft] final case class ServeTier(tag: String, schema: StructType,
      encode: (SparkSession, String, Long, DataFrame) => DataFrame,
      probes: (SparkSession, String, Long) => DataFrame,
      rank: (SparkSession, String, DataFrame, DataFrame) => DataFrame)

  /** Vectors land verbatim; exact cosine over the probed cells. */
  private[graft] val IvfTier: ServeTier = ServeTier("ivf",
    StructType(Seq(StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType)))),
    (_, _, _, rows) => rows,
    (s, d, maxId) => ivfProbes(withCells(
      vectors(s, d).where(col("vec_id") < 8), ivfCents(s, d, maxId = maxId))),
    (_, _, probes, store) => ivfRank(probes, store))

  /** Every landed slice PQ-encoded against the codebooks frozen at the
    * cut — the store holds (vec_id, codes, cell), never a float vector,
    * and the row-local encode keeps each append O(wave). Each probe row
    * carries its 8×8 ADC lookup table; the search is q111's ADC scan,
    * candidate cut and exact rerank against the base vectors.
    */
  private[graft] val PqTier: ServeTier = ServeTier("pq",
    StructType(Seq(StructField("vec_id", LongType), StructField("codes", ArrayType(IntegerType)))),
    (s, d, d0, rows) => pqEncode(rows, pqBooksRow(pqBooks(s, d, maxId = d0))),
    (s, d, maxId) => pqProbesLut(IvfTier.probes(s, d, maxId),
      pqBooksRow(pqBooks(s, d, maxId = maxId))),
    (s, d, probes, store) => pqAdcRank(probes, store, vectors(s, d)))

  /** The immutable base store of a tier (the base slice assigned with
    * the base-trained centroids, encoded, cell-partitioned) — a
    * per-corpus-snapshot artifact shared by the append (q341/q349),
    * compaction and serving stages: they all operate on the SAME stored
    * base, as they would in a deployment.
    */
  private[graft] def baseStore(s: SparkSession, d: String, d0: Long,
      tier: ServeTier): String =
    // d0 folded into the artifact key (ADVICE r15): two callers with
    // different cuts must build two artifacts, not silently share the
    // first caller's — the invariant is structural, not call-site luck
    graft.sources.Sources.artifactOnce(d, s"${tier.tag}_delta_base_$d0") { p =>
      graft.sources.Sources.write(
        tier.encode(s, d, d0, deltaAssign(s, d, d0, delta = false)), p, "cell").path
    }

  /** The q341/q349 body: land the delta slice, encoded by the tier, as a
    * cell-partitioned increment beside the tier's immutable base, then
    * search base + increment. The increment dir is run-unique: bench
    * reps must re-measure the append, not accumulate duplicates into a
    * shared store.
    */
  private def deltaAppend(s: SparkSession, d: String, tier: ServeTier): DataFrame = {
    val d0 = deltaCut(s, d)
    val base = baseStore(s, d, d0, tier)
    val inc = graft.sources.Sources.write(
      tier.encode(s, d, d0, deltaAssign(s, d, d0, delta = true)),
      graft.sources.Sources.scratchLeaf(d,
        s"${tier.tag}_delta_inc_${java.util.UUID.randomUUID().toString.take(8)}"), "cell").path
    tier.rank(s, d, tier.probes(s, d, d0),
      readComponent(s, base, tier.schema).unionByName(readComponent(s, inc, tier.schema)))
  }

  /** q341 — INCREMENTAL ANN INDEX MAINTENANCE (round-14 verdict task 4):
    * a delta vector batch is appended into the q76-style cell-partitioned
    * serving store using the STORED centroids — no retrain — and the
    * probe reads base + increment as one index. This was the last store
    * in the repo that had to be rebuilt from scratch per batch; it now
    * follows the q99/q129/q300 increment-vs-rebuild discipline.
    *
    * Shape: centroids are trained ONCE on the base snapshot (the newest
    * ~10% of vec_ids play the arriving delta), the base inverted file is
    * a per-corpus-snapshot artifact (`artifactOnce`), and the recurring
    * operation — the one the bench measures — is `O(delta + probe)`:
    * assign ONLY the delta against the stored centroid row (the range
    * predicate pushes into the parquet scan — `IvfDeltaSpec` plan-gates
    * it) and land it as a cell-partitioned increment beside the base
    * (q99's increment-files discipline: appends never rewrite the
    * immutable base; a real deployment compacts increments on a slow
    * cadence, and q318's distortion audit is the retrain trigger when
    * the delta drifts off the stored codebook). The DuckDB oracle
    * rebuilds from scratch — trains the same Lloyd chain on the base
    * sample, assigns the WHOLE corpus, probes — so hash equality IS the
    * proof that append-then-probe ≡ rebuild-then-probe; `IvfDeltaSpec`
    * additionally proves it in-engine against a fresh full rebuild.
    */
  val annIndexDelta = Q(
    "q341_ann_index_delta",
    (s, d) => deltaAppend(s, d, IvfTier),
    Some(ivfOracle(IvfLloydSteps,
      "AND vec_id < (SELECT (max(vec_id) * 9) // 10 FROM embeddings)"))
  )

  /** Per-cell increment-compaction trigger, as a ratio in integer form
    * (compact cell j iff `Den·incRows(j) ≥ Num·totalRows(j)`, i.e.
    * fraction ≥ 1/10 — no float boundary): q170 compacts tombstones at
    * 0.75 because a tombstone's cost is rows re-filtered per read, but
    * an ANN increment's cost is FILES re-opened and merged per probe
    * (read amplification), so real inverted-file maintenance compacts at
    * low single-digit percentages of accumulated delta. 1/10 sits at the
    * fixture's natural increment fraction (the delta is ~10% of vec_ids,
    * spread data-dependently across cells), so both regimes — compacted
    * and carried-by-reference — are non-empty at every test SF
    * (measured: 6/2 at sf0.001, 3/5 at sf0.01, 6/2 at sf0.1).
    */
  private[graft] val IvfIncCompactNum = 1
  private[graft] val IvfIncCompactDen = 10

  /** One wave of arriving vectors, `[lo, hi)` by vec_id, assigned
    * against the base-trained centroid row — q341's deltaAssign
    * generalized to a range so q343 can land MULTIPLE increments before
    * the compaction decision. The range predicate pushes into the
    * parquet scan (plan-gated in `IvfCompactSpec`), so each append is
    * O(wave), never O(corpus).
    */
  private[graft] def waveAssign(s: SparkSession, d: String, d0: Long,
      lo: Long, hi: Long): DataFrame =
    withCells(vectors(s, d).where(col("vec_id") >= lo && col("vec_id") < hi),
      ivfCents(s, d, maxId = d0))
      .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))

  /** The q343 store handle: manifest-versioned views of the inverted
    * file across the compaction boundary. `v3` is the pre-compaction
    * view (base + two increments), `v4` the post-compaction view;
    * `compacted` is the measured per-cell decision. Exposed so
    * `IvfCompactSpec` can pin the file economics the oracle can't see.
    */
  private[graft] final case class IvfCompactStore(
      root: String, d0: Long, dMid: Long, compactDir: String,
      v3: Map[Long, Seq[String]], v4: Map[Long, Seq[String]],
      compacted: Set[Long])

  /** q343's full store lifecycle — base, two increment appends, the
    * per-cell compaction decision, the compaction commit — returning
    * the handle. Run-unique root: bench reps re-measure the maintenance
    * operation, not a cached store.
    *
    * Commit protocol (q143's manifest-versioning discipline): every
    * reader resolves (version → cell → live dirs) through the persisted
    * manifest, and the v4 row set is written only AFTER the compacted
    * cell files are fully on disk — a probe pinned to v3 keeps reading
    * the old dirs (which compaction never mutates), a probe opening v4
    * sees only complete files, and no reader can observe a
    * half-compacted store. Retired increments stay on disk until a
    * vacuum pass (q168's discipline) collects unreferenced dirs; the
    * manifest — not the filesystem — defines liveness.
    */
  /** The store as of version 3 — base plus two uncompacted increments —
    * with everything the compaction commit (and q346's mid-serve commit)
    * needs. `base` points either at the shared per-corpus artifact
    * (q343: cheap, immutable, outside any vacuum's domain) or at a copy
    * under the run root (`privateBase`, q345: the manifest then OWNS
    * every dir it references, which is what makes a vacuum of the root
    * safe and complete).
    */
  private[graft] final case class IvfStoreV3(
      root: String, d0: Long, dMid: Long, base: String,
      incA: String, incB: String, compactDir: String,
      cells: Seq[Long], v3: Map[Long, Seq[String]], tier: ServeTier)

  /** The v3 store builder: base + two increment waves, each slice
    * encoded by the tier before landing (the float store lands rows
    * verbatim; the PQ store encodes them), then one atomic manifest
    * commit of versions 1..3.
    */
  private[graft] def buildStoreV3(s: SparkSession, d: String, tier: ServeTier,
      privateBase: Boolean = false): IvfStoreV3 = {
    val mx = maxVecId(s, d)
    val d0 = mx * 9 / 10
    val dMid = (d0 + mx + 1) / 2
    val root = graft.sources.Sources.scratchLeaf(d,
      s"${tier.tag}_compact_${java.util.UUID.randomUUID().toString.take(8)}")
    // Byte-copy a shared per-corpus artifact under the run root. Scale
    // boundary: FileUtil.copy is SINGLE-THREADED DRIVER I/O — right for
    // this fixture slice (a few MB), but at deployment scale the real
    // design is manifest/reference sharing (never copying bytes) or a
    // distcp-style parallel copy; do not scale this call.
    def copyUnderRoot(shared: String, dest: String): String = {
      val fs = StoreManifest.hfs(s, dest)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(shared),
        fs, new org.apache.hadoop.fs.Path(dest),
        false, s.sparkContext.hadoopConfiguration)
      dest
    }
    val base =
      if (privateBase) {
        // A private base is the SAME deterministic content as the shared
        // per-corpus artifact — the run must merely OWN its copy so the
        // vacuum can retire dirs under the root (q345/q351). Build the
        // shared artifact once per JVM (train-once discipline) and
        // byte-copy it under the root (bounded file I/O), instead of
        // re-running the assignment/encode Spark job per store build —
        // each bench rep of the vacuum fixtures re-paid that job for a
        // result that is bit-identical by construction (optimization
        // r17, guide §1.2: don't recompute what is already stored).
        copyUnderRoot(baseStore(s, d, d0, tier), s"$root/base")
      } else baseStore(s, d, d0, tier)
    val incA = s"$root/inc_a"; val incB = s"$root/inc_b"
    val compactDir = s"$root/compact"
    // The two increment waves are deterministic corpus slices encoded
    // against the base-frozen centroids/codebooks — bit-identical on
    // every build by construction, exactly like the base. Build each
    // ONCE per (corpus, tag, cut) as a shared artifact and byte-copy it
    // under the run root (the manifests reference run-root dirs, and
    // the vacuum fixtures must own what they retire), instead of
    // re-running the assign/encode Spark jobs on every store build of
    // every rep (optimization r18, guide §1.2 — the r17 private-base
    // discipline extended to the increments). q341 keeps the real
    // append measurement: the increment APPEND is that fixture's
    // operator; here the increments are setup for the compaction /
    // vacuum / live-serve operators this family measures.
    def landWave(sub: String, lo: Long, hi: Long, dest: String): Unit = {
      val shared = graft.sources.Sources.artifactOnce(
        d, s"${tier.tag}_inc_${sub}_${d0}_$dMid") { p =>
        graft.sources.Sources.write(
          tier.encode(s, d, d0, waveAssign(s, d, d0, lo, hi)), p, "cell").path
      }
      copyUnderRoot(shared, dest)
    }
    landWave("a", d0, dMid, incA)
    landWave("b", dMid, Long.MaxValue, incB)
    val baseDirs = cellDirs(s, base); val aDirs = cellDirs(s, incA); val bDirs = cellDirs(s, incB)
    val cells = (baseDirs.keySet ++ aDirs.keySet ++ bDirs.keySet).toSeq.sorted
    // each cell's live-dir list kept lexicographically sorted so the
    // handle and StoreManifest.asOf (which re-sorts on resolve) agree
    val v3 = cells.map(j =>
      j -> (baseDirs.get(j).toSeq ++ aDirs.get(j).toSeq ++ bDirs.get(j).toSeq).sorted).toMap
    // versions 1..3 (base, +incA, +incB) in one metadata commit — a
    // deployment commits each append as it lands; the boundary that
    // matters for reader isolation is v3 → v4 below. The commit is one
    // StoreManifest generation publish: atomic marker create, never a
    // readable-in-between manifest state.
    val upTo3 =
      // .get(j).toSeq (ADVICE r15): a cell populated only by delta
      // vectors has no base dir — its v1 entry is simply empty
      cells.map(j => (1L, j, baseDirs.get(j).toSeq)) ++
        cells.map(j => (2L, j, baseDirs.get(j).toSeq ++ aDirs.get(j).toSeq)) ++
        cells.map(j => (3L, j, v3(j)))
    StoreManifest.commit(s, root)(_ =>
      upTo3.flatMap { case (v, j, ps) => ps.map(p => (v, j, p)) })
    IvfStoreV3(root, d0, dMid, base, incA, incB, compactDir, cells, v3, tier)
  }

  /** The v3 → v4 compaction commit over a built store — factored from
    * [[compactStore]] so q346/q353 can fire it BETWEEN serving micro-batches
    * (a live commit under a running reader loop).
    */
  private[graft] def commitCompaction(s: SparkSession, st: IvfStoreV3): IvfCompactStore = {
    import st._
    // the compaction DECISION: ONE bounded metadata aggregate over the
    // three store components tagged base/increment (grouped on the
    // partition column only — parquet-footer counts, never a corpus
    // scan; ≤ 2·cells result rows), then integer-ratio per-cell triggers
    val cnt = Seq(base -> "b", incA -> "i", incB -> "i")
      .map { case (comp, tag) =>
        readComponent(s, comp, tier.schema).select(col("cell"), lit(tag).as("t"))
      }.reduce(_ unionByName _)
      .groupBy("cell", "t").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val compacted = cells.filter { j =>
      val inc = cnt.getOrElse((j, "i"), 0L)
      val total = cnt.getOrElse((j, "b"), 0L) + inc
      IvfIncCompactDen * inc >= IvfIncCompactNum * total
    }.toSet
    // the compaction COMMIT: rewrite ONLY the triggered cells (the scan
    // below prunes to them on the partition column), one new file set
    // per cell, then publish v4 — untouched cells are carried by
    // REFERENCE (their v3 paths verbatim), so compaction cost is
    // proportional to the triggered cells, not the store
    // empty-trigger guard (ADVICE r15): when NO cell crosses the
    // threshold (a shrinking or skewed delta), the commit is a no-op —
    // v4 republishes v3's paths verbatim and nothing is rewritten
    val cDirs =
      if (compacted.isEmpty) Map.empty[Long, String]
      else {
        graft.sources.Sources.write(
          readStore(s, v3.filter(kv => compacted(kv._1)), tier.schema), compactDir, "cell")
        cellDirs(s, compactDir)
      }
    val v4 = cells.map(j =>
      j -> (if (compacted(j)) Seq(cDirs(j)) else v3(j))).toMap
    // the new version number is computed INSIDE the CAS against the
    // manifest head (round-16 verdict task 3): a second committer racing
    // this one gets the NEXT version, never a duplicate of this one —
    // ManifestCasSpec races two appendVersion writers and pins it
    StoreManifest.appendVersion(s, root)(nv =>
      v4.toSeq.flatMap { case (j, ps) => ps.map(p => (nv, j, p)) })
    IvfCompactStore(root, d0, dMid, compactDir, v3, v4, compacted)
  }

  private[graft] def compactStore(s: SparkSession, d: String, tier: ServeTier,
      privateBase: Boolean = false): IvfCompactStore =
    commitCompaction(s, buildStoreV3(s, d, tier, privateBase))

  /** The probe set searched through one pinned manifest version of a
    * built store, tagged by `phase` — the read path of q343/q345 and
    * their code-store twins q350/q351.
    */
  private def servePinned(s: SparkSession, d: String, tier: ServeTier,
      st: IvfCompactStore)(v: Long, phase: String): DataFrame =
    tier.rank(s, d, tier.probes(s, d, st.d0),
      readStore(s, StoreManifest.asOf(s, st.root, v), tier.schema))
      .withColumn("phase", lit(phase))

  /** The q343/q350 body: build and compact a store, then serve the
    * probe set through v3 and v4.
    */
  private def compactServe(s: SparkSession, d: String, tier: ServeTier): DataFrame = {
    val serve = servePinned(s, d, tier, compactStore(s, d, tier)) _
    serve(3L, "pre").unionByName(serve(4L, "post"))
  }

  /** q343 — ANN INCREMENT COMPACTION (round-14 verdict task 2), the
    * lifecycle half q341's scaladoc deferred: increments accumulate
    * against the immutable base until a cell's increment fraction
    * crosses [[IvfIncCompactNum]]/[[IvfIncCompactDen]], then that cell —
    * and only that cell — is rewritten into a new base file and its
    * increments retired from the manifest, exactly q170's
    * threshold-compaction decision applied to the inverted file, with
    * q143's manifest versioning isolating readers from the rewrite.
    *
    * Output: the SAME probe set served through the pre-compaction
    * manifest (v3: base + 2 increments) and the post-compaction manifest
    * (v4: mixed rewritten/shared cells), tagged by phase. The oracle
    * computes the rebuild-from-scratch result ONCE and emits it under
    * both tags — so the hash gate IS the probe-invariance proof across
    * the compaction boundary: compaction changed the file layout and
    * nothing else. `IvfCompactSpec` pins the file economics the result
    * can't show (increments gone from v4, triggered cells rewritten
    * once, untouched cells shared by reference).
    */
  val annIndexCompact = Q(
    "q343_ann_index_compact",
    (s, d) => compactServe(s, d, IvfTier),
    Some(s"""${ivfOracleCtes(IvfLloydSteps,
        "AND vec_id < (SELECT (max(vec_id) * 9) // 10 FROM embeddings)")},
            scored AS (
              SELECT q.vec_id AS probe_id, x.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, x.v), 6) AS cos_sim
              FROM probes q JOIN assigned x
                ON x.cell = q.cell AND x.vec_id <> q.vec_id),
            res AS (
              SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
                FROM scored) t
              WHERE rnk <= 5)
            SELECT ph.phase, res.probe_id, res.neighbor_id, res.cos_sim, res.rnk
            FROM (VALUES ('pre'), ('post')) ph(phase) CROSS JOIN res""")
  )

  /** The q345/q351 body: build a store that owns its base, compact it,
    * serve v4 and materialize that result, vacuum at retention floor v4,
    * and serve v4 again.
    */
  private def vacuumServe(s: SparkSession, d: String, tier: ServeTier): DataFrame = {
    val st = compactStore(s, d, tier, privateBase = true)
    val serve = servePinned(s, d, tier, st) _
    val preDf = serve(4L, "pre")
    val preRows = preDf.collect() // bounded: probes × top-5
    val rep = vacuumStore(s, st.root, keepFrom = 4L)
    require(rep.deleted.nonEmpty,
      "vacuum retired nothing — fixture dead (no cell compacted?)")
    s.createDataFrame(java.util.Arrays.asList(preRows: _*), preDf.schema)
      .unionByName(serve(4L, "post"))
  }

  /** q345 — ANN STORE VACUUM (round-15 verdict task 3), the lifecycle
    * stage q343's scaladoc deferred: after the v4 compaction commit,
    * the retired increments (and, on a store that owns its base, the
    * retired base dirs of compacted cells) still sit on disk — a real
    * serving tier leaks files without a GC pass. The query builds a
    * `privateBase` store (the manifest owns every dir under the root),
    * commits the compaction, serves the probe set through the live v4
    * manifest, MATERIALIZES that result, runs the vacuum at retention
    * floor v4, and serves again — the tags mark real before/after
    * reads, not two lazy views of the same files. The oracle (q343's:
    * the rebuild emitted under both tags) hashes pre ≡ post ≡ rebuild,
    * so the gate IS the proof that a vacuum is invisible to live
    * readers; `IvfVacuumSpec` pins the file economics the result can't
    * show (retired dirs actually deleted, v4 dirs untouched, below-
    * floor manifest rows pruned, shared-base stores structurally safe).
    */
  val annStoreVacuum = Q(
    "q345_ann_store_vacuum",
    (s, d) => vacuumServe(s, d, IvfTier),
    annIndexCompact.oracle // same semantics: vacuum must change nothing a reader sees
  )

  /** The one ANN serving loop — q344 and q347 over a static store,
    * q346/q353 across a live compaction commit, q348 across a live
    * vacuum: per-trigger probing of a stored index, the shape of *Time
    * Series Similarity Search for Streaming Data in Distributed Systems*
    * (EDBT 2019).
    *
    * The probe set is staged as `nFiles` files repartitioned by
    * `vec_id`: both of a probe's `IvfNProbe` cell rows must ride in the
    * same micro-batch, or its per-batch top-5 would rank over half its
    * candidates. The staged files' modification times are then set in
    * part order, so every call drains the same batches in the same order
    * (the file source orders by modification time, and parallel writers
    * finish in any order); the stream reads one file per trigger
    * (`maxFilesPerTrigger=1`) through `StreamFixture.drain(s)`.
    *
    * Each trigger runs ONE bounded `collect()` of its batch — at most
    * probes × `IvfNProbe` rows — and derives from it emptiness (empty
    * batches are skipped), the probed-cell set and a local probe
    * relation (the probe side is broadcast anyway), so no further job
    * re-reads the batch files. `step(session, probes, cells, batchId)`
    * returns the served rows, appended to the sink, and a tag for the
    * `(batchId, tag)` trail. `afterFirst` runs once, after the first
    * served batch: q346/q353's compaction commit or q348's vacuum, so
    * later batches open what it published. Returns the sink and the
    * trail in batch order.
    */
  private def serveLoop(s: SparkSession, d: String, name: String, nFiles: Int,
      probes: DataFrame, afterFirst: SparkSession => Unit = _ => ())(
      step: (SparkSession, DataFrame, Set[Long], Long) => (DataFrame, Long))
      : (DataFrame, Seq[(Long, Long)]) = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def leaf(kind: String) = graft.sources.Sources.scratchLeaf(d, s"${name}_${kind}_$runId")
    val src = leaf("src"); val sink = leaf("out")
    val staged = graft.sources.Sources.write(probes.repartition(nFiles, col("vec_id")), src)
    val fs = StoreManifest.hfs(s, src)
    val t0 = System.currentTimeMillis()
    fs.listStatus(new org.apache.hadoop.fs.Path(src)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).zipWithIndex
      .foreach { case (p, i) => fs.setTimes(p, t0 + i, -1L) }
    val trail = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val outSchema = new java.util.concurrent.atomic.AtomicReference[StructType]
    val serve: (Dataset[Row], Long) => Unit = (batch, batchId) => {
      val rows = batch.collect()
      if (rows.nonEmpty) {
        val ss = batch.sparkSession
        val local = ss.createDataFrame(java.util.Arrays.asList(rows: _*), batch.schema)
        val cells = rows.map(_.getAs[Number]("cell").longValue).toSet
        val (out, tag) = step(ss, local, cells, batchId)
        out.write.mode(SaveMode.Append).parquet(sink)
        outSchema.compareAndSet(null, out.schema)
        trail.add((batchId, tag))
        if (trail.size == 1) afterFirst(ss)
      }
    }
    // the staged files and the sink hold the probes' and the step's
    // schemas, so neither read infers one
    StreamFixture.drain(s)(
      s.readStream.schema(staged.schema).option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.foreachBatch(serve).option("checkpointLocation", leaf("chk")))
    require(nFiles < 2 || trail.size >= 2,
      s"expected multiple serving micro-batches, got ${trail.size}")
    require(outSchema.get != null, "the serving loop served no micro-batch")
    import scala.jdk.CollectionConverters._
    (s.read.schema(outSchema.get).parquet(sink), trail.asScala.toSeq.sortBy(_._1))
  }

  /** One serving step against a static store: a probe micro-batch
    * ranked by the tier over the union of the store `paths`, with the
    * scan PRUNED to the batch's probed `cells` — the router step of an
    * ANN serving tier. The `isInCollection` predicate on the partition
    * column lands in the scan's PartitionFilters (`AnnServeSpec` and
    * `AnnPqServeSpec` plan-gate it), so each micro-batch reads
    * `nprobe/k` of the index, never the whole store — at 100 TB the
    * difference between a serving tier and a rescan. Each store reads
    * with the tier's schema, so no micro-batch starts an inference job.
    */
  private[graft] def serveBatch(s: SparkSession, d: String, tier: ServeTier,
      probes: DataFrame, paths: Seq[String], cells: Iterable[Long]): DataFrame =
    tier.rank(s, d, probes,
      paths.map(readComponent(s, _, tier.schema)).reduce(_ unionByName _)
        .where(col("cell").isInCollection(cells)))

  /** q344's serving: the probe set against the stored float inverted
    * file (base + increment, both per-corpus-snapshot artifacts).
    * Returns the served rows and the number of served micro-batches.
    */
  private[graft] def streamServe(s: SparkSession, d: String,
      nFiles: Int): (DataFrame, Long) = {
    val d0 = deltaCut(s, d)
    val base = baseStore(s, d, d0, IvfTier)
    val inc = graft.sources.Sources.artifactOnce(d, "ivf_inc_shared") { p =>
      graft.sources.Sources.write(deltaAssign(s, d, d0, delta = true), p, "cell").path
    }
    val (res, trail) = serveLoop(s, d, "ivf_serve", nFiles, IvfTier.probes(s, d, d0)) {
      (ss, local, cells, _) => (serveBatch(ss, d, IvfTier, local, Seq(base, inc), cells), 0L)
    }
    (res, trail.size.toLong)
  }

  /** q344 — STREAMING ANN SERVING (round-14 verdict task 3), the
    * consumer of the q341-maintained index: probe requests arrive as a
    * stream and are scored per micro-batch against the STORED
    * cell-partitioned inverted file (base + increment, both per-corpus-
    * snapshot artifacts — the serving tier never rebuilds what the
    * maintenance path owns), with each micro-batch's store scan pruned
    * to that batch's probed cells (q138's per-batch static re-planning
    * + q76's partition-column probe, composed via `foreachBatch`). The
    * probe stream is forced through MULTIPLE micro-batches (one staged
    * file per trigger, `require`d ≥ 2), and the DuckDB oracle is the
    * BATCH probe over the same probe set — hash equality proves the
    * streamed, batch-pruned serving path emits exactly what one batch
    * probe over the full store would. `AnnServeSpec` pins what the hash
    * can't: the per-batch scans are partition-pruned, the result is
    * batching-layout invariant, and appended vectors are serving-visible.
    */
  val annStreamServe = Q(
    "q344_ann_stream_serve",
    (s, d) => streamServe(s, d, nFiles = 4)._1,
    Some(ivfOracle(IvfLloydSteps,
      "AND vec_id < (SELECT (max(vec_id) * 9) // 10 FROM embeddings)"))
  )

  /** A batch's probes ranked against the probed cells' live dirs of
    * one resolved manifest view — the manifest IS the partition-level
    * prune, so unprobed cells contribute no scan at all. Empty-filter
    * guard (ADVICE r16): a batch whose probed cells are all absent from
    * the manifest (a centroid cell with zero assigned vectors) must not
    * reduce over an empty scan list, so it falls back to the full map
    * (the join still scores only the probed cells).
    */
  private def serveView(s: SparkSession, d: String, tier: ServeTier, probes: DataFrame,
      cells: Set[Long], m: Map[Long, Seq[String]]): DataFrame = {
    val probed = m.filter(kv => cells(kv._1))
    tier.rank(s, d, probes, readStore(s, if (probed.isEmpty) m else probed, tier.schema))
  }

  /** q346/q353's serving loop ACROSS a live compaction commit (round-15
    * verdict task 4): micro-batch serving over a v3 store of the tier
    * while the v3 → v4 commit fires MID-STREAM, after the first served
    * batch, inside the same driver loop — so later batches open a
    * different manifest version than earlier ones. Every batch resolves
    * the LIVE manifest head at its start (one snapshot read resolves
    * version + cell map together; a version pinned at stream start would
    * never see the commit), mounts ONLY its probed cells' live dirs from
    * that version, and records the version it served. Returns the served
    * rows (tagged per batch with batch id, resolved version and store
    * root, for the specs' per-version replay) plus the (batchId,
    * version) trail.
    */
  private[graft] def streamServeLive(s: SparkSession, d: String, tier: ServeTier,
      nFiles: Int): (DataFrame, Seq[(Long, Long)]) = {
    val st3 = buildStoreV3(s, d, tier)
    val (res, trail) = serveLoop(s, d, s"${tier.tag}_live", nFiles,
        tier.probes(s, d, st3.d0), ss => { commitCompaction(ss, st3); () }) {
      (ss, local, cells, batchId) =>
        val (v, m) = StoreManifest.headVersion(ss, st3.root)
        (serveView(ss, d, tier, local, cells, m).withColumn("batch_id", lit(batchId))
          .withColumn("version", lit(v)).withColumn("store_root", lit(st3.root)), v)
    }
    val vs = trail.map(_._2).toSet
    require(vs == Set(3L, 4L), s"serving loop did not span the live commit: saw versions $vs")
    (res, trail)
  }

  /** q346 — SERVING ACROSS A LIVE COMPACTION COMMIT (round-15 verdict
    * task 4), the dynamic half of q343's reader-isolation story: q343
    * proves v3 and v4 serve identical results when read separately;
    * this query proves a RUNNING serving loop straddling the commit
    * never sees anything else — batches before the commit resolve v3,
    * batches after resolve v4 (both `require`d present, so the run is
    * dead unless the loop really spanned the boundary), and no batch
    * can observe a half-committed store because v4 rows are published
    * only after the compacted files are on disk. The DuckDB oracle is
    * the batch probe over the rebuilt corpus: hash equality proves
    * every micro-batch — whichever side of the commit it landed on —
    * served exactly the rebuild's answer. `AnnServeLiveSpec` replays
    * each batch against the manifest version it recorded and pins the
    * per-version equality the flattened output can't show.
    */
  val annServeLiveCommit = Q(
    "q346_ann_serve_live_commit",
    (s, d) => streamServeLive(s, d, IvfTier, nFiles = 4)._1
      .drop("batch_id", "version", "store_root"),
    annStreamServe.oracle // same store content on both sides of the commit
  )

  /** q348's serving loop ACROSS a live vacuum (round-16 verdict task 1,
    * the q346 discipline applied to q345): the store is built with a
    * private base, the v3 → v4 compaction commits BEFORE the stream (so
    * retired dirs sit on disk as real garbage), and the vacuum at
    * retention floor v4 fires after the first served batch, inside the
    * same driver loop. Every batch resolves the live manifest head
    * (version + cell map in one snapshot read) and records the manifest
    * GENERATION it resolved: pre-vacuum batches read the compaction's
    * snapshot, post-vacuum batches read the pruned snapshot the vacuum
    * published atomically. Returns the served rows, the (batchId,
    * generation) trail, and the vacuum's report.
    */
  private[graft] def streamServeLiveVacuum(s: SparkSession, d: String,
      nFiles: Int): (DataFrame, Seq[(Long, Long)], VacuumReport) = {
    val st = compactStore(s, d, IvfTier, privateBase = true) // retired v3-only dirs are garbage
    val rep = new java.util.concurrent.atomic.AtomicReference[VacuumReport]
    val (res, trail) = serveLoop(s, d, "ivf_vac", nFiles, IvfTier.probes(s, d, st.d0),
        ss => rep.set(vacuumStore(ss, st.root, keepFrom = 4L))) {
      (ss, local, cells, batchId) =>
        val gen = StoreManifest.gens(ss, st.root).last._1
        val (v, m) = StoreManifest.headVersion(ss, st.root)
        // the vacuum must be invisible: the head VERSION never moves
        require(v == 4L, s"live vacuum moved the head version to $v")
        (serveView(ss, d, IvfTier, local, cells, m).withColumn("batch_id", lit(batchId))
          .withColumn("gen", lit(gen)).withColumn("store_root", lit(st.root)), gen)
    }
    val gs = trail.map(_._2).toSet
    require(gs.size == 2, s"serving loop did not span the live vacuum: saw generations $gs")
    require(rep.get != null && rep.get.deleted.nonEmpty,
      "vacuum retired nothing — fixture dead (no cell compacted?)")
    (res, trail, rep.get)
  }

  /** q348 — SERVING ACROSS A LIVE VACUUM (round-16 verdict task 1), the
    * dynamic half of q345's reader-isolation story: q345 proves a
    * QUIESCED vacuum changes nothing a v4 reader sees (it collects the
    * pre-serve before vacuuming); this query drives the q344 serving
    * loop WHILE the vacuum runs — the prune publishes as one atomic
    * manifest-generation commit before any dir is deleted, so batches
    * before the pass resolve the compaction's snapshot, batches after
    * resolve the pruned snapshot (both generations `require`d present in
    * the trail, the head version `require`d pinned at 4 throughout, and
    * the vacuum `require`d to have actually retired dirs — the run is
    * dead unless real garbage vanished mid-stream). The DuckDB oracle is
    * the batch probe over the rebuilt corpus: hash equality proves every
    * micro-batch, whichever side of the vacuum it landed on, served
    * exactly the rebuild's answer. `AnnVacuumLiveSpec` additionally
    * hammers manifest resolution DURING a vacuum pass and pins that no
    * reader can ever observe a missing or partial manifest — the torn
    * window the round-16 in-place Overwrite had.
    */
  val annServeLiveVacuum = Q(
    "q348_ann_serve_live_vacuum",
    (s, d) => streamServeLiveVacuum(s, d, nFiles = 4)._1.drop("batch_id", "gen", "store_root"),
    annStreamServe.oracle // the vacuum must change nothing a reader sees
  )

  /** q81 — INT8 embedding quantization, the storage/serving compression
    * step of an embedding pipeline (4× smaller than float32, 8× smaller
    * than the double working form): symmetric per-vector max-abs scaling,
    * `q_i = floor(v_i * 127 / maxabs + 0.5)` clamped to [-127, 127].
    * A pure narrow projection — no shuffle; at 100 TB this is a
    * streaming-friendly rewrite of the corpus. Engine-portable without
    * rounding hazards: `floor(x + 0.5)` on identical doubles is exact in
    * both engines (unlike `round()`, whose decimal-boundary semantics
    * diverge — BASELINE/SKILL gotcha), and maxabs is an order-insensitive
    * exact fold. Zero vectors quantize to all-zero with scale 0, and so
    * do vectors whose max-abs is non-finite (NaN/Inf elements exist in
    * the corpus — q26 guards them too): a scale is meaningless either
    * way, and ANSI mode would (correctly) refuse to cast NaN to an
    * integer. Output is the scale plus integer aggregates and an md5
    * fingerprint of the quantized vector — value-exact evidence of
    * every q_i.
    */
  val quantizeInt8 = Q(
    "q81_embed_quantize",
    (s, d) =>
      vectors(s, d)
        .select(col("vec_id"),
          expr("aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))").as("maxabs"),
          col("v"))
        // a cleaned scale (0.0 for zero/NaN/Inf vectors) is both the
        // output column and the quantization condition — NaN must never
        // reach the output, where it would be compare-hazardous
        .select(col("vec_id"),
          expr("""CASE WHEN maxabs = 0.0 OR isnan(maxabs)
                         OR maxabs = CAST('Infinity' AS DOUBLE)
                       THEN CAST(0.0 AS DOUBLE) ELSE maxabs END""").as("scale"),
          col("v"))
        .select(col("vec_id"), col("scale"),
          expr("""transform(v, x -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
                    CAST(floor(CASE WHEN scale = 0.0 THEN 0.0
                               ELSE x * 127.0 / scale + 0.5 END) AS BIGINT))))""")
            .as("qv"))
        .select(col("vec_id"), col("scale"),
          expr("aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
          expr("aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + abs(x))").as("q_l1"),
          md5(expr("array_join(transform(qv, x -> CAST(x AS STRING)), ',')").cast("binary"))
            .as("q_fp")),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            m AS (SELECT vec_id, v,
                         coalesce(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 0.0)
                           AS maxabs
                  FROM e),
            sc AS (SELECT vec_id, v,
                          CASE WHEN maxabs = 0.0 OR isnan(maxabs) OR isinf(maxabs)
                               THEN 0.0 ELSE maxabs END AS scale
                   FROM m),
            qs AS (SELECT vec_id, scale,
                          list_transform(v, x -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
                            CAST(floor(CASE WHEN scale = 0.0 THEN 0.0
                                       ELSE x * 127.0 / scale + 0.5 END) AS BIGINT)))) AS q
                   FROM sc)
            SELECT vec_id, scale,
                   CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
                   CAST(list_aggregate(list_transform(q, x -> abs(x)), 'sum') AS BIGINT) AS q_l1,
                   md5(array_to_string(q, ',')) AS q_fp
            FROM qs""")
  )

  /** q354 — SQ8 MIPS SEARCH TIER: the search path over q81's int8
    * record format (scale + codes), the tier between the float scans
    * (q27/q63) and the 8-byte PQ codes (q111/q347) on the compression
    * spectrum. q81 defined the serving record — symmetric per-vector
    * max-abs scaling, `q_i = floor(v_i·127/scale + 0.5)` — but nothing
    * SEARCHED it; this query is maximum-inner-product search over the
    * codes: candidates ranked by the dequantized integer dot product
    * `(Σ cq_i·cx_i)·sq·sx/127²` (every product and the 64-term sum are
    * integer-valued doubles < 2^53, so the score is EXACT on both
    * engines — no float-accumulation drift to band away), cut to the
    * top-20 per probe through the bounded `TopKAggregator` (shuffle
    * carries k·tasks rows, never the scored corpus — q60's discipline),
    * then exact-reranked on the float vectors fetched for CANDIDATES
    * ONLY via an id-keyed broadcast join (q347's code-scan/float-fetch
    * split, applied to SQ8).
    *
    * Scale story (100 TB): the scoring scan reads 64 int8 codes + one
    * scale (~72 B/row) instead of 64 doubles (512 B) — the 7× I/O cut
    * is why serving tiers quantize — and float I/O is bounded by
    * O(probes·20) rerank fetches. Vectors whose scale is 0 (all-zero or
    * non-finite — q81's cleaned-scale rule) are excluded on both sides:
    * they carry no usable direction and their codes are all zero.
    * Unquantizable probes simply produce no rows, deterministically.
    *
    * The oracle replays the identical chain — q81's quantization CTEs,
    * the integer-dot candidate cut, the float rerank — with the strict
    * left-fold dot spelling (`list_aggregate(list_transform(...))`)
    * that is bit-equal to the native SeqDot loop (q63's argmax relies
    * on the same pairing), so every score column hashes UNROUNDED.
    */
  val sq8Mips = Q(
    "q354_ann_sq8_mips",
    (s, d) => {
      import s.implicits._
      // q81's record: cleaned scale + int8 codes, minus scale-0 rows
      val rec = vectors(s, d)
        .select(col("vec_id"), col("v"),
          expr("aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))").as("maxabs"))
        .select(col("vec_id"), col("v"),
          expr("""CASE WHEN maxabs = 0.0 OR isnan(maxabs)
                         OR maxabs = CAST('Infinity' AS DOUBLE)
                       THEN CAST(0.0 AS DOUBLE) ELSE maxabs END""").as("scale"))
        .where(col("scale") > 0.0)
        .select(col("vec_id"), col("scale"),
          expr("""transform(v, x -> CAST(greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
                    CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT))) AS DOUBLE))""").as("qv"))
      val probes = rec.where(col("vec_id") < 8)
      val scoredPairs = broadcast(
        probes.select(col("vec_id").as("probe_id"), col("qv").as("pq"), col("scale").as("sq")))
        .join(rec.select(col("vec_id").as("neighbor_id"), col("qv").as("xq"), col("scale").as("sx")),
          col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"),
          (SeqDot(col("pq"), col("xq")) * col("sq") * col("sx") / lit(16129.0)).as("ascore"))
        .as[(Long, Long, Double)]
      val cands = scoredPairs.groupByKey(_._1)
        .mapValues { case (_, id, a) => ScoredId(id, a) }
        .agg(new TopKAggregator(20).toColumn.name("topk"))
        .flatMap { case (p, topk) => topk.iterator.map(sid => (p, sid.id, sid.score)) }
        .toDF("probe_id", "neighbor_id", "approx_dot")
      val pvec = vectors(s, d).where(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val xvec = vectors(s, d)
        .select(col("vec_id").as("neighbor_id"), col("v").as("xv"))
      val rr = broadcast(cands)
        .join(xvec, Seq("neighbor_id"))
        .join(broadcast(pvec), Seq("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), col("approx_dot"),
          SeqDot(col("pv"), col("xv")).as("dot"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("dot").desc, col("neighbor_id").asc)
      rr.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= 5)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            m AS (SELECT vec_id, v,
                         coalesce(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 0.0)
                           AS maxabs
                  FROM e),
            sc AS (SELECT vec_id, v,
                          CASE WHEN maxabs = 0.0 OR isnan(maxabs) OR isinf(maxabs)
                               THEN 0.0 ELSE maxabs END AS scale
                   FROM m),
            qs AS (SELECT vec_id, v, scale,
                          list_transform(v, x -> CAST(greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
                            CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT))) AS DOUBLE)) AS q
                   FROM sc WHERE scale > 0.0),
            p AS (SELECT * FROM qs WHERE vec_id < 8),
            scored AS (
              SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id,
                     list_aggregate(list_transform(generate_series(1, $Dim),
                       i -> p.q[i] * x.q[i]), 'sum') * p.scale * x.scale / 16129.0 AS ascore,
                     p.v AS pv, x.v AS xv
              FROM p JOIN qs x ON x.vec_id <> p.vec_id),
            cut AS (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                          ORDER BY ascore DESC, neighbor_id) AS crk
              FROM scored),
            rr AS (
              SELECT probe_id, neighbor_id, ascore AS approx_dot,
                     list_aggregate(list_transform(generate_series(1, $Dim),
                       i -> pv[i] * xv[i]), 'sum') AS dot
              FROM cut WHERE crk <= 20)
            SELECT probe_id, neighbor_id, approx_dot, dot, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                             ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rnk
              FROM rr) t
            WHERE rnk <= 5""")
  )

  /** q355 — ANN RECALL AUDIT: the retrieval-quality eval the ANN family
    * lacked. q318/q352 audit what quantization does to DISTANCES; nothing
    * audited what cell-probing does to the ANSWER — the recall\@k curve
    * against exact ground truth is the table that picks a serving
    * config's nprobe, and at 100 TB it is computed offline on a probe
    * SAMPLE exactly like this (ground truth costs one brute scan per
    * probe, so the audit's cost is O(sample·corpus) by construction —
    * the audit is cheap because the probe set is, never because the
    * corpus is).
    *
    * One scored relation serves every setting: each probe carries ALL
    * `IvfCentroids` cells with their rank `r` (the probe-order position
    * from the same sorted-cells array q63 probes), the corpus joins on
    * cell equality ONCE (each corpus vector lives in exactly one cell,
    * so no candidate appears twice), and a settings explode slices the
    * relation at nprobe ∈ {1,2,4,8}. Per (nprobe, probe) top-5 goes
    * through the bounded `TopKAggregator` (q60 discipline). The
    * nprobe=8 branch probes EVERY cell — it IS the brute-force ground
    * truth by construction, which makes the audit self-calibrating:
    * hits(nprobe=8) ≡ 5 is a definitional identity the output exhibits
    * rather than a claim a reader must trust. Output is the exact
    * integer audit table (nprobe, probe_id, ivf_n, hits) on a literal
    * settings×probes spine, so empty cells surface as 0-rows instead of
    * vanishing. `RecallAuditSpec` pins recall monotone in nprobe and
    * the nprobe=8 identity.
    */
  val annRecallAudit = Q(
    "q355_ann_recall_audit",
    (s, d) => {
      import s.implicits._
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val corpus = ev.select(col("vec_id"), col("v"),
        element_at(col("cells"), 1)("j").as("cell"))
      val probes = ev.where(col("vec_id") < 8)
        .select(col("vec_id"), col("v"), posexplode(col("cells")))
        .select(col("vec_id"), col("v"), (col("pos") + 1).as("r"), col("col")("j").as("cell"))
      val scored = broadcast(probes).as("q")
        .join(corpus.as("x"),
          col("x.cell") === col("q.cell") && col("x.vec_id") =!= col("q.vec_id"))
        .select(col("q.vec_id").as("probe_id"), col("q.r").as("r"),
          col("x.vec_id").as("neighbor_id"),
          round(CosineSimilarity(col("q.v"), col("x.v")), 6).as("cos_sim"))
      val settings = Seq(1L, 2L, 4L, 8L)
      val top5 = scored
        .withColumn("nprobe", explode(typedLit(settings)))
        .where(col("r") <= col("nprobe"))
        .select(col("nprobe"), col("probe_id"), col("neighbor_id"), col("cos_sim"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(t => (t._1, t._2))
        .mapValues(t => ScoredId(t._3, t._4))
        .agg(new TopKAggregator(5).toColumn.name("topk"))
        .flatMap { case ((np, p), topk) => topk.iterator.map(sid => (np, p, sid.id)) }
        .toDF("nprobe", "probe_id", "neighbor_id")
      val truth = top5.where(col("nprobe") === 8L)
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
      val spine = (for { np <- settings; p <- 0L until 8L } yield (np, p))
        .toDF("nprobe", "probe_id")
      spine.join(top5, Seq("nprobe", "probe_id"), "left")
        .join(truth, Seq("probe_id", "neighbor_id"), "left")
        .groupBy("nprobe", "probe_id")
        .agg(count(col("neighbor_id")).as("ivf_n"), count(col("hit")).as("hits"))
    },
    Some(s"""${ivfOracleCtes(IvfLloydSteps)},
            pr AS (SELECT vec_id, v, j AS cell, r FROM ranked WHERE vec_id < 8),
            settings AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS nprobe),
            sc2 AS (
              SELECT q.vec_id AS probe_id, q.r, x.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, x.v), 6) AS cos_sim
              FROM pr q JOIN assigned x
                ON x.cell = q.cell AND x.vec_id <> q.vec_id),
            iv AS (
              SELECT nprobe, probe_id, neighbor_id FROM (
                SELECT st.nprobe, s2.probe_id, s2.neighbor_id,
                       row_number() OVER (PARTITION BY st.nprobe, s2.probe_id
                                          ORDER BY s2.cos_sim DESC, s2.neighbor_id) AS rk
                FROM settings st JOIN sc2 s2 ON s2.r <= st.nprobe) t
              WHERE rk <= 5),
            truth AS (SELECT probe_id, neighbor_id, 1 AS hit
                      FROM iv WHERE nprobe = 8),
            spine AS (SELECT st.nprobe, CAST(g.range AS BIGINT) AS probe_id
                      FROM settings st, range(0, 8) g)
            SELECT s.nprobe, s.probe_id,
                   CAST(count(i.neighbor_id) AS BIGINT) AS ivf_n,
                   CAST(count(t.hit) AS BIGINT) AS hits
            FROM spine s
            LEFT JOIN iv i ON i.nprobe = s.nprobe AND i.probe_id = s.probe_id
            LEFT JOIN truth t ON t.probe_id = i.probe_id
                             AND t.neighbor_id = i.neighbor_id
            GROUP BY 1, 2""")
  )

  /** q357 — IVF CELL-QUALITY AUDIT: the third leg of the eval harness
    * (q355 measures recall, q356 measures the dedup S-curve; this
    * explains WHY recall looks the way it does). Per learned cell:
    * occupancy `n` (the hot-partition tripwire — at 100 TB a cell with
    * 10× the mean occupancy is a straggler every probe of it pays),
    * within-cell scatter Σ‖x−c‖² (how tight the quantizer's cells
    * actually are — the k-selection instrument beside q117's dial), and
    * `n_boundary`, the members whose best-vs-second centroid margin is
    * under 0.01 — exactly the vectors a 1-probe search loses to the
    * neighboring cell, i.e. the structural floor under q355's
    * nprobe = 1 recall row.
    *
    * Exactness: scatter and margin are per-member fixed IEEE sequences
    * (the strict-fold distance, the dt₁−dt₂ subtraction) quantized to
    * integer MICROS (`floor(x·10⁶ + 0.5)` — the q330 rule) BEFORE
    * aggregation, so the per-cell sums are order-free exact integers
    * and the whole table hashes. Non-finite vectors are excluded (the
    * q331 rule — a NaN distance would poison the cast); the spine is
    * the literal cell range so empty cells surface as zero rows. One
    * corpus pass against the broadcast centroid row — no shuffle wider
    * than the 8-cell aggregate. `IvfCellAuditSpec` replays the table
    * from collected centroids in plain Scala and pins the boundary
    * population live and partial.
    */
  val ivfCellAudit = Q(
    "q357_ivf_cell_audit",
    (s, d) => {
      val cents = ivfCents(s, d)
      val finite = vectors(s, d)
        .where(expr("NOT exists(v, x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))"))
      val mem = finite.crossJoin(broadcast(cents))
        .withColumn("cells", array_sort(transform(col("cs"), sc =>
          struct((-SeqDot(col("v"), sc.getField("c"))).as("nd"),
            sc.getField("cell").as("j")))))
        .withColumn("cell", element_at(col("cells"), 1)("j").cast("long"))
        .withColumn("own_c", element_at(filter(col("cs"),
          sc => sc.getField("cell").cast("long") === col("cell")), 1)("c"))
        .withColumn("d2", expr(
          "aggregate(zip_with(v, own_c, (a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"))
        .withColumn("margin",
          element_at(col("cells"), 2)("nd") - element_at(col("cells"), 1)("nd"))
        .select(col("cell"),
          floor(col("d2") * lit(1000000.0) + lit(0.5)).cast("long").as("d2_micro"),
          floor(col("margin") * lit(1000000.0) + lit(0.5)).cast("long").as("margin_micro"))
      val agg = mem.groupBy("cell")
        .agg(count(lit(1)).as("n"),
          sum(col("d2_micro")).as("scatter_micro"),
          sum(when(col("margin_micro") < 10000L, 1L).otherwise(0L)).as("n_boundary"))
      val spine = {
        import s.implicits._
        (0 until IvfCentroids).map(_.toLong).toDF("cell")
      }
      spine.join(agg, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("scatter_micro"), lit(0L)).as("scatter_micro"),
          coalesce(col("n_boundary"), lit(0L)).as("n_boundary"))
    },
    Some(s"""${ivfOracleCtes(IvfLloydSteps)},
            fin AS (SELECT vec_id, v FROM e
                    WHERE len(list_filter(v, x -> isnan(x) OR isinf(x))) = 0),
            dots2 AS (
              SELECT f.vec_id, f.v, c.j,
                     list_aggregate(list_transform(generate_series(1, $Dim),
                       i -> f.v[i] * c.c[i]), 'sum') AS dt
              FROM fin f, cent$IvfLloydSteps c),
            rd AS (SELECT vec_id, v, j, dt,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dt DESC, j ASC) AS r
                   FROM dots2),
            own AS (SELECT vec_id, v, j AS cell, dt AS dt1 FROM rd WHERE r = 1),
            sec AS (SELECT vec_id, dt AS dt2 FROM rd WHERE r = 2),
            mem AS (
              SELECT o.vec_id, o.cell,
                     CAST(floor(list_aggregate(list_transform(generate_series(1, $Dim),
                       i -> (o.v[i] - c.c[i]) * (o.v[i] - c.c[i])), 'sum')
                       * 1000000.0 + 0.5) AS BIGINT) AS d2_micro,
                     CAST(floor((o.dt1 - s2.dt2) * 1000000.0 + 0.5) AS BIGINT) AS margin_micro
              FROM own o
              JOIN cent$IvfLloydSteps c ON c.j = o.cell
              JOIN sec s2 ON s2.vec_id = o.vec_id),
            ag AS (SELECT cell, count(*) AS n, sum(d2_micro) AS scatter_micro,
                          sum(CASE WHEN margin_micro < 10000 THEN 1 ELSE 0 END) AS n_boundary
                   FROM mem GROUP BY 1),
            spine AS (SELECT CAST(range AS BIGINT) AS cell FROM range(0, $IvfCentroids))
            SELECT s.cell, CAST(coalesce(a.n, 0) AS BIGINT) AS n,
                   CAST(coalesce(a.scatter_micro, 0) AS BIGINT) AS scatter_micro,
                   CAST(coalesce(a.n_boundary, 0) AS BIGINT) AS n_boundary
            FROM spine s LEFT JOIN ag a ON a.cell = s.cell""")
  )

  private val NearDupPlanes = 10
  private[graft] val NearDupThreshold = 0.38

  /** q96 — embedding near-duplicate pairs blocked by LSH BUCKET, the
    * production blocking key q26's scaladoc promises (q26 blocks by
    * `label` — a convenient demo key that a real corpus doesn't have).
    * Each vector gets a 10-plane sign bucket (1024 buckets, the same
    * hash-derived hyperplane family as q28/q62, so the whole pipeline is
    * oracle-reproducible); candidate pairs come from bucket-equality
    * joins at Hamming radius 1 (the vector side explodes to its own
    * bucket plus the 10 one-bit flips — near-identical vectors that
    * straddle a single hyperplane still meet). A pair whose buckets
    * differ in ≤ 1 bit matches on exactly ONE mask, so no dedup pass is
    * needed — unlike the multi-probe ANN queries, whose radius-2 mask
    * sets genuinely duplicate.
    *
    * Scale: the corpus never self-joins — the 11× narrow bucket
    * duplication shuffles, then pairs form only within buckets
    * (E[pairs] ≈ 11·n²/1024 here; more planes sharpen it as n grows).
    * Exact cosine verifies every candidate; non-finite cosines
    * (zero-norm / NaN vectors exist in the corpus) are dropped on both
    * sides, q26's discipline.
    */
  val embedLshNearDup = Q(
    "q96_embed_lsh_neardup",
    (s, d) => {
      val e = vectors(s, d).withColumn("bucket", bucketCol(NearDupPlanes))
      val masks = 0 +: (0 until NearDupPlanes).map(1 << _)
      val probes = e.select(col("vec_id"), col("v"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
      val raw = CosineSimilarity(col("a.v"), col("b.v"))
      // floor(x*1e6 + 0.5)/1e6, not round(): Spark round() is BigDecimal
      // HALF_UP over the shortest repr, DuckDB's is x*10^d-then-round —
      // a cosine on a 6-digit tie could flip the value or the >= cut in
      // one engine only (q81's portable-rounding rule)
      probes.as("a")
        .join(e.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          (floor(raw * lit(1e6) + lit(0.5)) / lit(1e6)).as("cos_sim"), raw.as("rawcos"))
        .where(!isnan(col("rawcos")) && abs(col("rawcos")) =!= Double.PositiveInfinity
          && col("cos_sim") >= NearDupThreshold)
        .drop("rawcos")
    },
    Some {
      val masks = 0 +: (0 until NearDupPlanes).map(1 << _)
      val maskList = masks.map(m => s"xor(bucket, $m)").mkString("[", ", ", "]")
      s"""WITH planes AS (
            SELECT p, list_transform(generate_series(0, ${Dim - 1}),
                     i -> (('0x' || substr(md5(concat(p, ',', i)), 1, 8))::BIGINT
                           / 4294967296.0) - 0.5) AS pl
            FROM (SELECT unnest(generate_series(0, ${NearDupPlanes - 1})) AS p) ps),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          bucketed AS (
            SELECT e.vec_id, e.v,
                   CAST(sum(CASE WHEN list_dot_product(e.v, planes.pl) >= 0
                                 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
            FROM e, planes GROUP BY e.vec_id, e.v),
          probes AS (SELECT vec_id, v, unnest($maskList) AS bucket FROM bucketed),
          pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_cosine_similarity(a.v, b.v) AS rawcos
            FROM probes a JOIN bucketed b
              ON b.bucket = a.bucket AND a.vec_id < b.vec_id)
          SELECT vec_a, vec_b, floor(rawcos * 1e6 + 0.5) / 1e6 AS cos_sim
          FROM pairs
          WHERE isfinite(rawcos) AND floor(rawcos * 1e6 + 0.5) / 1e6 >= $NearDupThreshold"""
    }
  )

  /** q107 — TRUNCATED-PREFIX prefilter + full-dimension rerank, the
    * matryoshka-retrieval shape (prefix dimensions of an MRL-trained
    * embedding carry most of the signal): stage 1 scores every corpus
    * vector against each probe on only the FIRST `TruncDim` (32 of 64)
    * dimensions — half the arithmetic and memory traffic per pair (the
    * dial: MRL-trained embeddings concentrate signal in the prefix and
    * tolerate far harsher truncation than the isotropic random vectors
    * of this corpus, where 16/64 left recall at 0.15) — and keeps the
    * top `RerankCand` candidates; stage 2 re-scores just those
    * candidates with exact full-dimension cosine and emits the top 5.
    *
    * Entirely deterministic (unlike LSH/IVF there is no hash or learned
    * stage), so it gets a FULL DuckDB oracle: both stages' ranks use the
    * 6-digit-rounded score with vec_id tiebreak (the q27 discipline), and
    * the truncated score is itself rounded before the stage-1 cutoff so
    * the candidate SET is engine-portable even where the two engines'
    * summation orders could flip a 1-ulp boundary at rank = RerankCand.
    *
    * Scale shape: stage 1 is the q27 broadcast-probe pattern (no corpus
    * shuffle; the rank window shuffles only scored pairs; at 100 TB the
    * prefix scoring composes with the IVF block instead of the full
    * corpus — REGISTERED as q109 below, with its own full oracle);
    * stage 2 touches RerankCand × probes rows — bounded.
    * `MatryoshkaSpec` asserts the rerank buys recall over
    * truncated-only ranking and holds the q27 floor.
    */
  private val TruncDim = 32
  private val RerankCand = 40

  /** Stage-1 candidates: (probe_id, neighbor vec_id, v pair) ranked by
    * truncated cosine. Exposed for `MatryoshkaSpec`'s truncated-only arm.
    */
  private[graft] def truncCandidates(s: SparkSession, d: String,
      keep: Int): DataFrame = {
    val e = vectors(s, d)
    val probes = e.where(col("vec_id") < 8)
    val scored = broadcast(probes).as("q")
      .join(e.as("x"), col("x.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("neighbor_id"),
        col("q.v").as("qv"), col("x.v").as("xv"),
        round(CosineSimilarity(slice(col("q.v"), 1, TruncDim),
          slice(col("x.v"), 1, TruncDim)), 6).as("t_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("t_sim").desc, col("neighbor_id").asc)
    scored.withColumn("crnk", row_number().over(w)).where(col("crnk") <= keep)
  }

  val matryoshkaRerank = Q(
    "q107_matryoshka_rerank",
    (s, d) => {
      val cand = truncCandidates(s, d, RerankCand)
        .select(col("probe_id"), col("neighbor_id"),
          round(CosineSimilarity(col("qv"), col("xv")), 6).as("cos_sim"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      cand.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= 5)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            tscored AS (
              SELECT q.vec_id AS probe_id, x.vec_id AS neighbor_id,
                     q.v AS qv, x.v AS xv,
                     round(list_cosine_similarity(q.v[1:$TruncDim], x.v[1:$TruncDim]), 6)
                       AS t_sim
              FROM e q JOIN e x ON x.vec_id <> q.vec_id
              WHERE q.vec_id < 8),
            cand AS (
              SELECT probe_id, neighbor_id, qv, xv FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY t_sim DESC, neighbor_id ASC) AS crnk
                FROM tscored) t
              WHERE crnk <= $RerankCand),
            rescored AS (
              SELECT probe_id, neighbor_id,
                     round(list_cosine_similarity(qv, xv), 6) AS cos_sim
              FROM cand)
            SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                             ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
              FROM rescored) t
            WHERE rnk <= 5""")
  )

  /** q109 — the SCALE-TRUE matryoshka: q107's two-stage prefix/rerank
    * composed with q63's IVF blocking, the composition q107's scaladoc
    * promises for 100 TB. Stage 0 probes the learned IVF cells (q63's
    * centroids, assignment, and nprobe — shared code AND shared oracle
    * CTEs, so the blocking can never drift from q63); stage 1 scores the
    * 32-of-64-dim truncated cosine ONLY against vectors in the probed
    * cells (where q107 scores the whole corpus); stage 2 re-scores the
    * surviving top `RerankCand` with exact full-dimension cosine and
    * emits the top 5.
    *
    * Every stage is deterministic (learned centroids are bit-exact, the
    * prefix/rerank ranks use rounded scores with id tiebreaks), so
    * unlike most ANN pipelines the FULL composition has a DuckDB hash
    * oracle. `MatryoshkaSpec` asserts the recall band vs plain q107 and
    * the ANN floor; PlanSpec pins that stage 1's scoring join is KEYED
    * by cell (a broadcast hash join, never the full-corpus
    * nested-loop join q107 uses).
    *
    * Scale shape: the corpus is touched once for cell assignment
    * (row-local argmax, no shuffle), the scoring join reads `nprobe/k`
    * of it (with q76's inverted file: only the probed cells'
    * partitions), prefix scoring halves the arithmetic per surviving
    * pair, and the rerank touches `RerankCand × probes` rows — each
    * multiplier bounded, nothing O(corpus) beyond the one narrow
    * assignment pass.
    */
  val matryoshkaIvf = Q(
    "q109_matryoshka_ivf",
    (s, d) => {
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val corpus = ev.select(col("vec_id"), col("v"),
        element_at(col("cells"), 1)("j").as("cell"))
      // cells partition the corpus and the probed cells are distinct, so
      // a neighbor matches at most once — no dedup pass (q63's argument)
      val scored = broadcast(ivfProbes(ev)).as("q")
        .join(corpus.as("x"),
          col("x.cell") === col("q.cell") && col("x.vec_id") =!= col("q.vec_id"))
        .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("neighbor_id"),
          col("q.v").as("qv"), col("x.v").as("xv"),
          round(CosineSimilarity(slice(col("q.v"), 1, TruncDim),
            slice(col("x.v"), 1, TruncDim)), 6).as("t_sim"))
      val w1 = Window.partitionBy("probe_id")
        .orderBy(col("t_sim").desc, col("neighbor_id").asc)
      val cand = scored.withColumn("crnk", row_number().over(w1))
        .where(col("crnk") <= RerankCand)
        .select(col("probe_id"), col("neighbor_id"),
          round(CosineSimilarity(col("qv"), col("xv")), 6).as("cos_sim"))
      val w2 = Window.partitionBy("probe_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      cand.withColumn("rnk", row_number().over(w2).cast("long")).where(col("rnk") <= 5)
    },
    Some(s"""${ivfOracleCtes(IvfLloydSteps)},
            tscored AS (
              SELECT q.vec_id AS probe_id, x.vec_id AS neighbor_id,
                     q.v AS qv, x.v AS xv,
                     round(list_cosine_similarity(q.v[1:$TruncDim], x.v[1:$TruncDim]), 6)
                       AS t_sim
              FROM probes q JOIN assigned x
                ON x.cell = q.cell AND x.vec_id <> q.vec_id),
            cand AS (
              SELECT probe_id, neighbor_id, qv, xv FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY t_sim DESC, neighbor_id ASC) AS crnk
                FROM tscored) t
              WHERE crnk <= $RerankCand),
            rescored AS (
              SELECT probe_id, neighbor_id,
                     round(list_cosine_similarity(qv, xv), 6) AS cos_sim
              FROM cand)
            SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                             ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
              FROM rescored) t
            WHERE rnk <= 5""")
  )

  private val PqM = 8 // subspaces
  private val PqSubDim = Dim / PqM
  private val PqK = 8 // codes per subspace
  private[graft] val PqLloydSteps = 2

  /** The PQ training sample: each finite sample vector exploded into
    * its `PqM` subvectors — (m, vec_id, sv). `maxId` freezes training
    * on a base snapshot (the q341/ivfCents discipline) for the PQ
    * lifecycle family q349-q351.
    */
  private def pqSample(s: SparkSession, d: String,
      maxId: Long = Long.MaxValue): DataFrame =
    vectors(s, d)
      .where(col("vec_id") % IvfSampleMod === 0)
      .where(col("vec_id") < maxId)
      .where(expr("NOT exists(v, x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("v"))
      .select(col("vec_id"), col("m"), expr(s"slice(v, m * $PqSubDim + 1, $PqSubDim)").as("sv"))

  /** One PQ Lloyd step over ALL subspaces at once (state: one row per
    * subspace m, codebook `cs` sorted by code id): assignment is argmin
    * L2 — expressed as argmax (dot − ½‖c‖²), i.e. ascending
    * `½‖c‖² − dot` with code-id tiebreak, so only SeqDot folds are
    * needed and the oracle mirrors them exactly — then the vec_id-
    * ordered mean per (m, code), carrying the prior code for empty
    * cells (the lloydStep discipline at subvector granularity; proper
    * L2 here, unlike the coarse quantizer's max-dot, because PQ codes
    * must RECONSTRUCT subvectors, not rank them).
    */
  private def pqLloydStep(sample: DataFrame, cents: DataFrame): DataFrame = {
    val near = array_sort(transform(col("cs"), sc =>
      struct((lit(0.5) * SeqDot(sc.getField("c"), sc.getField("c"))
        - SeqDot(col("sv"), sc.getField("c"))).as("nd"),
        sc.getField("cell").as("j"))))
    val refined = sample.join(broadcast(cents), "m")
      .withColumn("code", element_at(near, 1)("j"))
      .groupBy("m", "code")
      .agg(array_sort(collect_list(struct(col("vec_id"), col("sv")))).as("vs"))
      .select(col("m"), col("code").as("cell"), expr(
        s"""transform(sequence(1, $PqSubDim), i ->
            aggregate(vs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.sv[i-1])
            / size(vs))""").as("c1"))
    cents.select(col("m"), explode(col("cs")).as("sc"))
      .select(col("m"), col("sc")("cell").as("cell"), col("sc")("c").as("c0"))
      .join(refined, Seq("m", "cell"), "left")
      .select(col("m"), col("cell"), coalesce(col("c1"), col("c0")).as("c"))
      .groupBy("m")
      .agg(array_sort(collect_list(struct(col("cell"), col("c")))).as("cs"))
  }

  /** The learned PQ codebooks as a BOUNDED literal relation — one row
    * per subspace, `PqK` codes each — after `steps` deterministic Lloyd
    * steps on the shared fixed-modulus sample. Same construction-time
    * bounded collect AND same (dir, steps) training-artifact
    * memoization as [[ivfCents]] (8 × 8 × 8 doubles; q111/q114 would
    * otherwise retrain per plan construction).
    */
  private val bookCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), (java.util.List[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]

  private[graft] def pqBooks(s: SparkSession, d: String,
      steps: Int = PqLloydSteps, maxId: Long = Long.MaxValue): DataFrame = {
    import s.implicits._
    val cacheKey =
      s"$d@${graft.sources.Sources.dirFingerprint(d)}#$maxId"
    val (rows, schema) = bookCache.getOrElseUpdate((cacheKey, steps), {
      val seedRow = (for {
        m <- 0 until PqM
        k <- 0 until PqK
      } yield (m, k, (0 until PqSubDim).map(i => hashUnit(s"q$m,$k,$i"))))
        .toDF("m", "cell", "c")
        .groupBy("m")
        .agg(array_sort(collect_list(struct(col("cell"), col("c")))).as("cs"))
      val chain = (1 to steps).foldLeft(seedRow)((c, _) =>
        pqLloydStep(pqSample(s, d, maxId), c))
      (java.util.Arrays.asList(chain.collect(): _*), chain.schema)
    })
    s.createDataFrame(rows, schema)
  }

  /** All `PqM` codebooks as ONE broadcast-able row (`books`, sorted by
    * subspace), for row-local encode/LUT construction.
    */
  private[graft] def pqBooksRow(books: DataFrame): DataFrame =
    books.agg(array_sort(collect_list(struct(col("m"), col("cs")))).as("books"))

  /** PQ-encode a (vec_id, v, cell) relation: 8 small code ids replace
    * the 64-double vector — `v` is DROPPED from the output, which IS
    * the compression story (8 codes ≈ 8 bytes vs 512 vector bytes).
    * Row-local: one broadcast codebook row, nested-lambda argmin per
    * subspace, no shuffle. Exposed for `PqSpec`'s compression check.
    */
  private[graft] def pqEncode(corpus: DataFrame, booksRow: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(booksRow))
      .withColumn("codes", transform(col("books"), mb => {
        val sub = slice(col("v"), mb.getField("m") * lit(PqSubDim) + lit(1), lit(PqSubDim))
        element_at(array_sort(transform(mb.getField("cs"), sc =>
          struct((lit(0.5) * SeqDot(sc.getField("c"), sc.getField("c"))
            - SeqDot(sub, sc.getField("c"))).as("nd"),
            sc.getField("cell").as("j")))), 1)("j")
      }))
      .select(col("vec_id"), col("cell"), col("codes"))

  /** q111 — IVF-PQ: the canonical 100 TB ANN MEMORY story q76's
    * inverted file lacks (it stores full-precision vectors per cell).
    * Product quantization splits each vector into 8 subspaces of 8
    * dims; per-subspace codebooks (8 codes each) are learned with the
    * same deterministic Lloyd machinery as the coarse quantizer — but
    * under proper L2 assignment (argmin ‖sv − c‖² via the ½‖c‖² − dot
    * identity, so only SeqDot folds are needed) because codes must
    * reconstruct subvectors. Codes are assigned to the RAW vector (the
    * `by_residual=false` IVF-PQ variant — residual encoding would chain
    * the coarse argmax into every PQ fold and buy little at 8 coarse
    * cells), shrinking each stored vector 64× (8 code ids vs 64
    * doubles; 21× vs float32).
    *
    * Search is classic ADC (asymmetric distance computation): each
    * probe builds a 8×8 lookup table of subspace dots against the
    * codebooks (one bounded broadcast row), scores every encoded vector
    * in its probed IVF cells by summing 8 table entries in subspace
    * order (a strict fold — bit-exact in the oracle's ORDER BY m list
    * fold), keeps the ADC top `RerankCand`, and re-scores ONLY those
    * candidates with exact full-dimension cosine fetched by a
    * candidate-sized join back to the vector table — at 100 TB the
    * full-precision vectors live only in that rerank fetch, never in
    * the scan. Fully deterministic ⇒ FULL DuckDB oracle (coarse chain
    * CTEs shared with q63/q109; PQ Lloyd steps unrolled per step).
    * `PqSpec` pins the recall floor vs q63's full-precision scan and
    * the compression contract.
    */
  /** Per-probe ADC lookup table: for each subspace, the probe
    * subvector's dot against each code — an 8×8 double table riding on
    * the (bounded) probe rows.
    */
  private[graft] def pqProbesLut(probes: DataFrame, booksRow: DataFrame): DataFrame =
    probes.crossJoin(broadcast(booksRow))
      .withColumn("lut", transform(col("books"), mb => {
        val sub = slice(col("v"), mb.getField("m") * lit(PqSubDim) + lit(1), lit(PqSubDim))
        transform(mb.getField("cs"), sc => SeqDot(sub, sc.getField("c")))
      }))
      .select(col("vec_id"), col("v"), col("cell"), col("lut"))

  /** ADC scan + candidate cut + exact rerank — the q111/q114 search
    * tail over any (vec_id, cell, codes) encoded relation: the fold
    * over `zip_with(lut, codes)` sums the 8 table entries in subspace
    * order (bit-exact vs the oracle's ORDER BY m list fold); the
    * full-precision vectors appear only through the candidate-sized
    * rerank join against `vecs`.
    */
  private[graft] def pqAdcRank(probesLut: DataFrame, enc: DataFrame, vecs: DataFrame): DataFrame = {
    val adc = broadcast(probesLut).as("q")
      .join(enc.as("x"),
        col("x.cell") === col("q.cell") && col("x.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("neighbor_id"),
        col("q.v").as("qv"),
        round(expr(
          """aggregate(zip_with(lut, codes, (l, cd) -> element_at(l, cd + 1)),
             CAST(0.0 AS DOUBLE), (a, x) -> a + x)"""), 6).as("adc"))
    val w1 = Window.partitionBy("probe_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val cand = adc.withColumn("crnk", row_number().over(w1))
      .where(col("crnk") <= RerankCand)
    val rer = cand.join(
      vecs.select(col("vec_id").as("neighbor_id"), col("v").as("xv")),
      "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        round(CosineSimilarity(col("qv"), col("xv")), 6).as("cos_sim"))
    val w2 = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    rer.withColumn("rnk", row_number().over(w2).cast("long")).where(col("rnk") <= 5)
  }

  val annIvfPq = Q(
    "q111_ann_ivf_pq",
    (s, d) => {
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val corpus = ev.select(col("vec_id"), col("v"),
        element_at(col("cells"), 1)("j").as("cell"))
      val booksRow = pqBooksRow(pqBooks(s, d))
      pqAdcRank(pqProbesLut(ivfProbes(ev), booksRow),
        pqEncode(corpus, booksRow), vectors(s, d))
    },
    Some(pqOracle(IvfLloydSteps, PqLloydSteps))
  )

  /** q114 — the MATERIALIZED PQ inverted file, the artifact a 100 TB
    * serving deployment actually ships (q76 materializes full vectors;
    * this materializes the 64×-smaller CODE table): the PQ-encoded
    * corpus is written ONCE as parquet partitioned by IVF cell, then
    * probed — the ADC join is on the partition column, so dynamic
    * partition pruning limits the scan to the probed cells' directories
    * of an index that is itself two orders of magnitude smaller than
    * q76's. Exact rerank still fetches full vectors from the BASE
    * table, candidate-sized — the index never stores them. Same oracle
    * as q111: materialization must not change a single row. PlanSpec
    * gates the DPP; `PqSpec` gates the on-disk size vs q76's
    * full-vector file.
    */
  val annIvfPqFile = Q(
    "q114_ann_ivf_pq_file",
    (s, d) => {
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val corpus = ev.select(col("vec_id"), col("v"),
        element_at(col("cells"), 1)("j").as("cell"))
      val booksRow = pqBooksRow(pqBooks(s, d))
      val enc = graft.sources.Sources.write(pqEncode(corpus, booksRow),
        graft.sources.Sources.scratchLeaf(d, "ivf_pq_file"), "cell").read(s)
      pqAdcRank(pqProbesLut(ivfProbes(ev), booksRow), enc, vectors(s, d))
    },
    annIvfPq.oracle // identical semantics: the code file is q111, materialized
  )

  /** q347's serving: q344's loop over q114's compressed store, the
    * full-corpus PQ code file built once per corpus snapshot
    * (train-once — the loop measures serving). Each batch ADC-scans only
    * its probed cells' CODES and fetches full vectors only for the
    * candidate-sized rerank join. Returns the served rows and the
    * number of served micro-batches.
    */
  private[graft] def streamServePq(s: SparkSession, d: String,
      nFiles: Int): (DataFrame, Long) = {
    val enc = graft.sources.Sources.artifactOnce(d, "ivf_pq_file_serve") { p =>
      graft.sources.Sources.write(PqTier.encode(s, d, Long.MaxValue,
        ivfWithCells(s, d, ivfCents(s, d))
          .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))),
        p, "cell").path
    }
    val (res, trail) = serveLoop(s, d, "pq_serve", nFiles, PqTier.probes(s, d, Long.MaxValue)) {
      (ss, local, cells, _) => (serveBatch(ss, d, PqTier, local, Seq(enc), cells), 0L)
    }
    (res, trail.size.toLong)
  }

  /** q347 — PQ-COMPRESSED STREAMING SERVING (round-15 verdict task 6):
    * q344 streams probes against an inverted file of FULL vectors; at
    * 100 TB the serving tier reads codes, not floats (q114's file is
    * the measured 18.6× smaller artifact), so this query routes the
    * q344 loop through the materialized PQ store — per micro-batch an
    * ADC scan over the probed cells' 8-byte code rows (the probe's 8×8
    * lookup table rides on the probe row), a per-probe candidate cut,
    * and an exact cosine rerank that fetches full vectors ONLY for the
    * candidate set. The DuckDB oracle is q111's full PQ chain: hash
    * equality proves the streamed, batch-pruned, compressed path emits
    * exactly what the one-shot ADC search does — and because the
    * rerank is exact over the ADC short list, the top-5 is the same
    * whether the store holds codes or vectors wherever ADC recall
    * admits the true neighbors. `AnnPqServeSpec` pins the pruned scan,
    * the batching-layout invariance, and that the serving scan reads
    * no vector column at all.
    */
  val annPqStreamServe = Q(
    "q347_ann_pq_stream_serve",
    (s, d) => streamServePq(s, d, nFiles = 4)._1,
    annIvfPq.oracle // the compressed serving path must equal the one-shot ADC search
  )

  /** The SQL filter that freezes oracle training on the base snapshot —
    * shared by every lifecycle oracle (q341/q343-q346/q348 float chain,
    * q349-q352 PQ chain): the oracle trains its quantizers on the same
    * ~90% cut the engine's stored centroids/codebooks were frozen at.
    */
  private val BaseTrainFilter =
    "AND vec_id < (SELECT (max(vec_id) * 9) // 10 FROM embeddings)"

  /** q349 — PQ CODE-STORE DELTA APPEND (round-16 verdict task 2), q341's
    * twin over the compressed tier q347 serves: at 100 TB the serving
    * store holds CODES, so index maintenance must too — the arriving
    * delta is coarse-assigned against the stored base centroids and
    * PQ-encoded against the FROZEN base-trained codebooks (no retrain;
    * q352's staleness gate is the retrain trigger), then landed as a
    * cell-partitioned increment beside the immutable base code file.
    * The recurring operation is O(delta + probe): the encode is
    * row-local against one broadcast codebook row, and the range
    * predicate pushes into the delta scan. The DuckDB oracle rebuilds
    * the whole ADC chain from scratch with base-frozen training — hash
    * equality IS the proof that append-then-search ≡ re-encode-then-
    * search; `PqLifecycleSpec` pins it in-engine against a full rebuild
    * and pins that no float vector ever lands in the code store.
    */
  val annPqIndexDelta = Q(
    "q349_ann_pq_index_delta",
    (s, d) => deltaAppend(s, d, PqTier),
    Some(pqOracle(IvfLloydSteps, PqLloydSteps, BaseTrainFilter))
  )

  /** q350 — PQ CODE-STORE COMPACTION, q343's twin over the compressed
    * tier: increments of codes accumulate against the immutable base
    * code file until a cell's increment fraction crosses the same
    * [[IvfIncCompactNum]]/[[IvfIncCompactDen]] trigger, then that cell's
    * CODE rows — 8 bytes each, never a float — are rewritten once and
    * its increments retired from the manifest, with the atomic
    * generation commit isolating readers exactly as the float store's.
    * Output: the same probe set ADC-searched through the pre-compaction
    * (v3) and post-compaction (v4) manifests, tagged by phase; the
    * oracle emits the from-scratch ADC rebuild under both tags, so the
    * hash gate IS the probe-invariance proof across the compaction
    * boundary of the compressed store. `PqLifecycleSpec` pins the file
    * economics (increments retired, triggered cells rewritten once,
    * untouched cells shared by reference, no vector column on disk).
    */
  val annPqIndexCompact = Q(
    "q350_ann_pq_index_compact",
    (s, d) => compactServe(s, d, PqTier),
    Some(pqOraclePhased(IvfLloydSteps, PqLloydSteps, BaseTrainFilter))
  )

  /** q351 — PQ CODE-STORE VACUUM, q345's twin over the compressed tier:
    * after the v4 compaction commit the retired code increments (and,
    * on a store that owns its base, the compacted cells' base dirs)
    * leak until a GC pass collects them. Same pass as q345 — the
    * vacuum is layout-agnostic: the manifest prune publishes atomically
    * BEFORE any delete, candidates come only from under the root, and
    * the report's file economics are spec-pinned. The ADC search
    * through v4 is materialized before the pass and re-run after; the
    * oracle hashes pre ≡ post ≡ rebuild.
    */
  val annPqStoreVacuum = Q(
    "q351_ann_pq_store_vacuum",
    (s, d) => vacuumServe(s, d, PqTier),
    annPqIndexCompact.oracle // the vacuum must change nothing a reader sees
  )

  /** q353 — PQ SERVING ACROSS A LIVE COMPACTION COMMIT, completing the
    * dynamic-reader symmetry between the tiers: the float store has
    * both static (q343) and live (q346) reader-isolation proofs; the
    * compressed store q347 actually serves from had only the static
    * pair (q350/q351). This query drives the ADC serving loop WHILE the
    * code-store compaction commits mid-stream — batches before the
    * commit resolve v3, batches after resolve v4 (`require`d to span
    * both), every batch mounting only its probed cells' code dirs from
    * the snapshot it resolved. Oracle = the base-frozen ADC rebuild:
    * hash equality proves every micro-batch, either side of the commit,
    * served exactly the rebuild's answer over 8-byte codes.
    * `PqLifecycleSpec` pins the monotone version trail and the
    * per-version pinned replay.
    */
  val annPqServeLiveCommit = Q(
    "q353_ann_pq_serve_live_commit",
    (s, d) => streamServeLive(s, d, PqTier, nFiles = 4)._1
      .drop("batch_id", "version", "store_root"),
    Some(pqOracle(IvfLloydSteps, PqLloydSteps, BaseTrainFilter))
  )

  /** Codebook-staleness band for q352: the full-corpus delta slice may
    * carry at most `Num/Den` × the base slice's mean reconstruction
    * error under the FROZEN base-trained codebooks. Integer-ratio form
    * (the IvfIncCompact discipline) so the gate compares exact BigInt
    * products, never a float boundary.
    */
  private[graft] val PqStaleNum = 2L
  private[graft] val PqStaleDen = 1L

  /** Per-(scope, cell) reconstruction error of the base-frozen PQ
    * codebooks over an arbitrary (vec_id, v, cell) corpus — q318's
    * integer-quantized distortion machinery with the rows split into
    * `base` (vec_id < d0: what the codebooks were trained for) and
    * `delta` (what arrived since). Parameterized on the corpus so
    * `PqLifecycleSpec` can drive a synthetically drifted delta through
    * the same code path the registered query audits.
    */
  private[graft] def pqScopeDistortion(s: SparkSession, d: String, d0: Long,
      corpus: DataFrame): DataFrame = {
    val booksRow = pqBooksRow(pqBooks(s, d, maxId = d0))
    corpus.crossJoin(broadcast(booksRow))
      .withColumn("dists", transform(col("books"), mb => {
        val sub = slice(col("v"), mb.getField("m") * lit(PqSubDim) + lit(1), lit(PqSubDim))
        val best = element_at(array_sort(transform(mb.getField("cs"), sc =>
          struct((lit(0.5) * SeqDot(sc.getField("c"), sc.getField("c"))
            - SeqDot(sub, sc.getField("c"))).as("nd"),
            sc.getField("cell").as("j")))), 1)
        SeqDot(sub, sub) + lit(2.0) * best("nd")
      }))
      .withColumn("dist_q", floor(expr(
        "aggregate(dists, CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
        * lit(1e9) + lit(0.5)).cast("long"))
      .withColumn("scope",
        when(col("vec_id") < d0, lit("base")).otherwise(lit("delta")))
      .groupBy("scope", "cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist_q")).as("sum_q"), max(col("dist_q")).as("max_q"))
      .select(col("scope"), col("cell").cast("long").as("cell"), col("n_vecs"),
        col("sum_q"),
        (col("sum_q").cast("double") / lit(1e9)
          / col("n_vecs").cast("double")).as("mean_distortion"),
        (col("max_q").cast("double") / lit(1e9)).as("max_distortion"))
  }

  /** The staleness decision over collected (scope, n_vecs, sum_q)
    * triples: fresh iff Σq_delta · n_base · Den ≤ Σq_base · n_delta ·
    * Num — the exact-integer form of mean_delta ≤ (Num/Den) ·
    * mean_base. BigInt products: overflow-free at any corpus size.
    */
  private[graft] def pqCodebookFresh(rows: Seq[(String, Long, Long)]): Boolean = {
    val by = rows.groupBy(_._1).map { case (sc, xs) =>
      sc -> (xs.map(_._2).sum, xs.map(x => BigInt(x._3)).sum)
    }
    val (nB, sB) = by("base"); val (nD, sD) = by("delta")
    sD * nB * PqStaleDen <= sB * nD * PqStaleNum
  }

  /** q352 — PQ CODEBOOK STALENESS GATE (round-16 verdict task 2's
    * retrain trigger): q349-q351 maintain the code store against
    * codebooks FROZEN at the base snapshot, which is only safe while
    * the arriving data still looks like what the codebooks were trained
    * on — distortion drifting up in the delta slice is how ADC recall
    * silently rots. This audit recomputes q318's per-cell reconstruction
    * error over the full corpus under the frozen books, SPLIT into
    * base/delta scopes, and `require`s the delta's global mean within
    * [[PqStaleNum]]/[[PqStaleDen]] of the base's — the gate a
    * deployment's retrain scheduler consumes. Exactness: the same
    * ½‖c‖²−⟨sv,c⟩ argmin folds as the encoder, per-vector totals
    * quantized to integers at 1e-9, integer aggregates; full hash
    * oracle over the base-frozen coarse+PQ CTE chain. The audit is one
    * pass over the corpus with a broadcast codebook row — O(corpus·M·K),
    * amortized to zero when run beside the q349 encode it gates.
    */
  val pqCodebookStaleness = Q(
    "q352_pq_codebook_staleness",
    (s, d) => {
      val d0 = deltaCut(s, d)
      val corpus = withCells(vectors(s, d), ivfCents(s, d, maxId = d0))
        .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
      val out = pqScopeDistortion(s, d, d0, corpus)
      // one execution: the audit table is bounded (2 × cells rows) —
      // gate on the collected rows, return them as a local relation
      val rows = out.collect()
      require(pqCodebookFresh(rows.toSeq.map(r =>
        (r.getString(0), r.getLong(2), r.getLong(3)))),
        s"PQ codebooks stale: delta mean distortion exceeds " +
          s"$PqStaleNum/$PqStaleDen × base — retrain before further q349 appends")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },
    Some {
      val sub = (v: String) =>
        s"list_transform(generate_series(1, $PqSubDim), i -> $v[xc.m * $PqSubDim + i])"
      val dot = (a: String, b: String) =>
        s"list_aggregate(list_transform(generate_series(1, $PqSubDim), i -> $a[i] * $b[i]), 'sum')"
      s"""${pqChainCtes(IvfLloydSteps, PqLloydSteps, BaseTrainFilter)},
            dm AS (
              SELECT a.vec_id, a.cell, xc.m,
                     ${dot(s"${sub("a.v")}", s"${sub("a.v")}")}
                       + 2 * (0.5 * ${dot("p.c", "p.c")}
                              - ${dot(s"${sub("a.v")}", "p.c")}) AS dmv
              FROM assigned a
              JOIN xcodes xc ON xc.vec_id = a.vec_id
              JOIN pq$PqLloydSteps p ON p.m = xc.m AND p.k = xc.code),
            pv AS (SELECT vec_id, cell,
                          CAST(floor(list_aggregate(list(dmv ORDER BY m), 'sum')
                                     * 1e9 + 0.5) AS BIGINT) AS dist_q
                   FROM dm GROUP BY 1, 2),
            sc AS (SELECT vec_id, cell, dist_q,
                          CASE WHEN vec_id < (SELECT (max(vec_id) * 9) // 10
                                              FROM embeddings)
                               THEN 'base' ELSE 'delta' END AS scope
                   FROM pv)
            SELECT scope, cell, CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(sum(dist_q) AS BIGINT) AS sum_q,
                   CAST(sum(dist_q) AS DOUBLE) / 1e9 / CAST(count(*) AS DOUBLE)
                     AS mean_distortion,
                   CAST(max(dist_q) AS DOUBLE) / 1e9 AS max_distortion
            FROM sc GROUP BY 1, 2"""
    }
  )

  /** The q111 oracle: the shared coarse CTE chain, then the PQ Lloyd
    * steps unrolled (`pq{t}` from `pq{t-1}` exactly as [[pqLloydStep]]),
    * corpus encoding by per-subspace argmin, per-probe LUT, the
    * m-ordered ADC fold, candidate cut, exact rerank.
    */
  /** The PQ training + encode oracle chain through `xcodes` (every
    * vector's per-subspace code), shared by q111/q114's ADC search
    * tail and q318's distortion audit.
    */
  private def pqChainCtes(coarseSteps: Int, pqSteps: Int,
      sampExtra: String = ""): String = {
    val sub = (v: String) => s"list_transform(generate_series(1, $PqSubDim), i -> $v[m * $PqSubDim + i])"
    val dot = (a: String, b: String) =>
      s"list_aggregate(list_transform(generate_series(1, $PqSubDim), i -> $a[i] * $b[i]), 'sum')"
    val stepCtes = (1 to pqSteps).map { t =>
      s"""pd$t AS (
              SELECT s.m, s.vec_id, s.sv, p.k,
                     0.5 * ${dot("p.c", "p.c")} - ${dot("s.sv", "p.c")} AS nd
              FROM ssub s JOIN pq${t - 1} p USING (m)),
            pa$t AS (
              SELECT m, vec_id, sv, k AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY m, vec_id
                               ORDER BY nd ASC, k ASC) AS r
                FROM pd$t) q
              WHERE r = 1),
            pg$t AS (SELECT m, code, list(sv ORDER BY vec_id) AS vs
                     FROM pa$t GROUP BY m, code),
            pr$t AS (
              SELECT m, code, list_transform(generate_series(1, $PqSubDim), i ->
                       list_aggregate(list_transform(vs, x -> x[i]), 'sum') / len(vs)) AS c1
              FROM pg$t),
            pq$t AS (
              SELECT p.m, p.k, coalesce(r.c1, p.c) AS c
              FROM pq${t - 1} p LEFT JOIN pr$t r ON r.m = p.m AND r.code = p.k)"""
    }.mkString(",\n            ")
    s"""${ivfOracleCtes(coarseSteps, sampExtra)},
            ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
            pq0 AS (
              SELECT m, k, list_transform(generate_series(0, ${PqSubDim - 1}),
                       i -> (('0x' || substr(md5(concat('q', m, ',', k, ',', i)), 1, 8))::BIGINT
                             / 4294967296.0) - 0.5) AS c
              FROM ms, (SELECT unnest(generate_series(0, ${PqK - 1})) AS k) ks),
            ssub AS (SELECT m, vec_id, ${sub("v")} AS sv FROM samp, ms),
            $stepCtes,
            xcodes AS (
              SELECT vec_id, m, k AS code FROM (
                SELECT a.vec_id, p.m, p.k,
                       row_number() OVER (PARTITION BY a.vec_id, p.m
                           ORDER BY 0.5 * ${dot("p.c", "p.c")}
                                    - ${dot(s"${sub("a.v")}", "p.c")} ASC, p.k ASC) AS r
                FROM assigned a CROSS JOIN pq$pqSteps p) q
              WHERE r = 1)"""
  }

  /** The full PQ ADC search oracle through the `rescored` CTE — shared
    * by the one-result tail ([[pqOracle]]: q111/q114/q347/q349) and the
    * phase-tagged tail ([[pqOraclePhased]]: q350/q351, the q343 probe-
    * invariance idiom over the compressed store).
    */
  private def pqSearchCtes(coarseSteps: Int, pqSteps: Int,
      sampExtra: String = ""): String = {
    val sub = (v: String) => s"list_transform(generate_series(1, $PqSubDim), i -> $v[m * $PqSubDim + i])"
    val dot = (a: String, b: String) =>
      s"list_aggregate(list_transform(generate_series(1, $PqSubDim), i -> $a[i] * $b[i]), 'sum')"
    s"""${pqChainCtes(coarseSteps, pqSteps, sampExtra)},
            lutc AS (
              SELECT q.vec_id AS probe_id, p.m, p.k,
                     ${dot(s"${sub("q.v")}", "p.c")} AS lv
              FROM (SELECT DISTINCT vec_id, v FROM probes) q CROSS JOIN pq$pqSteps p),
            pairs AS (
              SELECT q.vec_id AS probe_id, x.vec_id AS neighbor_id
              FROM probes q JOIN assigned x
                ON x.cell = q.cell AND x.vec_id <> q.vec_id),
            adc AS (
              SELECT pr.probe_id, pr.neighbor_id,
                     round(list_aggregate(list(l.lv ORDER BY l.m), 'sum'), 6) AS adc
              FROM pairs pr
              JOIN xcodes xc ON xc.vec_id = pr.neighbor_id
              JOIN lutc l ON l.probe_id = pr.probe_id AND l.m = xc.m AND l.k = xc.code
              GROUP BY pr.probe_id, pr.neighbor_id),
            cand AS (
              SELECT probe_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc DESC, neighbor_id ASC) AS crnk
                FROM adc) t
              WHERE crnk <= $RerankCand),
            rescored AS (
              SELECT c.probe_id, c.neighbor_id,
                     round(list_cosine_similarity(q.v, x.v), 6) AS cos_sim
              FROM cand c
              JOIN (SELECT DISTINCT vec_id, v FROM probes) q ON q.vec_id = c.probe_id
              JOIN e x ON x.vec_id = c.neighbor_id),
            pqres AS (
              SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
                FROM rescored) t
              WHERE rnk <= 5)"""
  }

  private def pqOracle(coarseSteps: Int, pqSteps: Int,
      sampExtra: String = ""): String =
    s"""${pqSearchCtes(coarseSteps, pqSteps, sampExtra)}
            SELECT probe_id, neighbor_id, cos_sim, rnk FROM pqres"""

  /** The PQ search emitted under both phase tags — the q343 idiom: the
    * hash then proves a storage-layout change (compaction, vacuum) is
    * invisible to the compressed search with zero new SQL.
    */
  private def pqOraclePhased(coarseSteps: Int, pqSteps: Int,
      sampExtra: String = ""): String =
    s"""${pqSearchCtes(coarseSteps, pqSteps, sampExtra)}
            SELECT ph.phase, r.probe_id, r.neighbor_id, r.cos_sim, r.rnk
            FROM (VALUES ('pre'), ('post')) ph(phase) CROSS JOIN pqres r"""

  /** q117 — SEMANTIC DEDUPLICATION (the SemDeDup recipe, Abbas et al.
    * 2023): cluster the embedding space with k-means, then search for
    * near-duplicate pairs ONLY within each cluster, dropping the
    * higher-id member of every pair above the cosine threshold. Output
    * is the retained corpus membership (vec_id, cell).
    *
    * This is the third blocking strategy in the embedding-near-dup
    * family — q26 blocks by a trusted label, q96 by a random-hyperplane
    * LSH bucket, q117 by a LEARNED k-means cell (the published SemDeDup
    * choice: semantic duplicates concentrate in the same cluster far
    * more reliably than in the same random bucket, so fewer probes catch
    * more dups). The cells are the SAME deterministic 3-step-Lloyd
    * centroids the IVF index trains ([[ivfCents]], memoized per dir), so
    * the dedup pass and the ANN index share one training artifact.
    *
    * Scale shape: one shuffle on the cell id, then a block-nested-loop
    * per cell as a typed flatMapGroups (q26's discipline — tight scalar
    * loops, ~30× over per-pair Catalyst array expressions). Within-cell
    * work is quadratic in CELL size, never corpus size: at 100 TB the
    * centroid count k scales with the corpus (SemDeDup uses n/⌀cluster;
    * here k = [[IvfCentroids]] at test scale) so cells stay
    * executor-bounded, and a runaway hot cell would get the q48 salting
    * treatment on its block loop. The survivor rule (keep the smallest
    * vec_id of each qualifying pair) is q22/q89's deterministic
    * min-id discipline — no RNG, rerun-stable.
    *
    * Oracle: the IVF CTE chain ([[ivfOracleCtes]] — shared with
    * q63/q109, so the blocking can never drift from the index) ending at
    * `assigned`, then a within-cell self-join with the q96 portable
    * rounding rule (floor(x·1e6 + 0.5)/1e6, not round()) at the same
    * [[NearDupThreshold]]. Non-finite cosines (NaN-element vectors
    * exist in the corpus) are dropped from the PAIR set on both engines,
    * so those vectors are always retained.
    */
  /** The q117 body at an arbitrary centroid count `k` — the SemDeDup
    * scale dial (k ≈ n/⌀cell). q117 runs it at the oracle-pinned
    * [[IvfCentroids]]; `SemDedupSpec` runs a second k to pin the
    * cells-shrink / survivors-converge contract.
    */
  private[graft] def semDedupRetained(s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    val assigned = ivfWithCells(s, d, ivfCents(s, d, IvfLloydSteps, k))
      .select(element_at(col("cells"), 1)("j").as("cell"), col("vec_id"), col("v"))
    val dropped = assigned.as[(Int, Long, Array[Double])]
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          val block = it.toArray.sortBy(_._2)
          val norms = block.map { case (_, _, v) =>
            var ss = 0.0; var i = 0
            while (i < v.length) { ss += v(i) * v(i); i += 1 }
            math.sqrt(ss)
          }
          for {
            a <- block.indices.iterator
            b <- (a + 1) until block.length
            dot = {
              val va = block(a)._3; val vb = block(b)._3
              var acc = 0.0; var i = 0
              while (i < va.length) { acc += va(i) * vb(i); i += 1 }
              acc
            }
            raw = dot / (norms(a) * norms(b))
            if java.lang.Double.isFinite(raw)
            if math.floor(raw * 1e6 + 0.5) / 1e6 >= NearDupThreshold
          } yield block(b)._2 // the higher id of the pair is the duplicate
        }
      .toDF("vec_id").distinct()
    assigned.select(col("vec_id"), col("cell").cast("long"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** q177 — SALTED SemDeDup block loop: the hot-cell cure q117's
    * scaladoc promises, implemented and proven output-identical. q117's
    * within-cell loop is quadratic in CELL size — fine while k tracks
    * the corpus, fatal the day one cell goes viral (every embedding of
    * a template page landing together). The salted form splits each
    * cell's members into ⌈n/cap⌉ hash groups and enumerates UNORDERED
    * GROUP PAIRS (g1 ≤ g2) as independent tasks: every within-cell pair
    * lands in exactly one task (the pair of its two groups — complete
    * by construction, no dedup pass needed), each task holds at most
    * 2·cap vectors (executor-bounded regardless of cell size), and a
    * row is replicated G times (G = groups of its cell) — the q48/q128
    * replicate-the-small-dimension trade applied to a PAIR loop. Total
    * pair work is unchanged; what changes is the largest single task:
    * C(n,2) → ~C(cap,2), which is the difference between a straggler
    * pinning one executor for hours and even parallel work.
    *
    * Oracle: q117's, verbatim — the salted plan must produce the exact
    * retained set. `SemDedupSpec` additionally pins salted ≡ plain at
    * the row level and that the fixture really exercises G > 1.
    */
  private[graft] val SemDedupBlockCap = 32L

  val semDedupSalted = Q(
    "q177_semdedup_salted",
    (s, d) => {
      import s.implicits._
      val assigned = ivfWithCells(s, d, ivfCents(s, d))
        .select(element_at(col("cells"), 1)("j").as("cell"), col("vec_id"), col("v"))
      // per-cell group counts: a k-row metadata aggregate (cluster-
      // bounded), broadcast as the salting dial
      val groups = assigned.groupBy("cell").agg(count(lit(1)).as("cn"))
        .collect()
        .map(r => r.getAs[Int]("cell") ->
          math.max(1L, (r.getAs[Long]("cn") + SemDedupBlockCap - 1) / SemDedupBlockCap).toInt)
        .toMap
      val gB = s.sparkContext.broadcast(groups)
      val dropped = assigned.as[(Int, Long, Array[Double])]
        .flatMap { case (cell, id, v) =>
          val g = gB.value(cell)
          val mine = (id % g).toInt
          // replicate into every unordered group pair containing my group
          (0 until g).iterator.map { other =>
            val lo = math.min(mine, other); val hi = math.max(mine, other)
            (cell, lo, hi, mine, id, v)
          }
        }
        .groupByKey(t => (t._1, t._2, t._3))
        .flatMapGroups { (key: (Int, Int, Int), it: Iterator[(Int, Int, Int, Int, Long, Array[Double])]) =>
          val (_, g1, g2) = key
          val block = it.map(t => (t._4, t._5, t._6)).toArray.sortBy(_._2)
          val norms = block.map { case (_, _, v) =>
            var ss = 0.0; var i = 0
            while (i < v.length) { ss += v(i) * v(i); i += 1 }
            math.sqrt(ss)
          }
          for {
            a <- block.indices.iterator
            b <- (a + 1) until block.length
            // this task owns exactly the pairs whose group pair IS
            // (g1, g2); same-group pairs of g2 belong to task (g2, g2)
            if math.min(block(a)._1, block(b)._1) == g1 &&
              math.max(block(a)._1, block(b)._1) == g2
            dot = {
              val va = block(a)._3; val vb = block(b)._3
              var acc = 0.0; var i = 0
              while (i < va.length) { acc += va(i) * vb(i); i += 1 }
              acc
            }
            raw = dot / (norms(a) * norms(b))
            if java.lang.Double.isFinite(raw)
            if math.floor(raw * 1e6 + 0.5) / 1e6 >= NearDupThreshold
          } yield block(b)._2
        }
        .toDF("vec_id").distinct()
      assigned.select(col("vec_id"), col("cell").cast("long"))
        .join(dropped, Seq("vec_id"), "left_anti")
    },
    Some(s"""${ivfOracleCtes(IvfLloydSteps)},
            dropped AS (
              SELECT DISTINCT b.vec_id
              FROM assigned a JOIN assigned b
                ON b.cell = a.cell AND a.vec_id < b.vec_id
              WHERE isfinite(list_cosine_similarity(a.v, b.v))
                AND floor(list_cosine_similarity(a.v, b.v) * 1e6 + 0.5) / 1e6
                      >= $NearDupThreshold)
            SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell
            FROM assigned s LEFT JOIN dropped dr ON dr.vec_id = s.vec_id
            WHERE dr.vec_id IS NULL""")
  )

  val semDedup = Q(
    "q117_semdedup",
    (s, d) => semDedupRetained(s, d, IvfCentroids),
    Some(s"""${ivfOracleCtes(IvfLloydSteps)},
            dropped AS (
              SELECT DISTINCT b.vec_id
              FROM assigned a JOIN assigned b
                ON b.cell = a.cell AND a.vec_id < b.vec_id
              WHERE isfinite(list_cosine_similarity(a.v, b.v))
                AND floor(list_cosine_similarity(a.v, b.v) * 1e6 + 0.5) / 1e6
                      >= $NearDupThreshold)
            SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell
            FROM assigned s LEFT JOIN dropped dr ON dr.vec_id = s.vec_id
            WHERE dr.vec_id IS NULL""")
  )

  /** q131 — FILTERED VECTOR SEARCH: q63's IVF top-k under a metadata
    * predicate (label % 3 = 0) — the hybrid query every production
    * vector store serves ("nearest neighbors WHERE lang='en' AND
    * license='permissive'"), and the one a naive post-filter breaks: a
    * top-5-then-filter returns FEWER than 5 (or zero) rows when the
    * neighborhood is dominated by non-matching vectors. The correct
    * shape filters the CORPUS side before ranking — probes still probe
    * their `IvfNProbe` cells, scoring joins only cell-matched AND
    * predicate-matched vectors, and the rank window sees exactly the
    * eligible population. The predicate applies to the corpus, never
    * the probe (a query vector needn't satisfy the filter it searches
    * under).
    *
    * Scale shape: identical to q63 plus one equi-join to the metadata
    * column (vec_id-keyed, pruned to `label` by Catalyst) and the
    * pushed predicate — at 100 TB the label filter lands in the
    * inverted-file scan (q76's layout would put label alongside the
    * codes, making this a `PushedFilters` entry, zero extra join).
    * Oracle: the shared IVF CTE chain with the label join on
    * `assigned` — cell assignment provably identical to q63's.
    */
  val filteredAnn = Q(
    "q131_ann_filtered",
    (s, d) => {
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val labels = Tables.embeddings(s, d)
        .where(col("label") % 3 === 0)
        .select(col("vec_id").as("lid"))
      val corpus = ev
        .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
        .join(labels, col("vec_id") === col("lid"))
        .drop("lid")
      ivfRank(ivfProbes(ev), corpus)
    },
    Some(s"""${ivfOracleCtes(IvfLloydSteps)},
            filt AS (SELECT a.vec_id, a.v, a.cell
                     FROM assigned a
                     JOIN embeddings em ON em.vec_id = a.vec_id
                     WHERE em.label % 3 = 0),
            scored AS (
              SELECT q.vec_id AS probe_id, x.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, x.v), 6) AS cos_sim
              FROM probes q JOIN filt x
                ON x.cell = q.cell AND x.vec_id <> q.vec_id)
            SELECT probe_id, neighbor_id, cos_sim, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                             ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
              FROM scored) t
            WHERE rnk <= 5""")
  )

  /** q141 — CONTRASTIVE HARD-NEGATIVE MINING: for each probe, its best
    * SAME-label neighbor (the anchor-positive) paired with the top-5
    * highest-cosine DIFFERENT-label neighbors (the hard negatives) and
    * the anchor margin pos_sim − neg_sim — the pair-mining pass that
    * turns an embedding corpus into contrastive training data (easy
    * negatives teach nothing; the hardest ones define the decision
    * boundary, and a small or negative margin flags the probes whose
    * class boundary the encoder currently gets wrong).
    *
    * Scale design: ONE broadcast-probe scoring pass (q27's bounded BNLJ
    * — the corpus never shuffles) feeds both rank windows; the windows
    * partition by probe_id (bounded by the probe set, never by corpus
    * key), and the positive/negative split is a filter on the already-
    * scored rows, not a second scan. At 100 TB the scoring pass is the
    * q109/q117 move — block by IVF cell first, then mine within cells;
    * the margin/rank logic is unchanged. Margin is a single IEEE
    * subtraction of two 6-digit-rounded doubles — portable bit-exact.
    */
  val hardNegatives = Q(
    "q141_hard_negatives",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      val probes = e.where(col("vec_id") < 8)
      val scored = broadcast(probes).as("q")
        .join(e.as("x"), col("x.vec_id") =!= col("q.vec_id"))
        .select(col("q.vec_id").as("probe_id"), col("q.label").as("plabel"),
          col("x.vec_id").as("nid"), col("x.label").as("nlabel"),
          round(CosineSimilarity(col("q.v"), col("x.v")), 6).as("sim"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("sim").desc, col("nid").asc)
      val pos = scored.where(col("nlabel") === col("plabel"))
        .withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("probe_id"), col("nid").as("pos_id"), col("sim").as("pos_sim"))
      val neg = scored.where(col("nlabel") =!= col("plabel"))
        .withColumn("r", row_number().over(w)).where(col("r") <= 5)
        .select(col("probe_id"), col("nid").as("neg_id"), col("sim").as("neg_sim"),
          col("r").cast("long").as("rnk"))
      neg.join(pos, "probe_id")
        .select(col("probe_id"), col("pos_id"), col("pos_sim"),
          col("neg_id"), col("neg_sim"),
          (col("pos_sim") - col("neg_sim")).as("margin"), col("rnk"))
    },
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            p AS (SELECT * FROM e WHERE vec_id < 8),
            scored AS (SELECT p.vec_id AS probe_id, p.label AS plabel,
                              x.vec_id AS nid, x.label AS nlabel,
                              round(list_cosine_similarity(p.v, x.v), 6) AS sim
                       FROM p JOIN e x ON x.vec_id <> p.vec_id),
            pos AS (SELECT probe_id, nid AS pos_id, sim AS pos_sim FROM (
                      SELECT *, row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, nid) AS r
                      FROM scored WHERE nlabel = plabel) t WHERE r = 1),
            neg AS (SELECT probe_id, nid AS neg_id, sim AS neg_sim,
                           CAST(r AS BIGINT) AS rnk FROM (
                      SELECT *, row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, nid) AS r
                      FROM scored WHERE nlabel <> plabel) t WHERE r <= 5)
            SELECT n.probe_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
                   p.pos_sim - n.neg_sim AS margin, n.rnk
            FROM neg n JOIN pos p ON p.probe_id = n.probe_id""")
  )

  /** q262 — EMBEDDING GRAMIAN (Σ v·vᵀ): the distributed kernel under
    * every second-order embedding operation — PCA / whitening before
    * IVF (cell shapes round out, recall rises at fixed probes),
    * anisotropy diagnostics (embedding-space collapse shows up as a
    * dominant eigenvalue), and OPQ-style rotations for q111's product
    * quantizer. The scalable shape is the one thing that matters: each
    * row expands to its d² products via ONE nested index-lambda
    * `transform` (no self-join — a join on vec_id would re-shuffle the
    * corpus to multiply a row by itself), and the groupBy(i, j)
    * aggregation map-side-combines every partition down to ≤ d² rows
    * before the exchange — at 1B vectors the shuffle carries
    * O(parts·d²), never O(rows·d²). Exactness discipline: float32
    * values and their pairwise products are exactly representable as
    * doubles, and summation goes through DECIMAL(28,12) (the q03
    * dsum trick at gramian scale), so both engines produce the
    * IDENTICAL matrix — a full hash oracle over 4096 entries. The
    * bounded d×d result is then driver-sized by construction;
    * `GramianSpec` runs power iteration on it (symmetry, positive
    * diagonal, Rayleigh residual < 1e-6) — the eigen step is
    * metadata-plane and needs no cross-engine oracle.
    */
  /** The full symmetric gramian as (i, j, g) — q262's registered body,
    * factored so q293's power iteration consumes the same distributed
    * kernel. See q262's scaladoc for the generation economies.
    */
  private[graft] def gramianDF(s: SparkSession, d: String): DataFrame = {
    // Two generation economies over the naive nested
    // transform-to-struct spelling (which allocated a 4096-element
    // struct array per row before the aggregate ever saw it —
    // measured 13 s at sf0.1): (1) chained posexplode streams
    // products through codegen'd Generate stages with no struct
    // materialization; (2) the gramian is SYMMETRIC, so only the
    // upper triangle (j ≥ i) is generated and aggregated — half the
    // rows — and the lower triangle is mirrored from the EXACT
    // per-cell decimal sums afterwards (the multiset of products in
    // cell (j,i) is identical to (i,j), so the mirror is exact, not
    // approximate). Measured 13.4 -> 5.1 s isolated at sf0.1 (reps=3),
    // same bit-exact oracle result.
    val upper = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("i", "x")), col("embedding"))
      .select(col("i"), col("x"),
        posexplode(expr("slice(embedding, i + 1, size(embedding) - i)"))
          .as(Seq("jo", "y")))
      .select(col("i").cast("long").as("i"),
        (col("i") + col("jo")).cast("long").as("j"),
        (col("x").cast("double") * col("y").cast("double")).as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(28,12)")).cast("double").as("g"))
    upper.unionAll(upper.where(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("g")))
  }

  /** The gramian as a SHARED MATERIALIZED ARTIFACT — scratch parquet
    * built once per data dir and memoized (the q23 pair-table / ivfCents
    * train-once discipline): two registered consumers re-derive this
    * exact relation — q262 (the gramian itself) and q293 (the eigen
    * step) — and a production deployment persists exactly this table
    * (PCA, anisotropy monitoring, and OPQ rotation all read the stored
    * Σ v·vᵀ; nobody re-multiplies a billion vectors per question).
    * Oracles are UNCHANGED — they recompute the same cells from the
    * base table. Staleness/race guards live in
    * [[graft.sources.Sources.artifactOnce]].
    */
  private[graft] def gramianArtifact(s: SparkSession, d: String): DataFrame =
    graft.sources.Sources.artifactOnce(d, "gramian_shared") { p =>
      graft.sources.Sources.write(gramianDF(s, d), p)
    }.read(s)

  val embeddingGramian = Q(
    "q262_embedding_gramian",
    (s, d) => gramianArtifact(s, d),
    Some("""WITH u AS (SELECT vec_id,
                         unnest(embedding) AS val,
                         unnest(generate_series(0, len(embedding) - 1)) AS idx
                       FROM embeddings)
            SELECT CAST(a.idx AS BIGINT) AS i, CAST(b.idx AS BIGINT) AS j,
                   CAST(sum(CAST(CAST(a.val AS DOUBLE) * CAST(b.val AS DOUBLE)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS g
            FROM u a JOIN u b USING (vec_id)
            GROUP BY 1, 2""")
  )

  /** q293 — TOP PRINCIPAL COMPONENT by POWER ITERATION over the q262
    * gramian: the eigen-step that turns Σ v·vᵀ into something a
    * pipeline acts on — the dominant direction for PCA whitening
    * before IVF training, anisotropy/collapse monitoring (a runaway
    * λ₁ means the embedding space degenerated), and the rotation seed
    * for OPQ. The 100 TB shape is the point: the DISTRIBUTED work is
    * the one-pass gramian (corpus-sized, q262's kernel, reused via
    * `gramianDF`); the eigen solve then runs on the DRIVER over the
    * bounded d×d artifact (d = 64 ⇒ 4096 doubles — the ivfCents
    * metadata-plane collect class), because iterating matvecs through
    * a cluster for a 32 KB matrix would be all coordination and no
    * compute. 200 fixed iterations from the uniform unit vector
    * (1/√d — exact in IEEE for d = 64), λ = ‖G·v‖ after the last step;
    * 200 because this fixture's eigengap is thin (λ₂/λ₁ ≈ 0.93, so
    * alignment error ≈ 0.93²⁰⁰ ≈ 8·10⁻⁷ — the same count GramianSpec
    * converges at), and a FIXED count (never "until converged") keeps
    * the op sequence engine-replayable.
    *
    * Full hash oracle with NO tolerance: the gramian entries are
    * bit-identical across engines (q262's decimal discipline), the
    * start vector is exact, and every iteration is the same IEEE op
    * sequence — ascending-index matvec sums and norm folds (Scala
    * while-loops ↔ DuckDB `list_aggregate(list_transform(...))`, the
    * q63 strict-left-fold equivalence), `sqrt` (IEEE-exact), and
    * element-wise division — replayed in a recursive CTE. Convergence
    * quality itself is GramianSpec territory (Rayleigh residual); this
    * query pins the cross-engine determinism of the whole
    * gramian→eigen pipeline.
    */
  val powerIteration = Q(
    "q293_power_iteration",
    (s, d) => {
      import s.implicits._
      val cells = gramianArtifact(s, d).collect() // d² = 4096 — metadata-plane
      val dim = cells.iterator.map(_.getLong(0)).max.toInt + 1
      val g = Array.ofDim[Double](dim, dim)
      cells.foreach(r => g(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2))
      var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      var lambda = 0.0
      var k = 0
      while (k < 200) {
        val w = new Array[Double](dim)
        var i = 0
        while (i < dim) {
          var acc = 0.0
          var j = 0
          while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
          w(i) = acc
          i += 1
        }
        var n2 = 0.0
        var i2 = 0
        while (i2 < dim) { n2 += w(i2) * w(i2); i2 += 1 }
        lambda = math.sqrt(n2)
        v = w.map(_ / lambda)
        k += 1
      }
      v.zipWithIndex
        .map { case (c, i) => (i.toLong, c, lambda) }.toSeq
        .toDF("idx", "component", "eigenvalue")
    },
    Some("""WITH RECURSIVE
            u AS (SELECT vec_id, unnest(embedding) AS val,
                         unnest(generate_series(0, len(embedding) - 1)) AS idx
                  FROM embeddings),
            gram AS (SELECT a.idx AS i, b.idx AS j,
                            CAST(sum(CAST(CAST(a.val AS DOUBLE) * CAST(b.val AS DOUBLE)
                                          AS DECIMAL(28,12))) AS DOUBLE) AS g
                     FROM u a JOIN u b USING (vec_id)
                     GROUP BY 1, 2),
            rows_g AS (SELECT i, list(g ORDER BY j) AS gr FROM gram GROUP BY i),
            gmat AS (SELECT list(gr ORDER BY i) AS gm, CAST(count(*) AS BIGINT) AS dim
                     FROM rows_g),
            it AS (
              SELECT 0 AS k,
                     list_transform(generate_series(1, dim),
                       x -> CAST(1 AS DOUBLE) / sqrt(CAST(dim AS DOUBLE))) AS v,
                     CAST(0 AS DOUBLE) AS lambda, gm, dim
              FROM gmat
              UNION ALL
              SELECT k + 1,
                     list_transform(w, x -> x /
                       sqrt(list_aggregate(list_transform(w, y -> y * y), 'sum'))),
                     sqrt(list_aggregate(list_transform(w, y -> y * y), 'sum')),
                     gm, dim
              FROM (SELECT k, gm, dim,
                           list_transform(generate_series(1, dim),
                             i -> list_aggregate(
                               list_transform(generate_series(1, dim),
                                 j -> gm[i][j] * v[j]), 'sum')) AS w
                    FROM it WHERE k < 200) t),
            fin AS (SELECT v, lambda FROM it WHERE k = 200)
            SELECT CAST(i - 1 AS BIGINT) AS idx, v[i] AS component,
                   lambda AS eigenvalue
            FROM fin, unnest(generate_series(1, len(v))) AS t(i)""")
  )

  /** q277 — RECIPROCAL-RANK FUSION (RRF), the standard hybrid-retrieval
    * combiner (Cormack et al., SIGIR'09; what OpenSearch/Vespa/Elastic
    * run to merge BM25 and vector hits): each ranker contributes
    * `1/(k + rank)` with k = 60, so lists with INCOMPARABLE score
    * scales fuse on rank alone — no calibration, robust to one ranker's
    * outliers. Here the two views are full-dimension cosine and its
    * 16-dim MATRYOSHKA-prefix counterpart (the q107 truncation, cut
    * deeper) — a realistic ensemble (full-precision vs cheap-truncated
    * retrieval) whose rankings genuinely disagree; this fixture's
    * unit-normalized vectors make raw dot product collapse into
    * cosine, so an angle-vs-magnitude pair would fuse two IDENTICAL
    * lists and prove nothing. `RrfFusionSpec` pins that single-list
    * members actually compete.
    *
    * Scale design: ONE scored pass (the q27 broadcast-probe
    * nested-loop — corpus never shuffles) feeds BOTH rankings as two
    * Window columns over the SAME partition key, so Spark plans one
    * exchange with two sorts — not two scans joined back. Candidates
    * are cut to top-20 per ranker per probe BEFORE fusion (membership
    * and fused score both derive from the rank columns in the same
    * projection — no self-join; absent-from-a-list contributes 0), and
    * the final top-10 is a third window on the already-candidate-sized
    * rows. Portability: both cosines are bit-identical across engines
    * (CosineSimilarity ≡ list_cosine_similarity, on the full arrays
    * and on the same 16-element prefix slice), ranks are integers, and
    * the fused score is a fixed two-term sum of exact divisions in
    * textual order — identical doubles, no rounding anywhere.
    */
  val rrfFusion = Q(
    "q277_rrf_fusion",
    (s, d) => {
      val e = vectors(s, d)
      val probes = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("v").as("qv"))
      val scored = broadcast(probes)
        .join(e, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          CosineSimilarity(col("qv"), col("v")).as("cs"),
          CosineSimilarity(slice(col("qv"), 1, 16), slice(col("v"), 1, 16)).as("dt"))
      val wc = Window.partitionBy("probe_id")
        .orderBy(col("cs").desc, col("neighbor_id").asc)
      val wd = Window.partitionBy("probe_id")
        .orderBy(col("dt").desc, col("neighbor_id").asc)
      val ranked = scored
        .withColumn("rc", row_number().over(wc).cast("long"))
        .withColumn("rd", row_number().over(wd).cast("long"))
        .where(col("rc") <= 20 || col("rd") <= 20)
        .select(col("probe_id"), col("neighbor_id"),
          when(col("rc") <= 20, col("rc")).otherwise(lit(0L)).as("r_cos"),
          when(col("rd") <= 20, col("rd")).otherwise(lit(0L)).as("r_dot"),
          (when(col("rc") <= 20, lit(1.0) / (lit(60.0) + col("rc")))
             .otherwise(lit(0.0)) +
           when(col("rd") <= 20, lit(1.0) / (lit(60.0) + col("rd")))
             .otherwise(lit(0.0))).as("rrf_score"))
      val wf = Window.partitionBy("probe_id")
        .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
      ranked.withColumn("rnk", row_number().over(wf).cast("long"))
        .where(col("rnk") <= 10)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            p AS (SELECT vec_id AS probe_id, v AS qv FROM e WHERE vec_id < 8),
            sc AS (SELECT p.probe_id, x.vec_id AS neighbor_id,
                          list_cosine_similarity(p.qv, x.v) AS cs,
                          list_cosine_similarity(p.qv[1:16], x.v[1:16]) AS dt
                   FROM p JOIN e x ON x.vec_id <> p.probe_id),
            r AS (SELECT probe_id, neighbor_id,
                         CAST(row_number() OVER (PARTITION BY probe_id
                              ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rc,
                         CAST(row_number() OVER (PARTITION BY probe_id
                              ORDER BY dt DESC, neighbor_id) AS BIGINT) AS rd
                  FROM sc
                  QUALIFY rc <= 20 OR rd <= 20),
            f AS (SELECT probe_id, neighbor_id,
                         CASE WHEN rc <= 20 THEN rc ELSE 0 END AS r_cos,
                         CASE WHEN rd <= 20 THEN rd ELSE 0 END AS r_dot,
                         (CASE WHEN rc <= 20
                               THEN CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rc)
                               ELSE CAST(0.0 AS DOUBLE) END)
                       + (CASE WHEN rd <= 20
                               THEN CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rd)
                               ELSE CAST(0.0 AS DOUBLE) END) AS rrf_score
                  FROM r)
            SELECT probe_id, neighbor_id, r_cos, r_dot, rrf_score,
                   CAST(row_number() OVER (PARTITION BY probe_id
                        ORDER BY rrf_score DESC, neighbor_id) AS BIGINT) AS rnk
            FROM f
            QUALIFY rnk <= 10""")
  )

  /** q307 — MUTUAL k-NN (reciprocal nearest neighbors) within IVF
    * cells: keep pair (a,b) only when b is in a's top-3 AND a is in
    * b's top-3 — the standard robust-match criterion (Lowe-style
    * mutual matching, margin-based bitext mining, SemDeDup variants)
    * that directional top-k cannot express: hub vectors sit in
    * EVERYONE's neighbor list while their own list holds only other
    * hubs, so asymmetric matches are systematically polluted near
    * density peaks; mutuality is the cheap hubness filter. Distinct
    * from q63 (directional serving), q117 (threshold dedup), q141
    * (asymmetric by design — a hard negative needn't reciprocate).
    *
    * Scale shape: scoring is within-cell only (the IVF blocking — the
    * q117 candidate discipline, never all-pairs); each direction's
    * top-3 is a rank window over cell-bounded neighbor lists keyed by
    * the source vector; the reciprocity check is a self-join of the
    * top-k table on the SWAPPED pair — top-k-sized, k·corpus rows at
    * worst. Cosine is symmetric bit-for-bit (identical fold order both
    * argument orders), so the canonical a < b row carries one score;
    * non-finite cosines (zero-norm/NaN-element vectors) are filtered
    * on both engines before ranking (q26's rule).
    */
  val mutualKnn = Q(
    "q307_mutual_knn",
    (s, d) => {
      val corpus = ivfWithCells(s, d, ivfCents(s, d))
        .select(col("vec_id"), col("v"), element_at(col("cells"), 1)("j").as("cell"))
      val scored = corpus.as("a")
        .join(corpus.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          round(CosineSimilarity(col("a.v"), col("b.v")), 6).as("cos_sim"))
        .where(!isnan(col("cos_sim")) &&
          abs(col("cos_sim")) =!= lit(Double.PositiveInfinity))
      val w = Window.partitionBy("src")
        .orderBy(col("cos_sim").desc, col("dst").asc)
      val top = scored.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
      top.as("f").join(top.as("r"),
          col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
        .where(col("f.src") < col("f.dst"))
        .select(col("f.src").as("vec_a"), col("f.dst").as("vec_b"),
          col("f.cos_sim").as("cos_sim"),
          col("f.rnk").as("rank_ab"), col("r.rnk").as("rank_ba"))
    },
    Some(s"""${ivfOracleCtes(IvfLloydSteps)},
            scored AS (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                     round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
              FROM assigned a JOIN assigned b
                ON b.cell = a.cell AND b.vec_id <> a.vec_id
              WHERE isfinite(list_cosine_similarity(a.v, b.v))),
            top AS (
              SELECT * FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY src
                               ORDER BY cos_sim DESC, dst) AS BIGINT) AS rnk
                FROM scored) t
              WHERE rnk <= 3)
            SELECT f.src AS vec_a, f.dst AS vec_b, f.cos_sim AS cos_sim,
                   f.rnk AS rank_ab, r.rnk AS rank_ba
            FROM top f JOIN top r ON f.src = r.dst AND f.dst = r.src
            WHERE f.src < f.dst""")
  )

  /** q318 — PQ DISTORTION AUDIT: per-IVF-cell quantization error of
    * the q111 codebooks — mean and max ‖sv − c_code‖² summed over the
    * 8 subspaces — the sketch-then-verify discipline (q172/q290/q310)
    * applied to the ANN memory story itself: PQ's 64× compression is
    * only safe while reconstruction error stays small relative to the
    * score gaps ADC ranks by, and distortion drifting up in one cell
    * (a codebook trained before that region densified) is how recall
    * silently rots in production. Serving-side recall contracts
    * (PqSpec) catch the symptom; this table names the cell and the
    * magnitude — what a re-train trigger consumes.
    *
    * Exactness: per-subspace error uses the SAME ½‖c‖²−⟨sv,c⟩ argmin
    * fold as the encoder (`pqEncode`), so dist_m = ⟨sv,sv⟩ + 2·nd_min
    * with identical IEEE ops both engines; the 8 subspace errors fold
    * in subspace order (the ADC bit-parity precedent), each vector's
    * total is quantized to an INTEGER at 1e-9 (q279 rule) and the
    * per-cell mean/max are exact-integer aggregates divided once for
    * display — full hash oracle over the shared coarse+PQ CTE chain.
    *
    * Scale shape: one pass over the encoded corpus with the bounded
    * codebook row broadcast (the pqEncode plan — no shuffle before
    * the cell-grain aggregate); audit cost O(corpus · M · K) exactly
    * like encoding, amortized to zero when run alongside it.
    */
  val pqDistortionAudit = Q(
    "q318_pq_distortion_audit",
    (s, d) => {
      val ev = ivfWithCells(s, d, ivfCents(s, d))
      val corpus = ev.select(col("vec_id"), col("v"),
        element_at(col("cells"), 1)("j").as("cell"))
      val booksRow = pqBooksRow(pqBooks(s, d))
      corpus.crossJoin(broadcast(booksRow))
        .withColumn("dists", transform(col("books"), mb => {
          val sub = slice(col("v"), mb.getField("m") * lit(PqSubDim) + lit(1), lit(PqSubDim))
          val best = element_at(array_sort(transform(mb.getField("cs"), sc =>
            struct((lit(0.5) * SeqDot(sc.getField("c"), sc.getField("c"))
              - SeqDot(sub, sc.getField("c"))).as("nd"),
              sc.getField("cell").as("j")))), 1)
          SeqDot(sub, sub) + lit(2.0) * best("nd")
        }))
        .withColumn("dist_q", floor(expr(
          "aggregate(dists, CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
          * lit(1e9) + lit(0.5)).cast("long"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("dist_q")).as("sum_q"), max(col("dist_q")).as("max_q"))
        .select(col("cell").cast("long").as("cell"), col("n_vecs"),
          (col("sum_q").cast("double") / lit(1e9)
            / col("n_vecs").cast("double")).as("mean_distortion"),
          (col("max_q").cast("double") / lit(1e9)).as("max_distortion"))
    },
    Some {
      // `m` must be qualified: the dm CTE joins xcodes and the codebook,
      // both carrying an m column (DuckDB binder ambiguity)
      val sub = (v: String) =>
        s"list_transform(generate_series(1, $PqSubDim), i -> $v[xc.m * $PqSubDim + i])"
      val dot = (a: String, b: String) =>
        s"list_aggregate(list_transform(generate_series(1, $PqSubDim), i -> $a[i] * $b[i]), 'sum')"
      s"""${pqChainCtes(IvfLloydSteps, PqLloydSteps)},
            dm AS (
              SELECT a.vec_id, a.cell, xc.m,
                     ${dot(s"${sub("a.v")}", s"${sub("a.v")}")}
                       + 2 * (0.5 * ${dot("p.c", "p.c")}
                              - ${dot(s"${sub("a.v")}", "p.c")}) AS dmv
              FROM assigned a
              JOIN xcodes xc ON xc.vec_id = a.vec_id
              JOIN pq$PqLloydSteps p ON p.m = xc.m AND p.k = xc.code),
            pv AS (SELECT vec_id, cell,
                          CAST(floor(list_aggregate(list(dmv ORDER BY m), 'sum')
                                     * 1e9 + 0.5) AS BIGINT) AS dist_q
                   FROM dm GROUP BY 1, 2)
            SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(sum(dist_q) AS DOUBLE) / 1e9 / CAST(count(*) AS DOUBLE)
                     AS mean_distortion,
                   CAST(max(dist_q) AS DOUBLE) / 1e9 AS max_distortion
            FROM pv GROUP BY 1"""
    }
  )

  /** q330 — MMR DIVERSITY RE-RANK (Carbonell & Goldstein 1998): the
    * post-retrieval step q27/q277 stop short of — a plain cosine top-k
    * returns near-duplicates of each other (the corpus's dense cluster
    * wins every slot); Maximal Marginal Relevance greedily picks the
    * next result maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), the
    * de-duplicated shortlist every RAG serving stack applies between
    * ANN and the prompt. λ = 0.7, shortlist 5 from a 12-candidate pool
    * per probe (4 probes).
    *
    * Exactness: the greedy argmax is decided on INTEGERS — rel and
    * pairwise sims are 6-digit-rounded cosines (q27's accepted
    * boundary class) quantized to micros, so each step compares
    * 7·relμ − 3·simμ as exact BIGINTs with a vec_id tiebreak; no float
    * boundary can diverge between engines mid-recursion. The 5 greedy
    * steps are UNROLLED as dataframe joins (the q63 Lloyd discipline —
    * a driver loop over collected candidates would leave the engine).
    *
    * Scale shape: candidate generation is the q27 broadcast-probe scan
    * (corpus never shuffles); everything after operates on the
    * probes×12 candidate table and its 12×12 sim matrix — serving-side
    * work that is O(probes), independent of corpus size, exactly why
    * MMR is a re-RANKER and not a retriever.
    */
  /** q330's candidate generation — the q27 broadcast-probe scan, top-12
    * per probe with vectors carried. Exposed so PlanSpec can gate the
    * corpus contract (BroadcastNestedLoopJoin, corpus never shuffles
    * into a join) on the BUILD pipeline: the registered query
    * materializes this once, so its returned plan is local relations.
    */
  private[graft] def mmrCandidates(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val probes = e.where(col("vec_id") < 4)
    val wq = Window.partitionBy("probe_id")
      .orderBy(col("rel").desc, col("cid").asc)
    broadcast(probes).as("q")
      .join(e.as("x"), col("x.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("probe_id"), col("x.vec_id").as("cid"),
        round(CosineSimilarity(col("q.v"), col("x.v")), 6).as("rel"),
        col("x.v").as("cv"))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= 12)
      .select(col("probe_id"), col("cid"),
        floor(col("rel") * 1e6 + 0.5).cast("long").as("relu"), col("cv"))
  }

  val mmrRerank = Q(
    "q330_mmr_rerank",
    (s, d) => {
      val cand = mmrCandidates(s, d)
      // The candidate table (probes×12 rows, with vectors) is a BOUNDED
      // serving-side relation, but it sits under every one of the 5
      // unrolled greedy steps — left lazy, the corpus NL scan would
      // re-execute once per reference (~15× measured, 10.7 s → 1 scan).
      // Materialize it ONCE as a local relation (the ivfCents
      // discipline: collect → createDataFrame round-trips bit-exactly);
      // the sim matrix and the greedy recursion then run over
      // metadata-plane data only.
      val candL = s.createDataFrame(
        java.util.Arrays.asList(cand.collect(): _*), cand.schema)
      val sims = candL.as("a")
        .join(candL.as("b"),
          col("a.probe_id") === col("b.probe_id") && col("a.cid") =!= col("b.cid"))
        .select(col("a.probe_id").as("probe_id"), col("a.cid").as("ca"),
          col("b.cid").as("cb"),
          floor(round(CosineSimilarity(col("a.cv"), col("b.cv")), 6) * 1e6 + 0.5)
            .cast("long").as("simu"))
      val c = candL.select("probe_id", "cid", "relu")
      // greedy step: given the selected set so far, pick the argmax of
      // 7·relμ − 3·max-sim-to-selected (integers; (score desc, cid) total)
      def pick(sel: DataFrame, rank: Int): DataFrame = {
        val rem = c.join(sel.select("probe_id", "cid"), Seq("probe_id", "cid"), "left_anti")
        val selAsB = sel.select(col("probe_id"), col("cid").as("cb"))
        val ms = rem.join(
            sims.join(selAsB, Seq("probe_id", "cb"))
              .groupBy(col("probe_id"), col("ca").as("cid"))
              .agg(max(col("simu")).as("msim")),
            Seq("probe_id", "cid"), "left")
          .withColumn("mmr", lit(7L) * col("relu") - lit(3L) * coalesce(col("msim"), lit(0L)))
        ms.groupBy("probe_id")
          .agg(max(struct(col("mmr"), (-col("cid")).as("nc"),
            col("cid"), col("relu"))).as("m"))
          .select(col("probe_id"), col("m.cid").as("cid"), col("m.relu").as("relu"),
            col("m.mmr").as("mmr"), lit(rank.toLong).as("mmr_rank"))
      }
      val s1 = c.groupBy("probe_id")
        .agg(max(struct((lit(7L) * col("relu")).as("mmr"), (-col("cid")).as("nc"),
          col("cid"), col("relu"))).as("m"))
        .select(col("probe_id"), col("m.cid").as("cid"), col("m.relu").as("relu"),
          col("m.mmr").as("mmr"), lit(1L).as("mmr_rank"))
      // materialize each greedy step (probes-row relation) before the
      // next references it: left lazy, step k's plan re-executes steps
      // 1..k−1 (the fold's lineage is a chain), turning 5 steps into
      // 2^5-ish tiny jobs whose scheduling overhead dominated
      def local(df: DataFrame): DataFrame =
        s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      val sel5 = (2 to 5).foldLeft(local(s1))((sel, k) =>
        sel.unionByName(local(pick(sel, k))))
      sel5.select(col("probe_id"), col("mmr_rank"), col("cid").as("neighbor_id"),
        col("relu").as("rel_micro"), col("mmr").as("mmr_micro"))
    },
    Some {
      def stepSql(k: Int): String = {
        val prev = (1 until k).map(i => s"SELECT probe_id, cid FROM s$i").mkString(" UNION ALL ")
        s"""ms$k AS (SELECT c.probe_id, c.cid, c.relu,
                          7*c.relu - 3*coalesce(mx.msim, 0) AS mmr
                   FROM cand c
                   LEFT JOIN (SELECT s.probe_id, s.ca AS cid, max(s.simu) AS msim
                              FROM sims s JOIN ($prev) p
                                ON p.probe_id = s.probe_id AND p.cid = s.cb
                              GROUP BY 1, 2) mx
                     ON mx.probe_id = c.probe_id AND mx.cid = c.cid
                   WHERE NOT EXISTS (SELECT 1 FROM ($prev) q
                                     WHERE q.probe_id = c.probe_id
                                       AND q.cid = c.cid)),
            s$k AS (SELECT probe_id, cid, relu, mmr, CAST($k AS BIGINT) AS mmr_rank
                    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY mmr DESC, cid) AS rn FROM ms$k) t
                    WHERE rn = 1)"""
      }
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          cand0 AS (SELECT q.vec_id AS probe_id, x.vec_id AS cid,
                           round(list_cosine_similarity(q.v, x.v), 6) AS rel
                    FROM e q JOIN e x ON x.vec_id <> q.vec_id
                    WHERE q.vec_id < 4),
          cand AS (SELECT probe_id, cid,
                          CAST(floor(rel * 1e6 + 0.5) AS BIGINT) AS relu
                   FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                  ORDER BY rel DESC, cid) AS rn FROM cand0) t
                   WHERE rn <= 12),
          sims AS (SELECT a.probe_id, a.cid AS ca, b.cid AS cb,
                          CAST(floor(round(list_cosine_similarity(ea.v, eb.v), 6)
                                     * 1e6 + 0.5) AS BIGINT) AS simu
                   FROM cand a
                   JOIN cand b ON b.probe_id = a.probe_id AND b.cid <> a.cid
                   JOIN e ea ON ea.vec_id = a.cid
                   JOIN e eb ON eb.vec_id = b.cid),
          s1 AS (SELECT probe_id, cid, relu, 7*relu AS mmr,
                        CAST(1 AS BIGINT) AS mmr_rank
                 FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                ORDER BY 7*relu DESC, cid) AS rn FROM cand) t
                 WHERE rn = 1),
          ${(2 to 5).map(stepSql).mkString(",\n")}
          SELECT probe_id, mmr_rank, cid AS neighbor_id, relu AS rel_micro,
                 mmr AS mmr_micro
          FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
                UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
                UNION ALL SELECT * FROM s5) u"""
    }
  )

  /** q331 — NEAREST-CENTROID CLASSIFIER + CONFUSION MATRIX (Rocchio):
    * the first SUPERVISED consumer of the embeddings' `label` column —
    * per-label mean centroids (the Lloyd fold, but with labels instead
    * of learned cells), every vector classified to its max-cosine
    * centroid, and the label×prediction confusion matrix that quality
    * audits of an embedding space actually read (a label whose row
    * bleeds across columns is a label the space cannot separate — the
    * embedding-health twin of q156's drift check). Self-classification
    * (train = eval) is deliberate: this audits the SPACE, not a model.
    *
    * Exactness: centroids are bit-exact on both engines via the q63
    * fold discipline (vec_id-ordered strict left fold per dimension);
    * the argmax compares 6-digit-rounded cosines (q27's accepted
    * boundary class) with a label tiebreak; matrix counts are integers.
    * Non-finite vectors are excluded up front (the q63 NaN rule — one
    * NaN poisons a centroid mean and NaN sort order diverges between
    * engines).
    *
    * Scale shape: one label-grain aggregate (10 groups) builds a
    * bounded centroid row, broadcast against the corpus scan — the
    * corpus never shuffles; the matrix is map-side-combined on a
    * |labels|² key space. At 100 TB this is exactly one pass.
    */
  val centroidClassifier = Q(
    "q331_centroid_classifier",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .where(expr("NOT exists(v, x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))"))
      val cents = e
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("vs"))
        .select(col("label").as("clabel"), expr(
          s"""transform(sequence(1, $Dim), i ->
              aggregate(vs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v[i-1])
              / size(vs))""").as("c"))
        .agg(array_sort(collect_list(struct(col("clabel"), col("c")))).as("cs"))
      val scored = e.crossJoin(broadcast(cents))
        .withColumn("best", element_at(array_sort(transform(col("cs"), sc =>
          struct((-round(CosineSimilarity(col("v"), sc.getField("c")), 6)).as("ns"),
            sc.getField("clabel").as("pl")))), 1))
        .select(col("label"), col("best")("pl").as("pred_label"))
      scored.groupBy("label", "pred_label").agg(count(lit(1)).as("n"))
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                               embedding::DOUBLE[] AS v
                        FROM embeddings
                        WHERE len(list_filter(embedding::DOUBLE[],
                                  x -> isnan(x) OR isinf(x))) = 0),
            grp AS (SELECT label AS clabel, list(v ORDER BY vec_id) AS vs
                    FROM e GROUP BY 1),
            cents AS (SELECT clabel,
                             list_transform(generate_series(1, $Dim), i ->
                               list_aggregate(list_transform(vs, x -> x[i]), 'sum')
                               / len(vs)) AS c
                      FROM grp),
            scored AS (SELECT e.vec_id, e.label, ct.clabel,
                              round(list_cosine_similarity(e.v, ct.c), 6) AS s
                       FROM e CROSS JOIN cents ct),
            best AS (SELECT label, clabel AS pred_label FROM (
                       SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY s DESC, clabel ASC) AS rn
                       FROM scored) t
                     WHERE rn = 1)
            SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n
            FROM best GROUP BY 1, 2""")
  )

  val all: Seq[Q] =
    Seq(cosineTopK, annLsh, annLsh8, cosineTopKAgg, annIvf, annIvfFile, quantizeInt8,
      embedLshNearDup, matryoshkaRerank, matryoshkaIvf, annIvfPq, annIvfPqFile, semDedup,
      semDedupSalted, filteredAnn, hardNegatives, embeddingGramian, powerIteration,
      rrfFusion, mutualKnn, pqDistortionAudit, mmrRerank, centroidClassifier,
      annIndexDelta, annIndexCompact, annStreamServe, annStoreVacuum,
      annServeLiveCommit, annPqStreamServe, annServeLiveVacuum,
      annPqIndexDelta, annPqIndexCompact, annPqStoreVacuum, pqCodebookStaleness,
      annPqServeLiveCommit, sq8Mips, annRecallAudit, ivfCellAudit)
}
