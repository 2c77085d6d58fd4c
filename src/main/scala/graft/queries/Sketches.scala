package graft.queries

import graft.{Q, Tables}
import graft.functions.{BucketCount, QuantileSketch, TextFns}
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The mergeable-sketch family beyond q19/q49/q105's one-shot
  * approximations: sketches as STORED, UNIONED artifacts — the pattern
  * that makes 100 TB incremental analytics affordable (build tiny
  * per-shard summaries once, answer corpus-scale questions from the
  * summaries forever). The audited queries check the sketch against the
  * exact answer IN-QUERY and emit the bound check as a boolean column, so
  * the driver's hash gate (oracle emits TRUE) fails loudly the day a
  * sketch drifts out of contract — a FULL oracle over approximate
  * machinery, where q19/q49/q126 settle for rows-only.
  *
  * The store pattern (q173 HLL, q181 quantiles, q258/q295 bitmaps, q292
  * frequent items) is the paper's combiner moved to storage: [[dayStore]]
  * groups `events` by day, merges each day into one summary row and
  * writes the store once, so events are read once, at build. A date
  * range is then answered by merging the stored summaries of its days.
  * [[dayRanges]] derives the three ranges (`day1`, `week1`, `all`) from
  * the store's own min/max day INSIDE the plan, as a broadcast 3-row
  * relation, and each query merges all three ranges in one plan grouped
  * by `range_tag`: no driver round-trip for the bounds, no plan per
  * range. An empty store has no day in any range, so every answer is
  * empty — the oracles' answer on empty `events`.
  */
object Sketches {

  /** q172 — COUNT–MIN SKETCH frequency audit: one pass builds Spark's
    * native `count_min_sketch` over the token stream (eps = 0.001,
    * confidence 0.99, fixed seed — deterministic), the q135 exact
    * heavy-hitter pass supplies ground truth for the top 16 words, and
    * the output states, per word, the exact count plus whether the
    * sketch obeyed BOTH CMS guarantees: est ≥ exact (structural — CMS
    * never undercounts) and est ≤ exact + ⌈eps·N⌉ (the collision
    * bound). The sketch is the mergeable, fixed-size (KB) summary a
    * 100 TB pipeline keeps per shard and unions for corpus-wide
    * frequency service; the exact pass here is the AUDIT, not the
    * serving path.
    *
    * Scale shape: the sketch aggregate and the token count ride ONE
    * corpus scan (two aggregates, one pass, map-side partials — a CMS
    * merge is cell-wise addition); the exact side is q135's
    * TakeOrderedAndProject top-k; the driver-side sketch probe touches
    * 16 candidate words (bounded metadata, the ivfCents collect class).
    * `SketchSpec` widens the audit to the ENTIRE vocabulary at test
    * scale.
    */
  private val CmsEps = 0.001
  private[graft] def cmsSketch(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.util.sketch.CountMinSketch, Long) = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .where(col("w") =!= "").as[String]
    val row = toks.toDF("w")
      .agg(expr(s"count_min_sketch(w, ${CmsEps}d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n"))
      .head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("sk")))
    (cms, row.getAs[Long]("n"))
  }

  val cmsFreqAudit = Q(
    "q172_cms_freq_audit",
    (s, d) => {
      import s.implicits._
      val (cms, n) = cmsSketch(s, d)
      val bound = math.ceil(CmsEps * n).toLong
      val top = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc)
        .limit(16)
        .collect()
        .map { r =>
          val w = r.getAs[String]("w"); val c = r.getAs[Long]("cnt")
          val est = cms.estimateCount(w)
          (w, c, est >= c && est <= c + bound)
        }
      s.createDataFrame(s.sparkContext.parallelize(top.toSeq, 1))
        .toDF("w", "cnt", "within_eps")
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            SELECT w, count(*) AS cnt, TRUE AS within_eps
            FROM tok WHERE w <> ''
            GROUP BY w ORDER BY cnt DESC, w ASC LIMIT 16""")
  )

  /** The day-summary store of [[hllStore]], [[quantileStore]],
    * [[bitmapStore]], [[topKStore]] and [[rollingDistinct]]: `events`
    * grouped by `to_date(ts) AS day` plus `keys`, each group merged by
    * `aggs`, written once to the scratch leaf `leaf` (one shuffle on the
    * group key, map-side partial summaries) and read back with the
    * writer's schema.
    */
  private def dayStore(s: SparkSession, d: String, leaf: String, keys: Column*)(
      aggs: Column*): DataFrame =
    Sources.write(Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*), Sources.scratchLeaf(d, leaf)).read(s)

  /** Per-(day, bucket) exact-distinct bitmaps of `user_id` (q258, q295).
    * Each query keeps its own leaf, so a lazy read of one store never
    * sees the other's overwrite. */
  private def bitmapDayStore(s: SparkSession, d: String, leaf: String): DataFrame =
    dayStore(s, d, leaf, expr("bitmap_bucket_number(user_id)").as("bucket"))(
      expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))

  /** The store's three date ranges as a broadcast (range_tag, a, b)
    * relation: `day1` = [lo, lo], `week1` = [lo, lo + 6] and `all` =
    * [lo, hi], with lo/hi the min/max `day` of `st`, computed in the plan.
    * The store is O(days) rows, so one task reads it for the min/max and
    * the broadcast needs no exchange below it. An empty store gives NULL
    * bounds, which [[inRange]] never matches.
    */
  private[graft] def dayRanges(st: DataFrame): DataFrame =
    broadcast(st.coalesce(1).agg(min("day").as("lo"), max("day").as("hi")).selectExpr(
      "stack(3, 'day1', lo, lo, 'week1', lo, date_add(lo, 6), 'all', lo, hi)" +
        " AS (range_tag, a, b)"))

  /** The join condition of a row whose date is `day` to a [[dayRanges]] row. */
  private[graft] def inRange(day: Column): Column = day.between(col("a"), col("b"))

  /** The oracles' twin of [[dayRanges]]: `d` = events' (day, `cols`),
    * `span` = its (lo, hi), `r` = the three ranges. */
  private def sqlDayRanges(cols: String): String =
    s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, $cols FROM events),
            span AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
            r AS (SELECT 'day1' AS range_tag, lo AS a, lo AS b FROM span
                  UNION ALL SELECT 'week1', lo, lo + INTERVAL 6 DAY FROM span
                  UNION ALL SELECT 'all', lo, hi FROM span)"""

  /** q173 — HLL SKETCH STORE (incremental distinct counting): per-day
    * `hll_sketch_agg` summaries of the event stream's user column,
    * materialized ONCE to scratch parquet — the Apache DataSketches
    * artifact a 100 TB pipeline appends daily — then date-RANGE
    * distinct-user questions answered by `hll_union_agg` over the
    * STORE (O(days) rows, zero event rescans; sketch union is the
    * whole point: distinct counts are not additive, sketches are
    * unionable). Each output row carries the range's day count, the
    * EXACT distinct-user answer, and whether the sketch estimate landed
    * within ±5% of it — the exact side is the in-query audit (and the
    * oracle), the sketch side is the serving path.
    *
    * Scale shape: range service reads the store, never events; the
    * exact audit is one events scan joined to the three ranges and one
    * distinct aggregate grouped by range — the cost production DOESN'T
    * pay per query, here so the oracle can pin the estimate's contract.
    */
  val hllStore = Q(
    "q173_hll_sketch_store",
    (s, d) => {
      val st = dayStore(s, d, "hll_day_store")(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val r = dayRanges(st)
      val est = st.join(r, inRange(col("day")))
        .groupBy("range_tag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"),
          count(lit(1)).as("n_days"))
      val exact = Tables.events(s, d).join(r, inRange(to_date(col("ts"))))
        .groupBy("range_tag")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "range_tag")
        .select(col("range_tag"), col("n_days"), col("exact_users"),
          (abs(col("est") - col("exact_users")).cast("double") <=
            col("exact_users").cast("double") * 0.05).as("est_ok"))
    },
    Some(sqlDayRanges("user_id") + """
            SELECT r.range_tag,
                   CAST(count(DISTINCT d.day) AS BIGINT) AS n_days,
                   CAST(count(DISTINCT d.user_id) AS BIGINT) AS exact_users,
                   TRUE AS est_ok
            FROM r JOIN d ON d.day BETWEEN r.a AND r.b
            GROUP BY r.range_tag""")
  )

  /** q181 — MERGEABLE QUANTILE-SKETCH STORE: q173's move for
    * percentiles. Per-day log-bucketed histograms of `events.value`
    * ([[graft.functions.QuantileSketchAggregator]] — a custom mergeable
    * typed UDAF, the TopKAggregator discipline) are materialized ONCE to
    * scratch parquet; date-range p50/p90/p99 questions are then answered
    * by MERGING the stored day sketches (explode + sum by bucket —
    * cell-wise Long addition, exactly associative), never by rescanning
    * events. Distinct counts have HLL (q173); quantiles get this —
    * order statistics are not additive, but log-histograms are, which is
    * what lets a 100 TB store serve any range from O(days) KB-sized
    * rows.
    *
    * Contract (HASH-GATED via the audit-boolean discipline, like
    * q19/q49/q105/q126): every served quantile is within
    * `QuantileSketch.RelErrBound` (2⁻⁷ ≈ 0.8%) of the exact order
    * statistic RELATIVELY — the bucket walk locates the exact rank's
    * bucket, only within-bucket position is approximate — and any
    * two-level merge equals the flat merge bit-for-bit. The query emits
    * the exact order statistics (portable companions the oracle
    * recomputes) plus the per-row `est_ok` contract boolean; `SketchSpec`
    * additionally proves the band on every prefix range against an exact
    * sort, plus merge-order invariance; the registered run exercises
    * day1/week1/full-span ranges × three quantiles.
    *
    * Scale shape: range service reads the store and collects the merged
    * histograms of all three ranges at once (bounded by 3 × occupied
    * buckets — metadata-plane, the ivfCents collect class); the quantile
    * walk runs on the driver.
    */
  val quantileStore = Q(
    "q181_quantile_sketch_store",
    (s, d) => {
      import s.implicits._
      val sk = udaf(new graft.functions.QuantileSketchAggregator(),
        org.apache.spark.sql.Encoders.scalaDouble)
      val st = dayStore(s, d, "quant_day_store")(sk(col("value")).as("sk"),
        count(lit(1)).as("n"))
      val r = dayRanges(st)
      val ests = st.join(r, inRange(col("day")))
        .select(col("range_tag"), explode(col("sk")).as("bc"))
        .groupBy(col("range_tag"), col("bc.bucket").as("bucket"))
        .agg(sum(col("bc.cnt")).as("cnt"))
        .collect()
        .groupBy(_.getAs[String]("range_tag"))
        .toSeq.flatMap { case (tag, rows) =>
          val merged = rows.toSeq.map(x =>
            BucketCount(x.getAs[Int]("bucket"), x.getAs[Long]("cnt")))
          Seq(0.5, 0.9, 0.99).map(q => (tag, q, QuantileSketch.quantile(merged, q)))
        }
        .toDF("range_tag", "quantile", "est")
      // the EXACT audit side (hash-gated graduation, round-15 verdict
      // task 1): the exact order statistic at 1-based rank ⌈q·n⌉ per
      // range, computed with explicit integer-form ranks both engines
      // share — the full per-range sort is the cost the sketch store
      // exists to avoid, paid here because an audit runs both paths
      val ranked = Tables.events(s, d)
        .join(r, inRange(to_date(col("ts"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("range_tag").orderBy(col("value").asc)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("range_tag")))
      val qdf = broadcast(Seq((0.5, 1L, 2L), (0.9, 9L, 10L), (0.99, 99L, 100L))
        .toDF("quantile", "num", "den"))
      val exacts = ranked.join(qdf,
        col("rn") === greatest(lit(1L), expr("(num * n + den - 1) div den")))
        .select(col("range_tag"), col("quantile"), col("n"),
          col("value").as("exact_val"))
      // est_ok is the store's published contract: the served quantile
      // within RelErrBound (2^-7) of the exact order statistic,
      // RELATIVELY — the oracle expects it TRUE
      exacts.join(ests, Seq("range_tag", "quantile"))
        .select(col("range_tag"), col("quantile"), col("n"), col("exact_val"),
          (abs(col("est") - col("exact_val")) <=
            col("exact_val") * lit(QuantileSketch.RelErrBound))
            .as("est_ok"))
    },
    // graduated from rows-only (round-15 verdict task 1): the bucket
    // index is IEEE-bit arithmetic DuckDB can't replay, so the oracle
    // pins the EXACT companions + the contract boolean instead — the
    // q19/q49/q105/q126 audit-boolean discipline; SketchSpec still
    // proves the band on every prefix range and merge-order invariance
    Some(sqlDayRanges("value") + """,
            rk AS (SELECT r.range_tag, d.value,
                          row_number() OVER (PARTITION BY r.range_tag
                                             ORDER BY d.value) AS rn,
                          count(*) OVER (PARTITION BY r.range_tag) AS n
                   FROM r JOIN d ON d.day BETWEEN r.a AND r.b),
            qs AS (SELECT CAST(quantile AS DOUBLE) AS quantile, num, den
                   FROM (VALUES (0.5, 1, 2), (0.9, 9, 10), (0.99, 99, 100))
                     t(quantile, num, den))
            SELECT rk.range_tag, qs.quantile, CAST(rk.n AS BIGINT) AS n,
                   rk.value AS exact_val, TRUE AS est_ok
            FROM rk JOIN qs
              ON rk.rn = greatest(1, (qs.num * rk.n + qs.den - 1) // qs.den)""")
  )

  /** q256 — KMV (k-minimum-values / bottom-k) SKETCH INTERSECTION: the
    * set operation the HLL family (q19/q105/q173) structurally CANNOT
    * do. HLL sketches union perfectly but have no intersection —
    * inclusion–exclusion over noisy cardinalities explodes the relative
    * error when the overlap is small, which is exactly the
    * contamination-estimation regime (train ∩ test is supposed to be
    * tiny). A KMV sketch — the k smallest values of a uniform hash over
    * the set — supports BOTH: union = k smallest of the merged sketches
    * (EXACT, no information loss: min-k is a monoid, KmvSpec proves the
    * two-level merge equals the single-level sketch bit-for-bit), and
    * Jaccard = the fraction of the union-sketch's members present in
    * both sides (the bottom-k sample is a uniform sample of the union —
    * the same consistent-sampling insight as q229). |A∩B| ≈ J·|A∪B|.
    *
    * The registered run estimates CROSS-SPLIT LEAKAGE (q125's exact
    * join, sketch-sized): distinct-text overlap between the even- and
    * odd-doc_id halves of the corpus, from three 128-value sketches —
    * at 100 TB that is three bottom-k scans (TakeOrderedAndProject:
    * per-partition top-k, k rows shuffled per partition) and KB of
    * driver state, vs q125's full distinct-join. Every number is a
    * deterministic function of md5 (the portable hash family), so the
    * DuckDB oracle replays the ALGORITHM exactly — a FULL hash oracle
    * over sketch machinery (the q172/q173 discipline); the statistical
    * quality contract (estimates within band of truth) lives in
    * `KmvSpec` on a planted-overlap fixture.
    */
  private[graft] val KmvK = 128

  /** Bottom-k sketches of the `text` column of both inputs + the
    * derived estimates, one output row. Factored so `KmvSpec` can run
    * a planted-overlap fixture through the identical machinery.
    */
  private[graft] def kmvEstimate(a0: org.apache.spark.sql.DataFrame,
      b0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val h = expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.select(h.as("h")).distinct().orderBy("h").limit(KmvK)
    val a = sketch(a0)
    val b = sketch(b0)
    val u = a.union(b).distinct().orderBy("h").limit(KmvK)
    val inter = u.join(a, "h").join(b, "h")
    val m = lit(1152921504606846976L).cast("double") // 2^60 hash space
    u.agg(max(col("h")).as("kth_u"), count(lit(1)).as("k_u"))
      .crossJoin(a.agg(max(col("h")).as("kth_a"), count(lit(1)).as("k_a")))
      .crossJoin(b.agg(max(col("h")).as("kth_b"), count(lit(1)).as("k_b")))
      .crossJoin(inter.agg(count(lit(1)).as("n_inter")))
      .withColumn("est_a",
        (col("k_a") - 1).cast("double") * m / col("kth_a").cast("double"))
      .withColumn("est_b",
        (col("k_b") - 1).cast("double") * m / col("kth_b").cast("double"))
      .withColumn("est_union",
        (col("k_u") - 1).cast("double") * m / col("kth_u").cast("double"))
      .withColumn("est_intersection",
        col("n_inter").cast("double") / col("k_u").cast("double")
          * col("est_union"))
      .select("k_a", "k_b", "k_u", "n_inter",
        "est_a", "est_b", "est_union", "est_intersection")
  }

  val kmvOverlap = Q(
    "q256_kmv_overlap",
    (s, d) => {
      val docs = Tables.documents(s, d)
      kmvEstimate(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    },
    Some(s"""WITH a AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
                        FROM documents WHERE doc_id % 2 = 0 ORDER BY h LIMIT $KmvK),
             b AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
                   FROM documents WHERE doc_id % 2 = 1 ORDER BY h LIMIT $KmvK),
             u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) t
                   ORDER BY h LIMIT $KmvK),
             i AS (SELECT count(*) AS n_inter FROM u
                   JOIN a USING (h) JOIN b USING (h)),
             agg AS (SELECT
                       (SELECT CAST(count(*) AS BIGINT) FROM a) AS k_a,
                       (SELECT CAST(count(*) AS BIGINT) FROM b) AS k_b,
                       (SELECT CAST(count(*) AS BIGINT) FROM u) AS k_u,
                       (SELECT max(h) FROM a) AS kth_a,
                       (SELECT max(h) FROM b) AS kth_b,
                       (SELECT max(h) FROM u) AS kth_u,
                       (SELECT CAST(n_inter AS BIGINT) FROM i) AS n_inter),
             est AS (SELECT k_a, k_b, k_u, n_inter,
                       CAST(k_a - 1 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(kth_a AS DOUBLE) AS est_a,
                       CAST(k_b - 1 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(kth_b AS DOUBLE) AS est_b,
                       CAST(k_u - 1 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(kth_u AS DOUBLE) AS est_union
                     FROM agg)
             SELECT k_a, k_b, k_u, n_inter, est_a, est_b, est_union,
                    CAST(n_inter AS DOUBLE) / CAST(k_u AS DOUBLE) * est_union
                      AS est_intersection
             FROM est""")
  )

  /** q258 — BITMAP EXACT-DISTINCT STORE: the q173 store pattern with
    * the estimate replaced by an EXACT mergeable artifact. For dense
    * integer key spaces (user ids, item ids — precisely the ids a
    * warehouse assigns), Spark's bitmap aggregate family
    * (`bitmap_bucket_number` / `bitmap_bit_position` /
    * `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`) buys
    * what HLL fundamentally trades away: per-(day, bucket) RLE-dense
    * bitmaps are built ONCE (4 KB covers 32768 ids per bucket), OR-merge
    * associatively like any sketch, and `bitmap_count` over the merged
    * bitmap is the EXACT distinct count — no ±5% band, no audit column,
    * a full first-class oracle vs COUNT(DISTINCT). This is the artifact
    * behind warehouse "exact distinct rollups" (Databricks' documented
    * bitmap pattern): any date range's exact distinct users from
    * O(days × buckets) KB rows, the raw events never re-read.
    *
    * Scale shape: store build = one shuffle on (day, bucket) with
    * map-side partial bitmap construction; range service = OR-merge by
    * (range, bucket) over the store (cell-wise, associative) + a sum of
    * per-bucket exact counts per range; the range's days ride the same
    * two aggregates as per-bucket day sets, so the serve is one chain
    * of aggregates, not a join of two. The same three ranges as q173,
    * so the two queries read side-by-side as the exact/approx twins of
    * one pattern; where HLL serves ANY key type at fixed size, bitmaps pay
    * density — the scaladoc trade a 100 TB design actually weighs.
    */
  val bitmapStore = Q(
    "q258_bitmap_distinct_store",
    (s, d) => {
      val st = bitmapDayStore(s, d, "bitmap_day_store")
      st.join(dayRanges(st), inRange(col("day")))
        .groupBy("range_tag", "bucket")
        .agg(expr("bitmap_or_agg(bm)").as("m"), collect_set(col("day")).as("days"))
        .groupBy("range_tag")
        .agg(size(array_distinct(flatten(collect_list(col("days"))))).cast("long")
          .as("n_days"), sum(expr("bitmap_count(m)")).as("distinct_users"))
    },
    Some(sqlDayRanges("user_id") + """
            SELECT r.range_tag,
                   CAST(count(DISTINCT d.day) AS BIGINT) AS n_days,
                   CAST(count(DISTINCT d.user_id) AS BIGINT) AS distinct_users
            FROM r JOIN d ON d.day BETWEEN r.a AND r.b
            GROUP BY r.range_tag""")
  )

  /** q292 — FREQUENCY-SKETCH STORE (`approx_top_k_accumulate` /
    * `_combine` / `_estimate`): the store pattern (q173 HLL distinct,
    * q181 quantiles, q258 exact bitmaps) applied to the FREQUENCY
    * family — per-day DataSketches frequent-items summaries of user
    * activity, materialized once, then "top-16 most active users over
    * a date range" served by COMBINING the day sketches, zero event
    * rescans. This is the leaderboard a 100 TB event store cannot
    * afford to recompute per range: counts are additive but the
    * TOP-K SET is not (a range's leader can be nobody's daily leader),
    * so the mergeable artifact must carry the near-top mass — exactly
    * what a frequent-items sketch is for.
    *
    * The full hash oracle is honest by the q290 argument, twice over:
    * below eviction (1500 users ≪ 4096 capacity at every SF) both the
    * per-day accumulate and the range combine are plain counting maps,
    * so every estimate is the true count; and the rank-16 cut is an
    * explicit (cnt desc, user asc) sort over the estimate output,
    * never the sketch's own tie-arbitrary selection. At production
    * vocabulary the same plan degrades to the sketch's ε-guarantee —
    * `ApproxTopKSpec` pins that regime.
    *
    * Scale shape: store build = one shuffle on day with bounded partial
    * sketches; range service = one combine per range over O(days) KB
    * rows + a per-range rank of ≤ capacity estimate rows; events are
    * read exactly once, ever.
    */
  val topKStore = Q(
    "q292_topk_sketch_store",
    (s, d) => {
      val st = dayStore(s, d, "topk_day_store")(
        expr("approx_top_k_accumulate(user_id, 4096)").as("sk"))
      st.join(dayRanges(st), inRange(col("day")))
        // coalesce(1): one task combines every range — the fixture-scale
        // shape, since the combine input is O(days) KB rows by the
        // store's design; a production store of years × shards would
        // combine per partition. Spark 4.1's ApproxTopK$.genSketchSerDe
        // throws MatchError: null on a partial buffer that saw no
        // sketch; grouped by range_tag, a row-less split forms no group
        // and so no such buffer, with or without this coalesce
        // (DayStoreSpec's split-scan check).
        .coalesce(1)
        .groupBy("range_tag")
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk, 4096), 4096)")
          .as("tk"))
        .select(col("range_tag"), explode(col("tk")).as("e"))
        .select(col("range_tag"),
          col("e.item").as("user_id"), col("e.count").cast("long").as("cnt"))
        .withColumn("rn", row_number().over(Window.partitionBy("range_tag")
          .orderBy(col("cnt").desc, col("user_id").asc)))
        .where(col("rn") <= 16)
        .drop("rn")
    },
    Some(sqlDayRanges("user_id") + """,
            c AS (SELECT r.range_tag, d.user_id,
                         CAST(count(*) AS BIGINT) AS cnt,
                         row_number() OVER (PARTITION BY r.range_tag
                                            ORDER BY count(*) DESC, d.user_id)
                           AS rn
                  FROM r JOIN d ON d.day BETWEEN r.a AND r.b
                  GROUP BY r.range_tag, d.user_id)
            SELECT range_tag, user_id, cnt FROM c WHERE rn <= 16""")
  )

  /** q295 — ROLLING EXACT DISTINCT (7-day active users per day) from
    * the q258 bitmap store: the windowed-distinct classic every
    * engagement dashboard needs (WAU per day) and the one aggregation
    * windows fundamentally can't serve at scale — COUNT(DISTINCT) OVER
    * a moving frame re-scans each row into 7 overlapping frames and
    * keeps per-frame hash sets. The store shape deletes the problem:
    * per-(day, bucket) bitmaps are built ONCE (events read once, ever),
    * and each day's trailing-7 answer is an OR-merge of ≤ 7×buckets KB
    * rows — associative, exact, and embarrassingly parallel across
    * days. The range self-join of the day spine to the store is
    * O(days × 7 × buckets) — metadata-sized regardless of corpus.
    *
    * Full first-class oracle (COUNT(DISTINCT) over the same trailing
    * window replayed relationally in DuckDB) — no band, no audit
    * column: bitmaps are exact, like q258 and unlike q173's ±5% HLL.
    */
  val rollingDistinct = Q(
    "q295_rolling_distinct",
    (s, d) => {
      val st = bitmapDayStore(s, d, "bitmap_roll_store")
      val spine = st.select(col("day")).distinct()
        .select(col("day").as("anchor"))
      val joined = spine.join(st,
        col("day").between(date_sub(col("anchor"), 6), col("anchor")))
      val wau = joined
        .groupBy(col("anchor"), col("bucket"))
        .agg(expr("bitmap_or_agg(bm)").as("m"))
        .groupBy(col("anchor"))
        .agg(sum(expr("bitmap_count(m)")).as("wau"))
      val nd = joined.groupBy(col("anchor"))
        .agg(countDistinct(col("day")).as("n_days_in_window"))
      wau.join(nd, "anchor")
        .select(col("anchor").as("day"),
          col("n_days_in_window").cast("long").as("n_days_in_window"),
          col("wau").cast("long").as("wau"))
    },
    Some("""WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                       FROM events),
            spine AS (SELECT DISTINCT day AS anchor FROM d)
            SELECT spine.anchor AS day,
                   CAST(count(DISTINCT d.day) AS BIGINT) AS n_days_in_window,
                   CAST(count(DISTINCT d.user_id) AS BIGINT) AS wau
            FROM spine JOIN d
              ON d.day BETWEEN spine.anchor - INTERVAL 6 DAY AND spine.anchor
            GROUP BY spine.anchor""")
  )

  /** q300 — INCREMENTAL VIEW MAINTENANCE of an aggregate rollup: the
    * warehouse pattern under every materialized dashboard table —
    * yesterday's (event_type, day) rollup is a STORED artifact, and
    * when late-arriving events land (deterministically planted here:
    * event_id % 17 = 0, withheld from the base build), the store is
    * repaired by aggregating ONLY the delta and full-outer-merging it
    * into the stored rows — never by rescanning the corpus. The
    * registered output is the REPAIRED store; the oracle is the full
    * recompute over all events — so the driver's hash gate IS the IVM
    * correctness theorem (increment-then-merge ≡ rebuild), which holds
    * exactly because cent-sums and counts are associative and
    * commutative (the mergeable-aggregate property the whole store
    * family rides on; a non-decomposable statistic — a raw median —
    * could not be maintained this way, which is exactly why q181
    * stores mergeable sketches instead).
    *
    * Scale shape: base build = one map-side-combined aggregate
    * (events read once, EVER, for the base — built once per data dir
    * and memoized, the q23 pair-table / ivfCents / gramian discipline:
    * in production the store already exists; the recurring operation
    * being measured is the REPAIR); the repair touches
    * O(delta + dirty-keys) rows — the delta aggregate is delta-sized
    * and the merge joins it to the store on the rollup key. The
    * full-outer join covers brand-new keys in the delta; coalesce(0)
    * keeps untouched store rows byte-identical.
    */
  val incrementalRollup = Q(
    "q300_incremental_rollup",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("event_id"), col("value"))
      val late = col("event_id") % 17 === 0
      val store = Sources.artifactOnce(d, "ivm_rollup_store") { p =>
        Sources.write(ev.where(!late)
          .groupBy("event_type", "day")
          .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("centsum"),
            count(lit(1)).as("n")), p)
      }
      val delta = ev.where(late)
        .groupBy("event_type", "day")
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("d_centsum"),
          count(lit(1)).as("d_n"))
      store.read(s)
        .join(delta, Seq("event_type", "day"), "full_outer")
        .select(col("event_type"), col("day"),
          (coalesce(col("centsum"), lit(0L)) + coalesce(col("d_centsum"), lit(0L)))
            .cast("long").as("centsum"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
            .cast("long").as("n"))
    },
    Some("""SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                     AS centsum,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2""")
  )

  val all: Seq[Q] = Seq(cmsFreqAudit, hllStore, quantileStore, kmvOverlap,
    bitmapStore, topKStore, rollingDistinct, incrementalRollup)
}
