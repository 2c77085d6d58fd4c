package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-splitting and sampling operators for a training-data pipeline:
  * deterministic train/val/test assignment and stratified subsampling.
  * Both are HASH-based, not random — at 100 TB a split must be (a) stable
  * across reruns and cluster sizes (no RNG seeds tied to partitioning),
  * (b) joinable later (any other table can recompute a doc's split from
  * its id alone), and (c) exactly reproducible by the oracle. The hash
  * family is the engine-portable seeded md5 (cf. `Dedup`).
  */
object Sampling {

  /** q79 — deterministic TRAIN/VAL/TEST split: a seeded md5 over the
    * doc id maps every document to a bucket in [0, 100); buckets split
    * 90/5/5. A pure narrow projection — no shuffle, no state, and any
    * downstream table can recompute the assignment from the id alone
    * (the property that makes leakage audits possible: membership is a
    * function, not a stored fact).
    */
  /** DuckDB split-bucket expression for a given doc-id SQL expression —
    * shared by q79's oracle and q86's (the manifest stamps exactly q79's
    * assignment, so the hash formula may exist once per engine).
    */
  private[graft] def sqlSplitBucket(idExpr: String): String =
    s"('0x' || substr(md5(concat('split|', $idExpr)), 1, 15))::BIGINT % 100"

  private[graft] def sqlSplitCase(idExpr: String): String =
    s"""CASE WHEN ${sqlSplitBucket(idExpr)} < 90 THEN 'train'
             WHEN ${sqlSplitBucket(idExpr)} < 95 THEN 'val'
             ELSE 'test' END"""

  val trainSplit = Q(
    "q79_train_split",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(CAST(concat('split|', doc_id) AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 100")
            .as("bucket"))
        .select(col("doc_id"), col("bucket"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test").as("split")),
    Some(s"""SELECT doc_id,
                   ${sqlSplitBucket("doc_id")} AS bucket,
                   ${sqlSplitCase("doc_id")} AS split
            FROM documents""")
  )

  /** q80 — STRATIFIED deterministic subsample: the hash-smallest 50
    * documents per language — the "sample K per stratum" operator behind
    * domain-mixing a training corpus (equal representation regardless of
    * stratum size). Hash-ranking makes the sample deterministic and
    * rerun-stable where reservoir sampling is not; one shuffle on the
    * stratum key, and the window's rank cutoff keeps K bounded per
    * stratum. (At extreme stratum cardinality the same shape runs as the
    * bounded TopK aggregator, q60's pattern, shuffling K rows per task
    * instead of the stratum.)
    */
  val stratifiedSample = Q(
    "q80_stratified_sample",
    (s, d) => {
      val ranked = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextFns.md5Hex(concat(lit("sample|"), col("doc_id"))).as("h"))
        .withColumn("rnk",
          row_number().over(Window.partitionBy("lang").orderBy(col("h"), col("doc_id")))
            .cast("long"))
      ranked.where(col("rnk") <= 50)
        .select(col("doc_id"), col("lang"), col("rnk"))
    },
    Some("""SELECT doc_id, lang, rnk FROM (
              SELECT doc_id, lang,
                     CAST(row_number() OVER (PARTITION BY lang
                            ORDER BY md5(concat('sample|', doc_id)), doc_id) AS BIGINT)
                       AS rnk
              FROM documents) t
            WHERE rnk <= 50""")
  )

  /** q94 — TEMPERATURE-BASED DOMAIN MIXING: per-language sampling quotas
    * proportional to `sqrt(n_l)` (temperature α = 0.5 in the standard
    * `p_l ∝ n_l^α` multilingual-mixing family) — big languages get
    * down-weighted relative to their raw share, small ones up-weighted,
    * which is how multilingual training corpora rebalance domains. The
    * quota is a per-stratum function (`3·⌊√n_l⌋`, no cross-stratum
    * normalization), deliberately: `sqrt` is IEEE-exact in both engines
    * where a `pow(x, 0.7)`-shaped weight or a cross-stratum sum would
    * admit last-bit divergence that could flip a floor() at the quota
    * boundary (the round() portability hazard, BASELINE gotcha). Selection
    * is q80's hash-smallest ranking against the data-dependent quota:
    * deterministic, rerun-stable, one shuffle on the stratum key. At
    * 100 TB the count aggregation is map-side-combined and the tiny
    * per-language quota table broadcasts.
    */
  val temperatureMix = Q(
    "q94_temperature_mix",
    (s, d) => {
      // NULL lang coalesced to 'unknown' (as q95 does): an equi-join on a
      // raw nullable lang would silently drop null-language documents
      // from the mix on both engines
      val docs = Tables.documents(s, d)
        .withColumn("lang", coalesce(col("lang"), lit("unknown")))
      val quotas = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_l"))
        .withColumn("quota", floor(sqrt(col("n_l"))).cast("long") * 3)
      val ranked = docs
        .select(col("doc_id"), col("lang"),
          TextFns.md5Hex(concat(lit("mix|"), col("doc_id"))).as("h"))
        .withColumn("rnk",
          row_number().over(Window.partitionBy("lang").orderBy(col("h"), col("doc_id")))
            .cast("long"))
      ranked.join(quotas, Seq("lang"))
        .where(col("rnk") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("n_l"), col("quota"), col("rnk"))
    },
    Some("""WITH d AS (SELECT doc_id, coalesce(lang, 'unknown') AS lang FROM documents),
            c AS (SELECT lang, count(*) AS n_l FROM d GROUP BY lang),
            r AS (SELECT doc_id, lang,
                         CAST(row_number() OVER (PARTITION BY lang
                                ORDER BY md5(concat('mix|', doc_id)), doc_id) AS BIGINT)
                           AS rnk
                  FROM d)
            SELECT r.doc_id, r.lang, CAST(c.n_l AS BIGINT) AS n_l,
                   CAST(floor(sqrt(c.n_l)) AS BIGINT) * 3 AS quota, r.rnk
            FROM r JOIN c USING (lang)
            WHERE r.rnk <= CAST(floor(sqrt(c.n_l)) AS BIGINT) * 3""")
  )

  /** q121 — EPOCH-REPEAT DOMAIN REBALANCING: materialize the training
    * stream with small sources repeated (multiple epochs) up to parity
    * with the largest source, capped at 4 epochs. The OVERSAMPLING half
    * of the mixing story — q94 subsamples big domains down (temperature
    * quotas); q121 repeats small domains up, which is how an LLM run
    * hits a token budget without discarding scarce high-value data
    * (the "more epochs for underrepresented sets" scheduling move). The
    * stratum is the LANGUAGE, matching its subsampling twin q94 (the
    * `source` column is uniform by construction in this corpus — a
    * rebalancer over it would be the identity).
    *
    * Epoch counts are INTEGER-ONLY: `min(4, ⌈max_n / n_s⌉)` computed as
    * `(max_n + n_s - 1) DIV n_s` — no doubles anywhere near the
    * ceiling, so the count can never drift across engines (the q94
    * floor-at-quota-boundary lesson). Each copy carries a seeded-md5
    * shuffle key over (doc_id, copy): a deterministic global interleave
    * — two copies of one doc land far apart, reruns are stable, and any
    * consumer can recompute the key from ids alone. Downstream,
    * range-partitioning on the key plus q98's global-order index turns
    * it into a materialized training order.
    *
    * Scale shape: one count aggregation (map-side combined), a 1-row
    * max mount, the per-source epoch table joined back (AQE-decided,
    * no hint — sources are corpus-growing), then a narrow
    * explode-by-sequence and hash projection. Output is epochs-bounded:
    * ≤ 4× corpus rows, streamed, never collected.
    */
  val epochMix = Q(
    "q121_epoch_mix",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("lang"), lit("unknown")).as("lang"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_s"))
      val maxn = counts.agg(max("n_s").as("maxn"))
      val epochs = counts.crossJoin(broadcast(maxn))
        .select(col("lang"),
          least(lit(4L), expr("(maxn + n_s - 1) DIV n_s")).as("epochs"))
      docs.join(epochs, Seq("lang"))
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("epochs"))).as("copy"))
        .withColumn("skey",
          expr("md5(CAST(concat('epoch|', doc_id, '|', copy) AS BINARY))"))
    },
    Some("""WITH d AS (SELECT doc_id, coalesce(lang, 'unknown') AS lang
                       FROM documents),
            c AS (SELECT lang, count(*) AS n_s FROM d GROUP BY lang),
            mx AS (SELECT max(n_s) AS maxn FROM c),
            e AS (SELECT lang, least(4, (mx.maxn + n_s - 1) // n_s) AS epochs
                  FROM c, mx),
            x AS (SELECT d.doc_id, d.lang,
                         unnest(generate_series(1, e.epochs)) AS copy
                  FROM d JOIN e USING (lang))
            SELECT doc_id, lang, CAST(copy AS BIGINT) AS copy,
                   md5(concat('epoch|', doc_id, '|', copy)) AS skey
            FROM x""")
  )

  /** q125 — CROSS-SPLIT LEAKAGE AUDIT: near-duplicate fingerprint groups
    * that span the train and held-out (val/test) splits of q79's
    * assignment — the eval-integrity gate a pipeline runs before every
    * training job. q82 audits against EXTERNAL benchmarks; q125 audits
    * the corpus's own splits. The key is q32's SHINGLE fingerprint (min
    * word-trigram md5 — a 1-hash MinHash, robust to local edits), not
    * the exact text hash: this corpus (like any post-exact-dedup corpus)
    * has zero byte-identical pairs, and the leakage that actually
    * poisons evals is the near-duplicate that exact hashing misses.
    * Both the fingerprint and the split are pure functions of the row
    * (q79's "membership is a function" property is exactly what makes
    * this audit possible after the fact).
    *
    * Scale shape: one narrow projection computes (sfp, split) per doc —
    * bodies reduce to a 32-char fingerprint before any shuffle — then
    * ONE map-side-combined aggregation on sfp with conditional counts;
    * the HAVING-style filter ships only offending groups. Output per
    * group: sizes on each side plus the first doc id on each side (the
    * remediation handle: drop the eval member or the train member).
    */
  val splitLeakage = Q(
    "q125_split_leakage",
    (s, d) => {
      val sfp = TextFns.wordGrams(Tables.documents(s, d), 3)
        .groupBy("doc_id")
        .agg(min(TextFns.md5Hex(col("g"))).as("sfp"))
      val joined = trainSplit.fn(s, d).select("doc_id", "split")
        .join(sfp, Seq("doc_id"))
      joined.groupBy("sfp")
        .agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") =!= "train", 1L).otherwise(0L)).as("n_eval"),
          min(when(col("split") === "train", col("doc_id"))).as("first_train"),
          min(when(col("split") =!= "train", col("doc_id"))).as("first_eval"))
        .where(col("n_train") > 0 && col("n_eval") > 0)
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            idx AS (SELECT doc_id, ws,
                           unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
                    FROM toks),
            grams AS (SELECT DISTINCT doc_id,
                             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                      FROM idx WHERE i + 2 <= len(ws)),
            f AS (SELECT doc_id, min(md5(g)) AS sfp FROM grams GROUP BY doc_id),
            s AS (SELECT f.doc_id, f.sfp,
                         ${sqlSplitCase("f.doc_id")} AS split
                  FROM f)
            SELECT sfp,
                   CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_train,
                   CAST(sum(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_eval,
                   min(CASE WHEN split = 'train' THEN doc_id END) AS first_train,
                   min(CASE WHEN split <> 'train' THEN doc_id END) AS first_eval
            FROM s GROUP BY sfp
            HAVING sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) > 0""")
  )

  /** q229 — CONSISTENT BOTTOM-K SAMPLE: the k documents per source with
    * the SMALLEST content hash — the distributed sampling primitive
    * that beats RNG sampling on every production axis: deterministic
    * (rerun-stable, partitioning-independent — the q79 requirement,
    * extended from split assignment to subset selection), MERGEABLE
    * (bottom-k of a union = bottom-k of each part's bottom-k, so
    * per-shard samples combine without re-reading anything — the same
    * algebra as q173's sketch store), and CONSISTENT across dataset
    * versions (a doc's hash never changes, so two snapshots' samples
    * overlap maximally — diffing the samples approximates diffing the
    * corpora, the audit trick RNG samples can't do). Hashing content
    * (id|text) rather than id alone means an edited doc leaves the
    * sample deterministically — version drift is VISIBLE in the k·|src|
    * rows. Plan shape is q11's: row_number + filter plans a
    * `WindowGroupLimit` below the window, so every map task forwards at
    * most k rows per source to the shuffle — O(sources·k) through the
    * exchange at 100 TB, never the corpus (`PlanSpec`-gated).
    */
  val consistentSample = Q(
    "q229_consistent_sample",
    (s, d) => {
      val w = Window.partitionBy("source").orderBy("hv", "doc_id")
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit("|"), col("text"))).as("hv"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 16)
        .select(col("source"), col("doc_id"), col("hv"), col("rk").cast("long").as("rk"))
    },
    Some("""WITH h AS (SELECT source, doc_id,
                         md5(CAST(doc_id AS VARCHAR) || '|' || text) AS hv
                       FROM documents),
            r AS (SELECT *, row_number() OVER (PARTITION BY source
                                               ORDER BY hv, doc_id) AS rk
                  FROM h)
            SELECT source, doc_id, hv, CAST(rk AS BIGINT) AS rk
            FROM r WHERE rk <= 16""")
  )

  /** q257 — WEIGHTED sampling WITHOUT replacement (priority /
    * sequential-Poisson sampling, Ohlsson '98 / Duffield–Lund–Thorup):
    * the importance-weighted counterpart of q229's uniform bottom-k —
    * what a curation pipeline runs when documents should be sampled
    * ∝ weight (length, quality, dedup-cluster mass) rather than
    * uniformly. Each item gets priority w/u with u a per-item uniform
    * from the SEEDED PORTABLE HASH (q79's family, so the draw is
    * rerun-stable, partitioning-independent, and recomputable from the
    * id alone); the sample is the global top-k by priority — one
    * `TakeOrderedAndProject` (per-partition top-k, k rows per task to
    * the driver-side merge), never a global sort. The u → w/u form is
    * chosen over the classic u^(1/w) exp-sort PRECISELY because it
    * ranks identically (both are monotone transforms of the same
    * inclusion order) while using only division — `pow`/`ln` are not
    * bit-portable across engines (q94's sqrt lesson), so this spelling
    * is what makes a FULL hash oracle possible. `WeightedSampleSpec`
    * proves the statistics (heavy items ~proportionally overrepresented
    * across seeds on a planted two-class fixture) and the differential
    * replay (independent JVM md5 reimplementation picks the same set).
    */
  private[graft] val WsK = 64

  /** Priority column machinery, factored for the spec's seed sweep:
    * u = ((h mod 2^30) + 0.5) / 2^30 ∈ (0,1), priority = w / u; every
    * constant is an exact binary fraction, so Spark and DuckDB compute
    * identical doubles.
    */
  private[graft] def prioritized(df: org.apache.spark.sql.DataFrame,
      seed: String): org.apache.spark.sql.DataFrame = {
    val h = expr(s"CAST(conv(substring(md5(concat('$seed|', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)")
    df.withColumn("u",
        ((h % lit(1073741824L)).cast("double") + lit(0.5)) / lit(1073741824.0))
      .withColumn("priority", col("w").cast("double") / col("u"))
  }

  val weightedSample = Q(
    "q257_weighted_sample",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("w"))
      prioritized(docs, "wsamp")
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(WsK)
        .select(col("doc_id"), col("w").as("n_chars"), col("priority"))
    },
    Some(s"""WITH h AS (SELECT doc_id, n_chars,
                          ('0x' || substr(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            AS hv
                        FROM documents),
             p AS (SELECT doc_id, n_chars,
                          CAST(n_chars AS DOUBLE) /
                            ((CAST(hv % 1073741824 AS DOUBLE) + 0.5) / 1073741824.0)
                            AS priority
                   FROM h)
             SELECT doc_id, n_chars, priority
             FROM p ORDER BY priority DESC, doc_id LIMIT $WsK""")
  )

  /** q273 — SCAN-ONCE FAN-OUT WRITE: one pass over the corpus feeding
    * MULTIPLE artifact sinks — the shape of every split-and-publish
    * step (train/eval stores here; per-tenant exports, quality tiers,
    * format mirrors elsewhere). Spark has no multi-insert operator, so
    * the naive spelling — one `.write` per artifact — re-reads and
    * re-computes the source once PER SINK: at 100 TB, a 3-way split
    * becomes 3 full corpus scans. The cure is materializing the shared
    * prefix once (`persist(MEMORY_AND_DISK)` — disk-backed so a
    * 100 TB-scale run degrades to a local spill, not an OOM), writing
    * every sink from the cached relation, then unpersisting — which
    * this operator CAN do, unlike the suite's lazily-returned frames:
    * both writes are actions completed inside the function, so the
    * cache's lifetime is exactly the fan-out (the ADVICE unpersist
    * discipline, satisfiable here because nothing lazy escapes —
    * the split hash is q79's, inlined). Output = the read-back
    * audit of both artifacts; oracle reconstructs both splits from
    * q79's hash in closed form. `FanoutWriteSpec` gates the economics:
    * after the first write, a dependent action's plan reads
    * InMemoryTableScan — the second sink never re-scans parquet.
    */
  val fanoutWrite = Q(
    "q273_fanout_write",
    (s, d) => {
      val outTrain = graft.sources.Sources.scratchLeaf(d, "fanout_train")
      val outEval = graft.sources.Sources.scratchLeaf(d, "fanout_eval")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("CAST(conv(substring(md5(CAST(concat('split|', doc_id) AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 100")
            .as("bucket"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test").as("split"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (train, eval) = try {
        (graft.sources.Sources.write(base.where(col("split") === "train"), outTrain),
          graft.sources.Sources.write(base.where(col("split") =!= "train"), outEval))
      } finally {
        base.unpersist()
        ()
      }
      val audit = (tag: String, w: graft.sources.Sources.Written) =>
        w.read(s).agg(
          lit(tag).as("artifact"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
          .select("artifact", "n_docs", "sum_chars")
      audit("train", train).unionAll(audit("eval", eval))
    },
    Some(s"""WITH s AS (SELECT n_chars, ${sqlSplitCase("doc_id")} AS split
                        FROM documents)
             SELECT 'train' AS artifact, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n_chars) AS BIGINT) AS sum_chars
             FROM s WHERE split = 'train'
             UNION ALL
             SELECT 'eval', CAST(count(*) AS BIGINT),
                    CAST(sum(n_chars) AS BIGINT)
             FROM s WHERE split <> 'train'""")
  )

  /** q298 — NEYMAN-OPTIMAL SAMPLE ALLOCATION: the survey-sampling
    * answer to "we can label B = 1000 documents — how many from each
    * (lang, source) stratum?": allocate ∝ N_h·σ_h (Neyman 1934 —
    * minimizes the variance of the stratified estimator at fixed
    * budget), so big AND internally-diverse strata get labelers while
    * homogeneous strata — however large — get few. The labeling-budget
    * planner q79/q94's quota machinery doesn't express (their quotas
    * are externally given; this DERIVES them from the data's own
    * variance structure, here on the n_chars cost proxy).
    *
    * Exactness discipline: per-stratum moments are exact integer sums
    * (Σx, Σx² — one map-side-combined aggregate); mean/σ are fixed op
    * sequences on identical integers (portable doubles, served
    * unquantized); the allocation weight N_h·σ_h is QUANTIZED at 1e-6
    * to an integer before the cross-strata total (a raw double sum
    * over strata would be association-ordered — the q03 lesson), and
    * the final quota is INTEGER division (both engines' `div`), so
    * every allocation is exact — no floor-at-boundary ulp hazard.
    * Strata relation is ≤ |langs|×|sources| rows: everything after
    * the one aggregate is metadata-sized.
    */
  val neymanAllocation = Q(
    "q298_neyman_allocation",
    (s, d) => {
      val B = 1000L
      val st = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("nh"),
          sum(col("n_chars")).as("s1"),
          sum(col("n_chars") * col("n_chars")).as("s2"))
        .select(col("lang"), col("source"), col("nh").cast("long").as("nh"),
          (col("s1").cast("double") / col("nh").cast("double")).as("mean_chars"),
          sqrt(greatest(
            col("s2").cast("double") / col("nh").cast("double")
              - (col("s1").cast("double") / col("nh").cast("double"))
              * (col("s1").cast("double") / col("nh").cast("double")),
            lit(0.0).cast("double"))).as("sigma"))
        .withColumn("wq", floor(col("nh").cast("double") * col("sigma") * lit(1e6)
          + lit(0.5)).cast("long"))
      val tot = st.agg(sum(col("wq")).as("sw"))
      st.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("nh"), col("mean_chars"),
          col("sigma"),
          when(col("sw") > 0, expr(s"($B * wq) div sw")).otherwise(lit(0L))
            .as("alloc"))
    },
    Some("""WITH st AS (SELECT lang, source,
                          CAST(count(*) AS BIGINT) AS nh,
                          CAST(sum(n_chars) AS BIGINT) AS s1,
                          CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
                        FROM documents GROUP BY 1, 2),
            m AS (SELECT lang, source, nh,
                         CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE) AS mean_chars,
                         sqrt(greatest(
                           CAST(s2 AS DOUBLE) / CAST(nh AS DOUBLE)
                             - (CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE)),
                           CAST(0 AS DOUBLE))) AS sigma
                  FROM st),
            w AS (SELECT *, CAST(floor(CAST(nh AS DOUBLE) * sigma * 1e6 + 0.5)
                             AS BIGINT) AS wq
                  FROM m),
            tot AS (SELECT CAST(sum(wq) AS BIGINT) AS sw FROM w)
            SELECT lang, source, nh, mean_chars, sigma,
                   CASE WHEN sw > 0 THEN CAST((1000 * wq) // sw AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS alloc
            FROM w CROSS JOIN tot""")
  )

  /** q299 — LENGTH-BUCKETED BATCHING AUDIT: the padding-waste
    * accounting behind dynamic batching (bucket sequences by
    * power-of-two token length; pad only to the bucket edge) vs naive
    * global batching (pad everything to the corpus max) — the
    * throughput decision every training-data loader makes, quantified:
    * per bucket, how many sequences, how many real tokens, how much
    * bucket padding; beside it the naive-padding total the bucketing
    * avoids. Complements the packing family (q71/q95/q153 PACK
    * sequences into fixed windows; this BUCKETS them — the two
    * standard loaders).
    *
    * Everything is integer arithmetic on one map-side-combined
    * aggregate (the bucket ladder is a fixed CASE — portable, no
    * log2-at-the-boundary ulp hazard); the naive baseline rides as a
    * 1-row broadcast (max length + total shortfall). Output is fully
    * exact — no doubles anywhere.
    */
  val lengthBuckets = Q(
    "q299_length_buckets",
    (s, d) => {
      val n = size(TextFns.tokens(col("text"))).cast("long")
      val bucket = when(n <= 16, 16L).when(n <= 32, 32L).when(n <= 64, 64L)
        .when(n <= 128, 128L).when(n <= 256, 256L).when(n <= 512, 512L)
        .when(n <= 1024, 1024L).when(n <= 2048, 2048L).when(n <= 4096, 4096L)
        .otherwise(8192L)
      val docs = Tables.documents(s, d).select(n.as("n"), bucket.as("bucket"))
      val byBucket = docs.groupBy("bucket")
        .agg(count(lit(1)).as("docs"), sum(col("n")).as("tokens"))
        .select(col("bucket"), col("docs").cast("long").as("docs"),
          col("tokens").cast("long").as("tokens"),
          (col("bucket") * col("docs") - col("tokens")).cast("long")
            .as("bucket_waste"))
      val naive = docs.agg(max(col("n")).as("lmax"), count(lit(1)).as("nd"),
          sum(col("n")).as("ntok"))
        .select(col("lmax"), (col("lmax") * col("nd") - col("ntok")).cast("long")
          .as("naive_waste"))
      byBucket.crossJoin(broadcast(naive))
        .select(col("bucket"), col("docs"), col("tokens"), col("bucket_waste"),
          col("lmax").cast("long").as("lmax"), col("naive_waste"))
    },
    Some("""WITH n AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
            b AS (SELECT n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                                 WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                                 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
                                 WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
                                 WHEN n <= 4096 THEN 4096 ELSE 8192 END AS bucket
                  FROM n),
            bb AS (SELECT CAST(bucket AS BIGINT) AS bucket,
                          CAST(count(*) AS BIGINT) AS docs,
                          CAST(sum(n) AS BIGINT) AS tokens,
                          CAST(bucket * count(*) - sum(n) AS BIGINT) AS bucket_waste
                   FROM b GROUP BY bucket),
            nv AS (SELECT CAST(max(n) AS BIGINT) AS lmax,
                          CAST(max(n) * count(*) - sum(n) AS BIGINT) AS naive_waste
                   FROM b)
            SELECT bucket, docs, tokens, bucket_waste, lmax, naive_waste
            FROM bb CROSS JOIN nv""")
  )

  /** q312 — SPLIT-CONFORMAL CALIBRATION + COVERAGE AUDIT: the
    * distribution-free uncertainty wrapper every deployed predictor
    * should ship with (Vovk's conformal prediction, the modern ML-eval
    * standard): hold out a CALIBRATION set, score its nonconformity
    * against a point predictor, take the ⌈(n+1)(1−α)⌉-th smallest
    * score as the band half-width q̂, and AUDIT the promised ≥ 1−α
    * coverage on a disjoint TEST split. Complements q152 (bootstrap
    * CIs quantify the MEAN's uncertainty; conformal bounds each
    * PREDICTION) and q298 (allocation plans the labels; this spends
    * them). Splits are the q79 deterministic-hash discipline
    * (event_id % 5: 0 = calibration, 1 = test — id-derived, stable,
    * joinable); predictor = per-type calibration MEDIAN in cents
    * (rank-selected lower median — an integer, so every nonconformity
    * score |cents − med| is pure BIGINT); q̂ is rank-SELECTED from the
    * actual scores (the q120/q305 no-interpolation rule) at rank
    * ⌈(n+1)·0.9⌉ = ((n+1)·9 + 9) div 10 in integers — no floating
    * quantile anywhere; the only doubles are the final coverage
    * divisions of identical exact integers.
    *
    * Scale shape: the per-type sorts run over the CALIBRATION split
    * only — a deliberate 1-in-5 hash sample standing in for the
    * labeling budget that bounds any real calibration set (at 100 TB
    * you calibrate on what you can label, never the corpus); the test
    * sweep is one map-side-combined aggregate after a dim-sized join
    * of (median, q̂) per type.
    */
  val conformalCoverage = Q(
    "q312_conformal_coverage",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        col("event_id"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val cal = ev.where(col("event_id") % 5 === 0)
      val test = ev.where(col("event_id") % 5 === 1)
      val wMed = Window.partitionBy("event_type").orderBy("cents", "event_id")
      val nCal = cal.groupBy("event_type").agg(count(lit(1)).as("n_cal"))
      val med = cal.withColumn("rn", row_number().over(wMed).cast("long"))
        .join(nCal, "event_type")
        .where(col("rn") === expr("(n_cal + 1L) div 2L"))
        .select(col("event_type"), col("cents").as("med_cents"), col("n_cal"))
      val wQ = Window.partitionBy("event_type").orderBy("score", "event_id")
      val qhat = cal.join(med, "event_type")
        .withColumn("score", abs(col("cents") - col("med_cents")))
        .withColumn("rn", row_number().over(wQ).cast("long"))
        // rank clamped to n_cal: a calibration set with n_cal <= 8 has
        // ceil((n+1)*0.9) > n — split-conformal convention is q-hat =
        // +inf; taking the max score is the finite analogue and keeps
        // the type in the release instead of silently dropping it.
        .where(col("rn") === expr("least(((n_cal + 1L) * 9L + 9L) div 10L, n_cal)"))
        .select(col("event_type"), col("score").as("qhat"))
      test.join(med, "event_type").join(qhat, "event_type")
        .groupBy(col("event_type"), col("n_cal"), col("med_cents"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("cents") - col("med_cents")) <= col("qhat"), 1L)
            .otherwise(0L)).as("n_covered"))
        .select(col("event_type"), col("n_cal"), col("n_test"),
          col("med_cents"), col("qhat"), col("n_covered"),
          (col("n_covered").cast("double") / col("n_test").cast("double"))
            .as("coverage"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            cal AS (SELECT * FROM ev WHERE event_id % 5 = 0),
            tst AS (SELECT * FROM ev WHERE event_id % 5 = 1),
            nc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal
                   FROM cal GROUP BY 1),
            med AS (SELECT c.event_type, c.cents AS med_cents, nc.n_cal
                    FROM (SELECT event_type, cents,
                                 CAST(row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS BIGINT) AS rn
                          FROM cal) c
                    JOIN nc ON nc.event_type = c.event_type
                    WHERE c.rn = (nc.n_cal + 1) // 2),
            qh AS (SELECT event_type, score AS qhat FROM (
                     SELECT c.event_type, abs(c.cents - m.med_cents) AS score,
                            m.n_cal,
                            CAST(row_number() OVER (PARTITION BY c.event_type
                                 ORDER BY abs(c.cents - m.med_cents), c.event_id)
                                 AS BIGINT) AS rn
                     FROM cal c JOIN med m ON m.event_type = c.event_type) t
                   WHERE rn = least(((n_cal + 1) * 9 + 9) // 10, n_cal))
            SELECT t.event_type, m.n_cal, CAST(count(*) AS BIGINT) AS n_test,
                   m.med_cents, q.qhat,
                   CAST(sum(CASE WHEN abs(t.cents - m.med_cents) <= q.qhat
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
                   CAST(sum(CASE WHEN abs(t.cents - m.med_cents) <= q.qhat
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS coverage
            FROM tst t
            JOIN med m ON m.event_type = t.event_type
            JOIN qh q ON q.event_type = t.event_type
            GROUP BY 1, 2, 4, 5""")
  )

  /** q323 — AQP SAMPLE-ESTIMATE AUDIT (approximate query processing,
    * the BlinkDB trade): answer the per-type revenue rollup from a
    * deterministic 1-in-16 hash sample (seeded md5 over event_id —
    * the q79/q229 discipline: stable across reruns and cluster
    * sizes, joinable, oracle-replayable where a Bernoulli RNG sample
    * would force rows-only), scale by 16, and put the ESTIMATE beside
    * the exact answer with its realized relative error — the audit
    * table that tells a dashboard owner whether the 16× scan saving
    * is worth the error for THEIR metric (skewed cents columns
    * degrade; counts barely move). Estimates are exact integers
    * (16·Σ over the sample), the only double is the one error
    * division.
    *
    * Scale shape: at 100 TB the sample is MATERIALIZED once (a q80
    * companion table) and every exploratory query reads 1/16th of
    * the bytes; here both passes ride one scan each, map-side
    * combined. The audit is what makes AQP honest — the q135/q310
    * sketch-then-verify discipline applied to sampling.
    */
  val aqpSampleAudit = Q(
    "q323_aqp_sample_audit",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("h", expr("CAST(conv(substring(md5(CAST(concat('aqp|', " +
          "CAST(event_id AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
      val exact = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("exact_cents"))
      val est = ev.where(col("h") % 16 === 0)
        .groupBy("event_type")
        .agg((count(lit(1)) * 16L).as("n_est"),
          count(lit(1)).as("n_sample"),
          (sum(col("cents")) * 16L).as("est_cents"))
      // LEFT join from exact: a type with zero sampled rows is exactly
      // the under-coverage this audit exists to surface — it must
      // appear (estimate 0), not vanish from the report. The division
      // is guarded: exact_cents = 0 yields NULL in both engines
      // (Spark non-ANSI NULL vs DuckDB inf would otherwise diverge).
      exact.join(est, Seq("event_type"), "left")
        .select(col("event_type"), col("n"),
          coalesce(col("n_sample"), lit(0L)).as("n_sample"),
          coalesce(col("n_est"), lit(0L)).as("n_est"),
          col("exact_cents"),
          coalesce(col("est_cents"), lit(0L)).as("est_cents"),
          when(col("exact_cents") === 0L, lit(null).cast("double"))
            .otherwise(abs(coalesce(col("est_cents"), lit(0L)) - col("exact_cents"))
              .cast("double") / col("exact_cents").cast("double")).as("rel_err"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                               ('0x' || substr(md5('aqp|' || CAST(event_id AS VARCHAR)),
                                               1, 15))::BIGINT AS h
                        FROM events),
            ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(cents) AS BIGINT) AS exact_cents
                   FROM ev GROUP BY 1),
            es AS (SELECT event_type,
                          CAST(count(*) * 16 AS BIGINT) AS n_est,
                          CAST(count(*) AS BIGINT) AS n_sample,
                          CAST(sum(cents) * 16 AS BIGINT) AS est_cents
                   FROM ev WHERE h % 16 = 0 GROUP BY 1)
            SELECT ex.event_type, ex.n,
                   coalesce(es.n_sample, 0) AS n_sample,
                   coalesce(es.n_est, 0) AS n_est,
                   ex.exact_cents,
                   coalesce(es.est_cents, 0) AS est_cents,
                   CASE WHEN ex.exact_cents = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(abs(coalesce(es.est_cents, 0) - ex.exact_cents)
                                  AS DOUBLE) / CAST(ex.exact_cents AS DOUBLE)
                   END AS rel_err
            FROM ex LEFT JOIN es USING (event_type)""")
  )

  /** q324 — LEAKAGE-SAFE LABEL FACTORY: the supervised-learning
    * operator none of the split family expresses — q79/q80 split ROWS,
    * q125 detects content leakage, q312 calibrates; this GENERATES
    * (features, label) training rows under the temporal discipline
    * that prevents the classic silent failure of churn/propensity
    * models: features from the observation window [t0, t0+14), label
    * from the DISJOINT outcome window [t0+14, t0+21) — any feature
    * computed after the cutoff is target leakage, and the windows'
    * disjointness is structural here (two non-overlapping date
    * filters feeding separate aggregates), not a convention. Label =
    * "purchased in the outcome week"; features are exact integers
    * (event count, cent sum, distinct active days, last-gap days).
    * Users with NO outcome-window activity still get labeled 0 — the
    * silent row-drop that inflates offline AUC is the second classic
    * bug, closed by a left join from the feature population.
    *
    * Scale shape: two date-pruned map-side-combined aggregates and
    * one user-grain left join; at 100 TB the date filters ride
    * partition pruning (q67) so each window reads only its days.
    */
  val leakageSafeLabels = Q(
    "q324_leakage_safe_labels",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        to_date(col("ts")).as("day"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val t0 = ev.agg(min(col("day")).as("t0"))
      val base = ev.crossJoin(broadcast(t0))
        .withColumn("off", datediff(col("day"), col("t0")).cast("long"))
      val feats = base.where(col("off") >= 0 && col("off") < 14)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("feat_cents"),
          countDistinct(col("day")).as("active_days"),
          (lit(13L) - max(col("off"))).as("days_since_last"))
      val labels = base.where(col("off") >= 14 && col("off") < 21
          && col("event_type") === "purchase")
        .select(col("user_id")).distinct()
        .withColumn("label", lit(1L))
      feats.join(labels, Seq("user_id"), "left")
        .select(col("user_id"), col("n_events"), col("feat_cents"),
          col("active_days"), col("days_since_last"),
          coalesce(col("label"), lit(0L)).as("label"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            tz AS (SELECT min(day) AS t0 FROM ev),
            base AS (SELECT ev.*, CAST(date_diff('day', tz.t0, ev.day) AS BIGINT)
                              AS off
                     FROM ev CROSS JOIN tz),
            f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                         CAST(sum(cents) AS BIGINT) AS feat_cents,
                         CAST(count(DISTINCT day) AS BIGINT) AS active_days,
                         13 - CAST(max(off) AS BIGINT) AS days_since_last
                  FROM base WHERE off >= 0 AND off < 14 GROUP BY 1),
            l AS (SELECT DISTINCT user_id, CAST(1 AS BIGINT) AS label
                  FROM base
                  WHERE off >= 14 AND off < 21 AND event_type = 'purchase')
            SELECT f.user_id, f.n_events, f.feat_cents, f.active_days,
                   f.days_since_last, coalesce(l.label, 0) AS label
            FROM f LEFT JOIN l USING (user_id)""")
  )

  /** q325 — PURGED WALK-FORWARD CV FOLDS: the time-series
    * cross-validation protocol q79's hash split cannot express — for
    * temporally-ordered data, a random split leaks the future into
    * training, so each fold must train strictly BEFORE its test window,
    * with a PURGE gap between them absorbing label lookahead (the
    * de Prado purged-CV discipline; q324 builds one leakage-safe fold,
    * this generates the K-fold schedule an evaluation harness runs).
    * Three folds walk back from the last day D in 5-day test windows:
    * fold k tests [D−5k+1, D−5k+5], purges the 2 days before, trains
    * on everything before the purge. Output is the fold×role audit
    * (row/user counts + the off range actually observed) — the table
    * that PROVES each fold's windows are disjoint and ordered, which
    * is the whole point of the protocol.
    *
    * Exactness: day offsets and counts are integers end-to-end; no
    * doubles anywhere. Scale shape: D is a 1-row broadcast; the 3-row
    * fold spec is a broadcast range join on off intervals; the
    * aggregate is map-side-combined on a ≤9-row key space, and at
    * 100 TB the off filters ride date partition pruning (q67).
    */
  val purgedCvFolds = Q(
    "q325_purged_cv_folds",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), to_date(col("ts")).as("day"))
      val t0 = ev.agg(min(col("day")).as("t0"), max(col("day")).as("t1"))
      val base = ev.crossJoin(broadcast(t0))
        .withColumn("off", datediff(col("day"), col("t0")).cast("long"))
        .withColumn("dd", datediff(col("t1"), col("t0")).cast("long"))
      val folds = s.range(1, 4).select(col("id").as("fold"))
      base.crossJoin(broadcast(folds))
        .withColumn("ts_k", col("dd") - lit(5L) * col("fold") + 1L)
        .withColumn("role",
          when(col("off") >= col("ts_k") && col("off") < col("ts_k") + 5L, "test")
            .when(col("off") >= col("ts_k") - 2L && col("off") < col("ts_k"), "purge")
            .when(col("off") < col("ts_k") - 2L, "train"))
        .where(col("role").isNotNull)
        .groupBy("fold", "role")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("off")).as("min_off"), max(col("off")).as("max_off"))
    },
    Some("""WITH ev AS (SELECT user_id, event_id, CAST(ts AS DATE) AS day
                        FROM events),
            tz AS (SELECT min(day) AS t0, max(day) AS t1 FROM ev),
            base AS (SELECT ev.user_id,
                            CAST(date_diff('day', tz.t0, ev.day) AS BIGINT) AS off,
                            CAST(date_diff('day', tz.t0, tz.t1) AS BIGINT) AS dd
                     FROM ev CROSS JOIN tz),
            f AS (SELECT CAST(unnest(generate_series(1, 3)) AS BIGINT) AS fold),
            r AS (SELECT b.user_id, b.off, f.fold,
                         CASE WHEN b.off >= b.dd - 5*f.fold + 1
                                   AND b.off < b.dd - 5*f.fold + 6 THEN 'test'
                              WHEN b.off >= b.dd - 5*f.fold - 1
                                   AND b.off < b.dd - 5*f.fold + 1 THEN 'purge'
                              WHEN b.off < b.dd - 5*f.fold - 1 THEN 'train'
                         END AS role
                  FROM base b CROSS JOIN f)
            SELECT fold, role, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   min(off) AS min_off, max(off) AS max_off
            FROM r WHERE role IS NOT NULL GROUP BY 1, 2""")
  )

  val all: Seq[Q] = Seq(trainSplit, stratifiedSample, temperatureMix, epochMix,
    splitLeakage, consistentSample, weightedSample, fanoutWrite, neymanAllocation,
    lengthBuckets, conformalCoverage, aqpSampleAudit, leakageSafeLabels,
    purgedCvFolds)
}
