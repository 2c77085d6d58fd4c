package graft.queries

import graft.{Q, Tables}
import graft.functions.{ScoredId, TextFns, TopKAggregator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis suite over `documents`: token counting, language-ID
  * heuristic, quality scoring, document fingerprinting. All per-document
  * narrow transformations (no shuffle except q32's gram aggregation), all
  * with exact DuckDB oracles.
  */
object TextAnalysis {

  /** q29 — token counting: whitespace tokens, BPE-ish regex tokens
    * (letter runs | digit runs | single punctuation), distinct tokens,
    * mean token length. Pure projection — no shuffle at any scale.
    */
  val tokenStats = Q(
    "q29_token_stats",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("ws"))
        .select(
          col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)")
            .as("n_re_tokens"),
          size(array_distinct(col("ws"))).cast("long").as("n_uniq"),
          ((length(col("text")) - (size(col("ws")) - 1)).cast("double") / size(col("ws")))
            .as("avg_wlen")),
    Some("""SELECT doc_id,
            len(string_split(text, ' ')) AS n_tokens,
            CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
            len(list_distinct(string_split(text, ' '))) AS n_uniq,
            CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
              / len(string_split(text, ' ')) AS avg_wlen
            FROM documents""")
  )

  /** Marker-token sets per language for the lang-ID heuristic. The corpus
    * is synthetic (one shared vocabulary for all `lang` labels), so real
    * stopword profiles carry no signal here; these demonstration markers
    * are drawn from the actual vocabulary so the classifier output varies
    * per document. On a real corpus, swap in per-language stopword lists —
    * the plan shape (score-per-language → argmax) is unchanged.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "row"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("query", "scan"),
    "fr" -> Seq("window", "sort"),
    "zh" -> Seq("vector", "stream"))

  /** q30 — language identification: marker-token occurrence counts per
    * language, argmax with fixed tie-break order (the CASE order).
    */
  val langId = Q(
    "q30_lang_id", {
      (s, d) =>
        val scoreCols = markers.map { case (lang, ws) =>
          val inList = ws.map(w => s"'$w'").mkString(", ")
          expr(s"size(filter(ws, w -> w IN ($inList)))").as(s"s_$lang")
        }
        val langs = markers.map(_._1)
        val pred = langs.foldRight(lit(langs.last)) { (lang, els) =>
          val allGe = langs.filter(_ != lang)
            .map(o => col(s"s_$lang") >= col(s"s_$o"))
            .reduce(_ && _)
          when(allGe, lit(lang)).otherwise(els)
        }
        Tables.documents(s, d)
          .select(col("doc_id") +: col("lang") +: TextFns.tokens(col("text")).as("ws") +: Nil: _*)
          .select(col("doc_id") +: col("lang") +: scoreCols: _*)
          .withColumn("pred_lang", pred)
          .select(col("doc_id"), col("lang"), col("pred_lang"),
            when(col("lang") === col("pred_lang"), 1L).otherwise(0L).as("is_match"))
    }, {
      val langs = markers.map(_._1)
      val scoreSql = markers.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), w -> w IN ($inList))) AS s_$lang"
      }.mkString(",\n              ")
      val caseSql = langs.init.map { lang =>
        val conds = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString("\n                     ")
      Some(s"""WITH scored AS (
                SELECT doc_id, lang,
                $scoreSql
                FROM documents)
              SELECT doc_id, lang,
                     CASE $caseSql
                          ELSE '${langs.last}' END AS pred_lang,
                     CAST(CASE WHEN lang = (CASE $caseSql
                          ELSE '${langs.last}' END) THEN 1 ELSE 0 END AS BIGINT) AS is_match
              FROM scored""")
    }
  )

  /** q31 — quality scoring: length, punctuation count, stopword ratio,
    * mean word length, folded into one bounded score. All arithmetic is
    * structured identically to the oracle so doubles match bit-for-bit.
    */
  val qualityScore = Q(
    "q31_quality_score",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("ws"))
        .select(
          col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          expr("CAST(size(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)").as("n_punct"),
          (expr("CAST(size(filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE)") / size(col("ws")))
            .as("stop_ratio"),
          ((length(col("text")) - (size(col("ws")) - 1)).cast("double") / size(col("ws")))
            .as("avg_wlen"))
        // No rounding: the three terms are computed with the identical
        // IEEE op sequence as the oracle, so the raw doubles match
        // bit-for-bit — while round() itself is NOT engine-portable at
        // decimal boundaries (Spark rounds the shortest decimal repr,
        // DuckDB rounds value*10^d, and they disagree on e.g. 0.48775).
        .withColumn("quality",
          lit(0.4) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
            + lit(0.3) * (lit(1.0) - col("stop_ratio"))
            + lit(0.3) * least(col("avg_wlen") / 10.0, lit(1.0))),
    Some("""WITH f AS (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS n_tokens,
                     CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
                     CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS stop_ratio,
                     CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                       / len(string_split(text, ' ')) AS avg_wlen
              FROM documents)
            SELECT doc_id, n_tokens, n_punct, stop_ratio, avg_wlen,
                   0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                     + 0.3 * (1.0 - stop_ratio)
                     + 0.3 * least(avg_wlen / 10.0, 1.0) AS quality
            FROM f""")
  )

  /** q32 — document fingerprinting: full-text md5, a 60-bit integer
    * prefix of it, and a shingle fingerprint (min over word-trigram md5s —
    * a 1-hash MinHash, robust to local edits).
    */
  val fingerprint = Q(
    "q32_fingerprint",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val shingleFp = TextFns.wordGrams(docs, 3)
        .groupBy("doc_id")
        .agg(min(TextFns.md5Hex(col("g"))).as("shingle_fp"))
      docs
        .select(col("doc_id"), TextFns.md5Hex(col("text")).as("fp"))
        .withColumn("fp64",
          expr("CAST(conv(substring(fp, 1, 15), 16, 10) AS BIGINT)"))
        .join(shingleFp, Seq("doc_id"), "left")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            idx AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i FROM toks),
            grams AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                      FROM idx WHERE i + 2 <= len(ws)),
            sfp AS (SELECT doc_id, min(md5(g)) AS shingle_fp FROM grams GROUP BY 1)
            SELECT d.doc_id, md5(d.text) AS fp,
                   ('0x' || substr(md5(d.text), 1, 15))::BIGINT AS fp64,
                   sfp.shingle_fp
            FROM documents d LEFT JOIN sfp ON sfp.doc_id = d.doc_id""")
  )

  /** q46 — TF-IDF: top-3 scoring terms per document. One shuffle for tf,
    * one aggregate for df joined back on term (no broadcast hint: the
    * vocabulary GROWS with the corpus — heavy-tailed but unbounded — so
    * forcing a df broadcast is the same 100 TB OOM class as broadcasting
    * a per-document relation; AQE broadcasts it while it fits), corpus
    * size via a broadcast 1-row aggregate — no driver-side collect.
    * Scores are rounded to 6 digits before ranking (ln() is
    * libm-dependent), with a term tiebreak, so ordering is
    * engine-portable.
    */
  val tfIdf = Q(
    "q46_tfidf",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .where(col("term") =!= "")
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= 3)
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                              round(tf.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
                       FROM tf JOIN dfreq USING (term) CROSS JOIN n)
            SELECT doc_id, term, tf, df, tfidf, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                             ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
              FROM scored) t
            WHERE rnk <= 3""")
  )

  /** q72 — REPETITION signals (the Gopher/C4 quality rules that catch
    * boilerplate and degenerate generations): per document, the fraction
    * of duplicated word trigrams (1 − distinct/total over NON-distinct
    * shingles) and the top single-token frequency ratio. Total over all
    * inputs: documents with no tokens (or too short for a trigram) get
    * defined 0.0 ratios via left joins from the documents table. Ratios
    * are single divisions of identical integers on both engines —
    * bit-exact.
    */
  val repetition = Q(
    "q72_repetition",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tokCounts = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val tokStats = tokCounts.groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), max("c").as("max_tok"))
      // NON-distinct trigrams (unlike TextFns.wordGrams): repetition is
      // precisely the multiplicity that distinct would erase
      val gramStats = docs
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', slice(ws, i + 1, 3)))"))
          .as("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), countDistinct("g").as("n_distinct_grams"))
      docs.select(col("doc_id"))
        .join(tokStats, Seq("doc_id"), "left")
        .join(gramStats, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("max_tok").cast("double") / col("n_tokens"), lit(0.0))
            .as("top_token_ratio"),
          coalesce(lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"),
            lit(0.0)).as("dup_trigram_ratio"))
    },
    Some("""WITH tc AS (
              SELECT doc_id, w, count(*) AS c FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
              WHERE w <> '' GROUP BY 1, 2),
            ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                          CAST(max(c) AS BIGINT) AS max_tok
                   FROM tc GROUP BY 1),
            gr AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                   FROM (SELECT doc_id, ws,
                                unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
                         FROM (SELECT doc_id, string_split(text, ' ') AS ws
                               FROM documents) t0) t
                   WHERE i + 2 <= len(ws)),
            gs AS (SELECT doc_id, count(*) AS ng, count(DISTINCT g) AS ndg
                   FROM gr GROUP BY 1)
            SELECT d.doc_id,
                   CAST(coalesce(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
                   coalesce(CAST(ts.max_tok AS DOUBLE) / ts.n_tokens, 0.0)
                     AS top_token_ratio,
                   coalesce(1.0 - CAST(gs.ndg AS DOUBLE) / gs.ng, 0.0)
                     AS dup_trigram_ratio
            FROM documents d
            LEFT JOIN ts ON ts.doc_id = d.doc_id
            LEFT JOIN gs ON gs.doc_id = d.doc_id""")
  )

  /** q82 — benchmark DECONTAMINATION: flag training documents that share
    * a word 5-gram with any held-out benchmark document (here the
    * deterministic `doc_id % 101 == 0` subset stands in for the benchmark
    * corpus) — the standard eval-contamination sweep run before training.
    * Output: one row per contaminated (train, benchmark) pair with the
    * shared-gram count, the evidence a filtering step joins against.
    *
    * Scale shape: the join is gram-keyed with the benchmark side tiny and
    * the gram relation narrow (explode, no shuffle until the join) —
    * the benchmark grams behave like a dimension (AQE broadcasts them at
    * any realistic benchmark size; no forced hint, same discipline as
    * q23/q24). A boilerplate 5-gram shared by everything would fan out
    * like q24's hot shingle; the production variant (REGISTERED as
    * q106 below) applies q73's corpus-wide df-cap — which also HELPS
    * decontamination (ubiquitous grams are not evidence of benchmark
    * leakage).
    */
  /** DuckDB CTEs producing the distinct word 5-grams `g5(doc_id, g)` —
    * shared by q82's oracle and q86's (the manifest must exclude exactly
    * the documents q82 flags, so the gram construction may exist once).
    */
  private[graft] val sqlG5Ctes =
    """toks5 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       idx5 AS (SELECT doc_id, ws,
                       unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS i
                FROM toks5),
       g5 AS (SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                     ws[i+3] || ' ' || ws[i+4] AS g
              FROM idx5 WHERE i + 4 <= len(ws))"""

  val decontaminate = Q(
    "q82_decontaminate",
    (s, d) => {
      val grams = TextFns.wordGrams(Tables.documents(s, d), 5)
      val bench = grams.where(col("doc_id") % 101 === 0)
      val train = grams.where(col("doc_id") % 101 =!= 0)
      train.as("t").join(bench.as("b"), col("t.g") === col("b.g"))
        .groupBy(col("t.doc_id").as("train_doc"), col("b.doc_id").as("bench_doc"))
        .agg(count(lit(1)).as("n_shared"))
    },
    Some(s"""WITH $sqlG5Ctes
            SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
                   count(*) AS n_shared
            FROM g5 t
            JOIN g5 b ON b.g = t.g AND b.doc_id % 101 = 0
            WHERE t.doc_id % 101 <> 0
            GROUP BY 1, 2""")
  )

  /** q106 — the PRODUCTION df-capped decontamination q82's scaladoc
    * promises (the q73/q104 move, third member of the family): 5-grams
    * occurring in more than `MaxGram5Df` documents corpus-wide are
    * dropped BEFORE the train×bench join. Rationale is dual — cost: a
    * hot gram costs O(df_train × df_bench) join pairs, the exact skew
    * that melts the job on a template-heavy crawl; and QUALITY:
    * ubiquitous boilerplate grams are not evidence of benchmark leakage,
    * so capping them removes false-positive contamination flags, not
    * signal. Genuinely leaked passages are by construction rare strings
    * (df ≈ #leaks), far under any sane cap. `DecontamCapSpec` pins both
    * halves on a constructed corpus: the hot-gram pair set vanishes, a
    * real leaked passage's pair survives with its full shared-gram count.
    *
    * SCALE DIAL: unlike the dedup caps (q73/q104, whose boilerplate
    * target is RELATIVE-common and wants `ppm × N_docs`), leak evidence
    * is ABSOLUTE-rare — a leaked benchmark passage's grams have
    * df ≈ #leaked copies, independent of corpus size — so an absolute
    * cap is the right production semantics for the QUALITY half. The
    * cap must only exceed plausible leak multiplicity (a passage copied
    * into tens of training docs must stay under it); 50 does. The COST
    * half (join skew) is also bounded: worst case per surviving gram is
    * 50 × 50 pairs. Production keeps the absolute form and monitors the
    * dropped-gram count — a rising drop rate means boilerplate the
    * exact-dedup passes (q22/q89) should have removed upstream.
    */
  private val MaxGram5Df = 50
  val decontaminateCapped = Q(
    "q106_decontaminate_capped",
    (s, d) => {
      val grams = TextFns.wordGrams(Tables.documents(s, d), 5)
      val kept = grams.groupBy("g").agg(count(lit(1)).as("df"))
        .where(col("df") <= MaxGram5Df)
        .select("g")
      val fg = grams.join(kept, "g")
      val bench = fg.where(col("doc_id") % 101 === 0)
      val train = fg.where(col("doc_id") % 101 =!= 0)
      train.as("t").join(bench.as("b"), col("t.g") === col("b.g"))
        .groupBy(col("t.doc_id").as("train_doc"), col("b.doc_id").as("bench_doc"))
        .agg(count(lit(1)).as("n_shared"))
    },
    Some(s"""WITH $sqlG5Ctes,
            keptg AS (SELECT g FROM g5 GROUP BY g HAVING count(*) <= $MaxGram5Df),
            fg AS (SELECT g5.* FROM g5 JOIN keptg USING (g))
            SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
                   count(*) AS n_shared
            FROM fg t
            JOIN fg b ON b.g = t.g AND b.doc_id % 101 = 0
            WHERE t.doc_id % 101 <> 0
            GROUP BY 1, 2""")
  )

  /** q84 — POSITIONAL inverted index: term → (doc, sorted positions,
    * term frequency) — the full-text-search posting shape (q12's
    * group-collect carries values; this carries token OFFSETS, what
    * phrase queries and proximity scoring need). `posexplode` keeps the
    * token position through the narrow explode; one shuffle on (term,
    * doc) with the position list assembled in the aggregation. Postings
    * are per-(term, doc) rows — the output scales like the token
    * relation, never concentrated on the driver.
    */
  val positionalIndex = Q(
    "q84_positional_index",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("p", "w")))
        .where(col("w") =!= "")
        .groupBy("w", "doc_id")
        // serialized posting (comma-joined, ascending) — the list itself,
        // in the compare-friendly string form q12 established
        .agg(array_join(sort_array(collect_list((col("p") + lit(1)).cast("long"))), ",")
          .as("positions"),
          count(lit(1)).as("tf")),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pos AS (SELECT doc_id, i, ws[i] AS w
                    FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
                          FROM toks) t
                    WHERE ws[i] <> '')
            SELECT w, doc_id, array_to_string(list(i ORDER BY i), ',') AS positions,
                   count(*) AS tf
            FROM pos GROUP BY w, doc_id""")
  )

  /** q85 — VOCABULARY building: the corpus-wide token frequency table,
    * top 1000 by (count, token) — the counting pass a BPE/unigram
    * tokenizer trainer starts from. The global top-k is `orderBy+limit`
    * (TakeOrderedAndProject: each task keeps its local top-1000, the
    * driver merges k·tasks rows), NOT a single-partition window rank —
    * the difference between shuffling the vocabulary and shuffling the
    * answer at a 100 TB vocabulary.
    */
  val vocabulary = Q(
    "q85_vocabulary",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("cnt").desc, col("w").asc)
        .limit(1000),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                         FROM documents)
            SELECT w, count(*) AS cnt, count(DISTINCT doc_id) AS df
            FROM tok WHERE w <> ''
            GROUP BY w ORDER BY cnt DESC, w LIMIT 1000""")
  )

  /** The deterministically "dirtied" corpus behind q93: uppercases every
    * third doc, and appends a decomposed `cafe` + U+0301 plus ragged
    * whitespace to every fourth — the mixed-case / mixed-composition /
    * ragged-spacing input a real crawl produces, reconstructed in closed
    * form so the oracle sees byte-identical raw text.
    */
  private def dirtyText(idCol: String): (org.apache.spark.sql.Column, String) = {
    val spark = {
      val base = when(col(idCol) % 3 === 0, upper(col("text"))).otherwise(col("text"))
      // DECOMPOSED on purpose: 'e' + combining acute (U+0301), the form
      // NFC must actually compose -- identical to the oracle's chr(769)
      when(col(idCol) % 4 === 0,
        concat(base, lit("  cafe\u0301  "))).otherwise(base)
    }
    val sql =
      s"""CASE WHEN $idCol % 4 = 0
              THEN (CASE WHEN $idCol % 3 = 0 THEN upper(text) ELSE text END)
                   || '  cafe' || chr(769) || '  '
              ELSE (CASE WHEN $idCol % 3 = 0 THEN upper(text) ELSE text END) END"""
    (spark, sql)
  }

  /** q93 — TEXT NORMALIZATION, the first pass of every ingest pipeline:
    * Unicode NFC (native [[graft.functions.NfcNormalize]] expression —
    * canonical composition, so `e`+U+0301 and `é` hash/tokenize
    * identically), lowercasing, whitespace collapse, trim. A pure narrow
    * projection inside whole-stage codegen — at 100 TB this is a
    * streaming-friendly rewrite with zero shuffle (PlanSpec-gated). The
    * char count drops out of normalization (composition shrinks
    * combining sequences), which downstream length-based quality filters
    * (q31) would consume.
    */
  val normalize = Q(
    "q93_normalize",
    (s, d) => {
      val (raw, _) = dirtyText("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          // explicit class, not \s: Java \s includes U+000B where RE2's
          // does not — spell the byte set once so both engines collapse
          // exactly the same whitespace (latent cross-engine hash hazard
          // on dirtier corpora)
          trim(regexp_replace(lower(graft.functions.NfcNormalize(col("raw"))),
            "[ \\t\\n\\f\\r\\x0B]+", " "))
            .as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
    },
    Some {
      val (_, rawSql) = dirtyText("doc_id")
      s"""WITH raw AS (SELECT doc_id, $rawSql AS raw FROM documents),
          norm AS (SELECT doc_id,
                          trim(regexp_replace(lower(nfc_normalize(raw)), '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g'))
                            AS norm_text
                   FROM raw)
          SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_chars_norm
          FROM norm"""
    }
  )

  /** PII patterns for q97 — deliberately simple, byte-portable between
    * Java regex and DuckDB's RE2 (character classes, bounded repetition,
    * ASCII word boundaries only).
    */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"
  private val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** q97 — PII REDACTION, a compliance pass every shipped training corpus
    * runs: emails, phone numbers and IPv4 addresses are replaced with
    * typed placeholders, with per-doc match counts as the audit trail.
    * The PII is synthesized deterministically per doc id (the test corpus
    * is clean), so the oracle reproduces the raw text in closed form and
    * checks the redaction byte-for-byte. A narrow projection — three
    * regex passes inside whole-stage codegen, no shuffle; at 100 TB this
    * composes with q52's clean-corpus rewrite at zero extra cost. Counts
    * are taken BEFORE redaction (email removal must not hide a phone
    * match and vice versa — patterns here are disjoint, but the audit
    * must not depend on that).
    */
  val piiRedact = Q(
    "q97_pii_redact",
    (s, d) => {
      val raw = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact john.doe"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>").as("clean_text"),
          regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_email"),
          regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phone"),
          regexp_count(col("raw"), lit(IpRe)).cast("long").as("n_ip"))
    },
    Some(s"""WITH raw AS (
              SELECT doc_id, text
                || (CASE WHEN doc_id % 3 = 0
                         THEN ' contact john.doe' || doc_id || '@example.com' ELSE '' END)
                || (CASE WHEN doc_id % 5 = 0
                         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)
                || (CASE WHEN doc_id % 7 = 0
                         THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ELSE '' END)
                AS raw
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(raw,
                     '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
                     '$IpRe', '<IP>', 'g') AS clean_text,
                   CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_ip
            FROM raw""")
  )

  /** q100 — BPE MERGE-PAIR COUNTING, the inner loop of byte-pair-encoding
    * tokenizer training: count adjacent character pairs across the
    * corpus, weighted by word frequency (the highest-count pair becomes
    * the next merge rule; q85's unigram pass is the step before this).
    * The load-bearing trick is the one real BPE trainers use: pairs are
    * counted over the DISTINCT-WORD table × frequency, so the pair
    * explosion runs at vocabulary scale, not corpus scale — the only
    * corpus-sized work is the word-frequency aggregation (one shuffle,
    * map-side combined). Top-50 via orderBy+limit compiles to
    * TakeOrderedAndProject (per-task top-k, q85's discipline).
    */
  /** The corpus-wide (pair, cnt) table behind q100 and q112's merge
    * list: adjacent char pairs over the DISTINCT-word table × word
    * frequency. Exactly ONE copy of this pipeline may exist — q112
    * applies the top of the ranking q100 reports, and a drifted twin
    * would silently decouple them.
    */
  private def bpePairCounts(s: org.apache.spark.sql.SparkSession, d: String) = {
    val words = Tables.documents(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words
      .where(length(col("w")) >= 2)
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy("pair")
      .agg(sum("freq").as("cnt"))
  }

  /** DuckDB twin of [[bpePairCounts]] — `bwords(w, freq)` and
    * `bpairs(pair, freq)` CTEs shared by the q100 and q112 oracles.
    */
  private[graft] val sqlBpeCtes =
    """bwords AS (
         SELECT w, count(*) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         WHERE w <> '' GROUP BY w),
       bpairs AS (
         SELECT substr(w, i, 2) AS pair, freq
         FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
               FROM bwords WHERE length(w) >= 2) t)"""

  val bpePairs = Q(
    "q100_bpe_pairs",
    (s, d) =>
      bpePairCounts(s, d)
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(50),
    Some(s"""WITH $sqlBpeCtes
            SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM bpairs GROUP BY pair
            ORDER BY cnt DESC, pair LIMIT 50""")
  )

  private val BpeMergeK = 8
  private val Sep = "\u0001" // symbol boundary inside an encoded word
  private val WSep = "\u0002" // word boundary inside a doc fingerprint

  /** One greedy merge pass per learned pair, in rank order — the
    * reference BPE-apply loop: scan the symbol sequence left to right;
    * where (syms(i), syms(i+1)) equals the pair, fuse and continue
    * PAST the fused token (non-overlapping), so a run of k identical
    * adjacencies merges ⌈k/2⌉ times. Later merges see earlier merges'
    * multi-char symbols and only match SINGLE-char adjacencies of their
    * own pair — merges never split a symbol.
    */
  private[graft] def encodeSyms(syms0: Array[String], merges: Seq[String]): Array[String] = {
    var syms = syms0
    for (m <- merges) {
      val a = m.substring(0, 1)
      val b = m.substring(1)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += m; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toArray
    }
    syms
  }

  /** `w` split to chars, encoded through [[encodeSyms]], symbols joined
    * by [[Sep]].
    */
  private[graft] def encodeWord(w: String, merges: Seq[String]): String =
    encodeSyms(w.map(_.toString).toArray, merges).mkString(Sep)

  /** The top-`k` merge pairs by (cnt desc, pair asc) — q100's ranking,
    * truncated. BOUNDED construction-time collect (k strings; the
    * orderBy+limit is TakeOrderedAndProject), the ivfCents trade: the
    * merge list must reach a Scala fold, and k is a tokenizer
    * hyperparameter, never corpus-sized.
    */
  private[graft] def topMerges(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int): Seq[String] =
    bpePairCounts(s, d)
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
      .select("pair").collect().map(_.getString(0)).toSeq

  /** One unrolled merge step `t` of the q112 oracle: apply merge rank
    * `t`'s pair to every word's symbol list via the run-parity
    * formulation of the greedy pass — a match at position i is taken
    * iff it sits at an ODD offset within its maximal run of consecutive
    * matches (greedy takes the 1st, skips the overlapping 2nd, takes
    * the 3rd, ...). Window functions express that without recursion:
    * gaps-and-islands run ids, row_number parity, then drop the
    * consumed right-hand rows and re-aggregate the symbol list.
    */
  private def sqlMergeStep(t: Int): String = {
    val a = s"(SELECT substr(pair, 1, 1) FROM bmerges WHERE r = $t)"
    val b = s"(SELECT substr(pair, 2, 1) FROM bmerges WHERE r = $t)"
    s"""exp$t AS (
          SELECT w, i, syms[i] AS s
          FROM (SELECT w, syms, unnest(generate_series(1, len(syms))) AS i
                FROM st${t - 1}) t),
        mt$t AS (
          SELECT w, i, s,
                 (s = $a AND lead(s) OVER (PARTITION BY w ORDER BY i) = $b) AS m
          FROM exp$t),
        rn$t AS (
          SELECT w, i, s, m,
                 CASE WHEN m THEN i - row_number() OVER (PARTITION BY w, m ORDER BY i)
                      END AS run
          FROM mt$t),
        sel$t AS (
          SELECT w, i, s,
                 CASE WHEN m THEN (row_number() OVER (PARTITION BY w, run ORDER BY i) % 2) = 1
                      ELSE FALSE END AS take
          FROM rn$t),
        fold$t AS (
          SELECT w, i,
                 CASE WHEN take THEN s || lead(s) OVER (PARTITION BY w ORDER BY i)
                      ELSE s END AS s2,
                 lag(take, 1, FALSE) OVER (PARTITION BY w ORDER BY i) AS consumed
          FROM sel$t),
        st$t AS (
          SELECT w, list(s2 ORDER BY i) AS syms
          FROM fold$t WHERE NOT consumed GROUP BY w)"""
  }

  /** q112 — BPE MERGE APPLICATION (tokenizer ENCODE), the missing half
    * of the trainer loop next to q100's pair counting: the top
    * `BpeMergeK` learned merges are applied greedily, in rank order, to
    * every DISTINCT word (vocabulary scale — q100's own trick: the
    * per-word loop never touches the corpus), then joined back to the
    * position-exploded documents for per-doc BPE token counts and a
    * boundary-marked fingerprint of the full token sequence. The
    * per-word encoder is an honest Scala greedy loop (typed map over
    * the distinct-word table); the merge list is a BOUNDED
    * construction-time collect of k pairs.
    *
    * The oracle unrolls the k merge steps as CTE blocks (the ivfOracle
    * move — no recursion, so each step can use window functions): the
    * greedy pass is the run-parity selection over consecutive-match
    * islands, provably equal to the left-to-right scan. Every
    * quantity is integer/string-exact, so the full result hashes.
    * `BpeApplySpec` pins merge-order sensitivity, greedy adjacency
    * semantics, idempotence (re-applying the merge list to an encoded
    * word changes nothing), and lossless reconstruction.
    *
    * Scale shape: corpus-sized work is one word-frequency aggregation
    * (map-side combined) + the final (posexplode, vocabulary join,
    * per-doc agg) — the join is AQE-decided (vocabulary grows with the
    * corpus: q46's no-forced-broadcast discipline).
    */
  val bpeEncode = Q(
    "q112_bpe_encode",
    (s, d) => {
      import s.implicits._
      val merges = topMerges(s, d, BpeMergeK)
      val encWords = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .distinct()
        .as[String]
        .map(w => (w, encodeWord(w, merges)))
        .toDF("w", "sym")
      val docToks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("p", "w")))
        .where(col("w") =!= "")
      docToks.join(encWords, "w")
        .groupBy("doc_id")
        .agg(
          sum(size(split(col("sym"), Sep))).cast("long").as("n_tokens"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("p"), col("sym")))),
              x => x.getField("sym")),
            WSep).cast("binary")).as("tok_fp"))
    },
    Some {
      val steps = (1 to BpeMergeK).map(sqlMergeStep).mkString(",\n        ")
      s"""WITH $sqlBpeCtes,
        bmerges AS (
          SELECT pair, CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS r
          FROM (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
                FROM bpairs GROUP BY pair
                ORDER BY cnt DESC, pair LIMIT $BpeMergeK) t),
        st0 AS (SELECT w, string_split(w, '') AS syms FROM bwords),
        $steps,
        t0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        toksp AS (
          SELECT doc_id, i AS p, ws[i] AS w
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM t0) t
          WHERE ws[i] <> ''),
        j AS (SELECT tp.doc_id, tp.p, array_to_string(f.syms, chr(1)) AS sym,
                     len(f.syms) AS n
              FROM toksp tp JOIN st$BpeMergeK f ON f.w = tp.w)
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               md5(string_agg(sym, chr(2) ORDER BY p)) AS tok_fp
        FROM j GROUP BY doc_id"""
    }
  )

  /** q113 — BM25 RANKED RETRIEVAL over the inverted-index statistics,
    * the consumer q84's postings exist for (RAG curation / quality
    * retrieval runs this shape weekly): a deterministic query set of
    * RARE word 2-grams (df ≥ 3, 8 rarest by (df, gram) — rare-term
    * queries are where BM25's idf actually discriminates) scored with
    * Okapi BM25 (k1 = 1.2, b = 0.75, the Lucene-style +1 idf so scores
    * stay positive) over per-doc gram frequency and document length.
    * The tf/df relations are exactly q84's posting statistics at bigram
    * granularity; dl is the per-doc token-pair count.
    *
    * Top-10 per query goes through the bounded `TopKAggregator` (q60's
    * discipline): partial aggregation keeps 10 entries per query × map
    * task, so the shuffle carries the ANSWER, never the scored corpus —
    * a window rank here would shuffle every scored posting at 100 TB
    * (PlanSpec-gated: no Window). The query-gram selection itself is
    * orderBy+limit → TakeOrderedAndProject (q85's discipline). The only
    * forced broadcasts are BOUNDED relations: the 8-row query set and
    * the 1-row corpus stats; the posting-shaped tf/dl join stays
    * AQE-decided.
    *
    * Exact arithmetic discipline: tf/df/dl are integers, both engines
    * evaluate the identical IEEE op sequence, and the score is rounded
    * to 6 digits before ranking with a doc_id tiebreak (ln is
    * libm-dependent — q46's rule), so the full result has a hash oracle.
    */
  val bm25 = Q(
    "q113_bm25",
    (s, d) => {
      import s.implicits._
      val grams2 = Tables.documents(s, d)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', slice(ws, i + 1, 2)))"))
          .as("g"))
      val tf = grams2.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      val dl = grams2.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dfreq = tf.groupBy("g").agg(count(lit(1)).as("df"))
      val qgrams = dfreq.where(col("df") >= 3)
        .orderBy(col("df").asc, col("g").asc).limit(8)
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val idf = log((col("n_docs").cast("double") - col("df") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)) + lit(1.0))
      val avgdl = col("sum_dl").cast("double") / col("n_docs")
      val denom = col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
      val scored = tf.join(broadcast(qgrams), "g")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("g"), col("doc_id"),
          round(idf * col("tf") * lit(2.2) / denom, 6).as("score"))
        .as[(String, Long, Double)]
      scored.groupByKey(_._1)
        .mapValues { case (_, id, sc) => ScoredId(id, sc) }
        .agg(new TopKAggregator(10).toColumn.name("topk"))
        .flatMap { case (g, topk) =>
          topk.iterator.zipWithIndex.map { case (sid, i) =>
            (g, sid.id, sid.score, (i + 1).toLong)
          }
        }
        .toDF("g", "doc_id", "score", "rnk")
    },
    Some("""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            g2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
                   FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
                         FROM t0 WHERE len(ws) >= 2) t),
            tf AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf FROM g2 GROUP BY 1, 2),
            dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM g2 GROUP BY 1),
            dfreq AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
            qg AS (SELECT g, df FROM dfreq WHERE df >= 3 ORDER BY df, g LIMIT 8),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                             CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
            scored AS (
              SELECT q.g, tf.doc_id,
                     round(ln((CAST(n_docs AS DOUBLE) - q.df + 0.5)
                              / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
                           * tf.tf * 2.2
                           / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                / (CAST(sum_dl AS DOUBLE) / n_docs)))), 6) AS score
              FROM tf JOIN qg q USING (g) JOIN dl USING (doc_id) CROSS JOIN stats)
            SELECT g, doc_id, score, rnk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY g
                             ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
              FROM scored) t
            WHERE rnk <= 10""")
  )

  /** q116 — N-GRAM LANGUAGE-MODEL QUALITY SCORING, the model-based
    * quality filter (the CCNet/Gopher pipeline stage q31's heuristics
    * approximate): a bigram LM with add-one smoothing is "trained" on a
    * deterministic reference subset (`doc_id % 11 == 0` stands in for
    * the curated high-quality corpus), then every document is scored by
    * its mean per-bigram log-probability and perplexity — low-probability
    * documents are the gibberish/boilerplate a quality cut removes.
    *
    * Portability discipline (how a floating LM score gets a HASH
    * oracle): each bigram's `ln((c2+1)/(c1+V))` is computed with the
    * identical IEEE op sequence on both engines, rounded to 1e-6 via
    * portable `floor(x·1e6+0.5)/1e6` (ln is libm-dependent — q46's
    * rule; `round()` itself is not portable), then summed as
    * DECIMAL(28,6) — exact and ORDER-INDEPENDENT, immune to Spark's
    * partial-aggregation order (the Q.dsum discipline at scale 6).
    * `avg_lp` is one exact division; `ppl = exp(-avg_lp)` is rounded to
    * 1e-3 (same accepted boundary-risk class as every rounded score).
    *
    * Scale shape: count relations are reference-sized and join WITHOUT
    * hints (vocabulary grows with the corpus — q46's discipline); the
    * only broadcast is the 1-row vocabulary/total aggregate; one
    * corpus shuffle for the per-doc aggregation. Docs with < 2 tokens
    * get defined zeros via the left join from the documents base
    * (total contract).
    */
  /** The q116 scoring core over any (doc_id, text) relation — exposed
    * for `LmQualitySpec`'s discrimination property on constructed docs.
    */
  private[graft] def lmScore(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      def bigrams(src: org.apache.spark.sql.DataFrame) = src
        .select(col("doc_id"), TextFns.tokens(col("text")).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))"""))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val ref = docs.where(col("doc_id") % 11 === 0)
      val refToks = ref.select(explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
      val c1 = refToks.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
      val c2 = bigrams(ref).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val vrow = refToks.agg(countDistinct(col("w")).as("v"))
      val scored = bigrams(docs)
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .crossJoin(broadcast(vrow))
        .select(col("doc_id"),
          (floor(log((coalesce(col("c2"), lit(0L)) + lit(1L))
            / (coalesce(col("c1"), lit(0L)) + col("v"))) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("lp6"))
      val perDoc = scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp6").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
            .cast("double").as("sum_lp"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sum_lp") / col("n_bigrams")).as("avg_lp"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("avg_lp"), lit(0.0)).as("avg_lp"),
          when(col("n_bigrams").isNull, lit(0.0))
            .otherwise(floor(exp(-col("avg_lp")) * lit(1e3) + lit(0.5)) / lit(1e3))
            .as("ppl"))
  }

  val lmQuality = Q(
    "q116_lm_quality",
    (s, d) => lmScore(Tables.documents(s, d)),
    Some("""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
                   FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
                         FROM t0 WHERE len(ws) >= 2) t),
            rtoks AS (SELECT unnest(string_split(text, ' ')) AS w
                      FROM documents WHERE doc_id % 11 = 0),
            c1 AS (SELECT w AS w1, CAST(count(*) AS BIGINT) AS c1
                   FROM rtoks WHERE w <> '' GROUP BY 1),
            c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
                   FROM bg WHERE doc_id % 11 = 0 GROUP BY 1, 2),
            vrow AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                     FROM rtoks WHERE w <> ''),
            scored AS (
              SELECT bg.doc_id,
                     floor(ln((coalesce(c2.c2, 0) + 1)
                              / (coalesce(c1.c1, 0) + v)) * 1e6 + 0.5) / 1e6 AS lp6
              FROM bg
              LEFT JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
              LEFT JOIN c1 ON c1.w1 = bg.w1
              CROSS JOIN vrow),
            perdoc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     CAST(CAST(SUM(CAST(lp6 AS DECIMAL(28,6))) AS DOUBLE) / count(*)
                          AS DOUBLE) AS avg_lp
              FROM scored GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(p.n_bigrams, 0) AS n_bigrams,
                   coalesce(p.avg_lp, 0.0) AS avg_lp,
                   CASE WHEN p.n_bigrams IS NULL THEN 0.0
                        ELSE floor(exp(-p.avg_lp) * 1e3 + 0.5) / 1e3 END AS ppl
            FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id""")
  )

  /** TextRank damping factor and iteration count (Mihalcea & Tarau 2004:
    * d = 0.85, convergence typically < 30 iterations; 10 fixed steps keep
    * the oracle CTE chain bounded while the contraction spec shows the
    * sequence is already settling).
    */
  private[graft] val TextRankDamping = 0.85
  private[graft] val TextRankIters = 10

  /** Full TextRank score table (every graph node), with the iteration
    * count exposed for the contraction spec. See [[textRank]] (q118) for
    * semantics and scale notes; the registered query is the top-20 slice.
    */
  /** The TextRank co-occurrence graph — (src, dst, cnt, wsum), symmetric
    * directed edges with out-weight sums — as a per-corpus-snapshot
    * artifact (`artifactOnce`, the q151 train-once discipline). Stored
    * because the iteration fold below mounts the edge relation once PER
    * ITERATION: left lazy, the whole tokenize → bigram-explode → two
    * shuffles chain re-executed 10× inside one q118 run (the q330/q316
    * unrolled-recursion hazard — ~2/3 of q118's former 2.5 s), and the
    * graph is corpus-deterministic so the store is shared across runs
    * like every other index artifact.
    */
  private[graft] def textRankGraph(s: SparkSession, d: String): DataFrame =
    graft.sources.Sources.artifactOnce(d, "textrank_graph") { p =>
      // adjacent-token bigrams as a NARROW array transform (no positional
      // self-join): docs shorter than 2 tokens contribute nothing — guarded
      // explicitly because Spark's sequence(2, n) REVERSES for n < 2 where
      // DuckDB's generate_series returns empty
      val big = Tables.documents(s, d)
        .select(TextFns.tokens(col("text")).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(2, size(ws)),
               i -> struct(element_at(ws, i-1) AS a, element_at(ws, i) AS b))""")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .where(col("a") =!= "" && col("b") =!= "" && col("a") =!= col("b"))
      // undirected co-occurrence graph as a symmetric directed edge list:
      // each adjacency feeds both (u,v) and (v,u), so weights are symmetric
      // and every node has out-edges — no dangling-mass redistribution term
      val e = big.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(big.select(col("b").as("src"), col("a").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      val wout = e.groupBy("src").agg(sum("cnt").cast("double").as("wsum"))
      graft.sources.Sources.write(e.join(wout, "src"), p)
    }.read(s)

  private[graft] def textRankScores(s: SparkSession, d: String,
      iters: Int = TextRankIters): DataFrame = {
    val edges = textRankGraph(s, d)
    val nodes = edges.select(col("src").as("w")).distinct()
    // node count as a LITERAL (1-row metadata collect): crossJoined into
    // every iteration, a lazy nRow would re-aggregate the node set 10×
    val n = nodes.count().toDouble
    val r0 = nodes.select(col("w"), (lit(1.0) / lit(n)).as("r"))
    (1 to iters).foldLeft(r0) { (r, _) =>
      // bit-exact cross-engine sums: fold contributions in src order
      // (array_sort(collect_list(struct)) + aggregate == DuckDB
      // list(x ORDER BY src) + list_aggregate 'sum'), the q63 centroid
      // discipline — scores stay raw doubles, no rounding anywhere
      edges.join(r, col("src") === col("w"))
        .select(col("dst"), col("src"),
          ((col("cnt").cast("double") / col("wsum")) * col("r")).as("contrib"))
        .groupBy("dst")
        .agg(expr(
          """aggregate(array_sort(collect_list(struct(src, contrib))),
               CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.contrib)""").as("s"))
        .select(col("dst").as("w"),
          ((lit(1.0) - lit(TextRankDamping)) / lit(n)
            + lit(TextRankDamping) * col("s")).as("r"))
    }
  }

  /** q118 — TEXTRANK keyword extraction (Mihalcea & Tarau 2004): damped
    * PageRank over the corpus-wide word co-occurrence graph (adjacent
    * tokens, undirected, co-occurrence-count weights), 10 fixed
    * iterations, top-20 words by final score. The graph-centrality
    * member of the text-analysis family: q85 ranks words by raw count,
    * q46 by TF-IDF; TextRank ranks by how strongly a word is endorsed by
    * other well-endorsed words — the unsupervised keyword/keyphrase
    * primitive.
    *
    * Scale shape: the bigram build is a narrow array transform (no
    * positional self-join); the edge list aggregates once on (src, dst)
    * and is vocabulary²-bounded — in practice power-law sparse, far
    * smaller than the token stream — and is STORED once per corpus
    * snapshot ([[textRankGraph]]; AQE's ReusedExchange deduped the edge
    * SHUFFLE across the 10 mounted subtrees but still re-ran the
    * upstream derivation — the stored graph removes the corpus from the
    * iteration plan entirely, plan-gated in PlanSpec). Each iteration is
    * then one vocabulary-sized join + aggregation over the stored
    * relation. No forced broadcast on any corpus-growing relation. At
    * 100 TB the per-iteration state is one (word, score) table — a
    * checkpoint-per-iteration loop (q70's discipline) swaps in when plan
    * depth outgrows the optimizer.
    *
    * Determinism: scores are raw doubles with NO rounding — every sum
    * folds in sorted src order on both engines (the q63 bit-exact
    * discipline), teleport and damping terms use the identical IEEE op
    * sequence, and the top-20 boundary tie-breaks on the word itself.
    */
  val textRank = Q(
    "q118_textrank",
    (s, d) => textRankScores(s, d)
      .orderBy(col("r").desc, col("w").asc)
      .limit(20),
    Some {
      val stepCtes = (1 to TextRankIters).map { t =>
        s"""r$t AS (
              SELECT e.dst AS w,
                     (CAST(1.0 AS DOUBLE) - CAST($TextRankDamping AS DOUBLE))
                       / (SELECT n FROM n)
                       + $TextRankDamping * list_aggregate(
                           list((CAST(e.cnt AS DOUBLE) / wout.wsum) * rp.r
                                ORDER BY e.src), 'sum') AS r
              FROM e JOIN wout USING (src) JOIN r${t - 1} rp ON rp.w = e.src
              GROUP BY e.dst)"""
      }.mkString(",\n            ")
      s"""WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents),
            big AS (SELECT ws[i-1] AS a, ws[i] AS b
                    FROM (SELECT ws, unnest(generate_series(2, len(ws))) AS i
                          FROM toks) t
                    WHERE ws[i-1] <> '' AND ws[i] <> '' AND ws[i-1] <> ws[i]),
            e AS (SELECT src, dst, count(*) AS cnt FROM (
                    SELECT a AS src, b AS dst FROM big
                    UNION ALL SELECT b AS src, a AS dst FROM big) u
                  GROUP BY src, dst),
            wout AS (SELECT src, CAST(sum(cnt) AS DOUBLE) AS wsum FROM e GROUP BY src),
            n AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM e),
            r0 AS (SELECT DISTINCT src AS w, 1.0 / (SELECT n FROM n) AS r FROM e),
            $stepCtes
            SELECT w, r FROM r$TextRankIters
            ORDER BY r DESC, w ASC LIMIT 20"""
    }
  )

  /** q119 — PHRASE SEARCH by posting-list intersection: the second
    * consumer of the positional index (q113's BM25 scores bags of words;
    * phrase queries need ORDER, which is exactly what q84's position
    * lists carry). The query set is the corpus's top-3 bigrams by
    * frequency (deterministic, tie-broken lexicographically); for each
    * query (w1, w2), a doc matches where the intersection of (positions
    * of w1, each +1) with positions of w2 is non-empty — the classic
    * positional-intersection algorithm, hit count = number of phrase
    * occurrences.
    *
    * Scale shape: the 3-row query table broadcasts against the postings
    * relation, so the index scan is pruned to the query terms before any
    * doc-level work (the "fetch only query-term postings" discipline a
    * real search engine lives by — never materialize non-query
    * postings). The per-doc pairing then joins two already-tiny posting
    * subsets on (phrase, doc). Query selection is orderBy+limit
    * (TakeOrderedAndProject — q85's discipline: ship the answer, not the
    * bigram table). All-integer arithmetic ⇒ exact oracle.
    */
  val phraseSearch = Q(
    "q119_phrase_search",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pos = docs
        .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("p", "w")))
        .where(col("w") =!= "")
      val postings = pos.groupBy("w", "doc_id")
        .agg(sort_array(collect_list((col("p") + lit(1)).cast("long"))).as("ps"))
      val qs = docs
        .select(TextFns.tokens(col("text")).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(2, size(ws)),
               i -> struct(element_at(ws, i-1) AS w1, element_at(ws, i) AS w2))""")).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
        .where(col("w1") =!= "" && col("w2") =!= "")
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w1").asc, col("w2").asc)
        .limit(3)
      postings.as("a").join(broadcast(qs), col("a.w") === col("w1"))
        .select(concat(col("w1"), lit(" "), col("w2")).as("phrase"),
          col("w2"), col("a.doc_id").as("doc_a"), col("a.ps").as("ps1"))
        .join(postings.as("b"),
          col("b.w") === col("w2") && col("b.doc_id") === col("doc_a"))
        .select(col("phrase"), col("doc_a").as("doc_id"),
          size(array_intersect(expr("transform(ps1, x -> x + 1)"), col("b.ps")))
            .cast("long").as("hits"))
        .where(col("hits") > 0)
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pos AS (SELECT doc_id, i, ws[i] AS w
                    FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
                          FROM toks) t
                    WHERE ws[i] <> ''),
            big AS (SELECT ws[i-1] AS w1, ws[i] AS w2
                    FROM (SELECT ws, unnest(generate_series(2, len(ws))) AS i
                          FROM toks) t
                    WHERE ws[i-1] <> '' AND ws[i] <> ''),
            qs AS (SELECT w1, w2 FROM (
                     SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2)
                   ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 3),
            post AS (SELECT w, doc_id, list(i ORDER BY i) AS ps
                     FROM pos GROUP BY w, doc_id),
            m AS (SELECT q.w1 || ' ' || q.w2 AS phrase, a.doc_id,
                         CAST(len(list_intersect(list_transform(a.ps, x -> x + 1), b.ps))
                              AS BIGINT) AS hits
                  FROM qs q
                  JOIN post a ON a.w = q.w1
                  JOIN post b ON b.w = q.w2 AND b.doc_id = a.doc_id)
            SELECT phrase, doc_id, hits FROM m WHERE hits > 0""")
  )

  /** q120 — PER-SOURCE ADAPTIVE QUALITY GATE: keep the documents at or
    * above their OWN source's median quality. An absolute quality
    * threshold is wrong across heterogeneous domains (an academic crawl
    * and a chat log occupy different score ranges; one global cut
    * either guts the weak domain or keeps its junk) — the CCNet-style
    * move is a per-domain quantile gate. The score is EXACTLY q31's
    * (the Spark side calls q31's own builder; the oracle nests q31's own
    * SQL — the two queries cannot drift), and the median is
    * RANK-DEFINED (the value at row ⌈n/2⌉ ordered by (quality, doc_id)),
    * not interpolated — interpolation averages two doubles and lands on
    * engine-divergent bits, while the rank-median SELECTS an existing
    * bit-exact score, so `quality >= med` is portable with no rounding.
    *
    * Scale shape: one shuffle on the source key; the exact median costs
    * a per-source sort (the window) — at 100 TB the same join-back
    * shape runs with `approx_percentile` per source (q49's sketch
    * family) and the exact rank-median remains its oracle-able twin at
    * audit scale. The median table is per-source (tiny) and broadcasts
    * back; null sources are coalesced to 'unknown' (q94's rule — an
    * equi-join on raw nullable source would silently drop those docs).
    */
  val qualityGate = Q(
    "q120_quality_gate",
    (s, d) => {
      val q = qualityScore.fn(s, d).select(col("doc_id"), col("quality"))
      val src = Tables.documents(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("unknown")).as("source"))
      val scored = q.join(src, "doc_id")
      val ranked = scored
        .withColumn("rn",
          row_number().over(Window.partitionBy("source")
            .orderBy(col("quality"), col("doc_id"))).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      val meds = ranked.where(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("source"), col("quality").as("med"))
      scored.join(meds, "source")
        .where(col("quality") >= col("med"))
        .select(col("doc_id"), col("source"), col("quality"), col("med"))
    },
    Some(s"""WITH q AS (${qualityScore.oracle.get}),
            s AS (SELECT q.doc_id, coalesce(d.source, 'unknown') AS source, q.quality
                  FROM q JOIN documents d ON d.doc_id = q.doc_id),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY quality, doc_id) AS rn,
                         count(*) OVER (PARTITION BY source) AS n
                  FROM s),
            m AS (SELECT source, quality AS med FROM r WHERE rn = (n + 1) // 2)
            SELECT s.doc_id, s.source, s.quality, m.med
            FROM s JOIN m USING (source) WHERE s.quality >= m.med""")
  )

  /** q122 — VOCABULARY COVERAGE / OOV-RATE AUDIT: score every document
    * by the fraction of its tokens outside the top-20 corpus vocabulary.
    * The tokenizer-QA step a pipeline runs before committing to a vocab:
    * a high OOV tail means the tokenizer will shatter those documents
    * into bytes/unknowns (training-cost and quality hazard), and the
    * per-doc rate is the filter/reweight signal. Complements q85 (which
    * BUILDS the vocabulary) and q112 (which applies BPE merges) by
    * measuring how well a fixed vocabulary fits the corpus.
    *
    * Scale shape: the vocabulary is orderBy+limit (TakeOrderedAndProject
    * — q85's discipline) and is K-bounded, so it broadcasts by
    * construction (the hint is safe: 20 rows no matter the corpus); the
    * token stream left-joins against it map-side with zero shuffle of
    * the stream, then one aggregation back to doc grain. Empty docs are
    * kept with rate 0.0 via the outer join-back (q116's total-function
    * discipline: every doc gets a row). All-integer counts; the single
    * double division uses the identical IEEE op on both engines.
    */
  val oovRate = Q(
    "q122_oov_rate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc).limit(20)
        .select(col("w").as("vw"))
      val per = toks.join(broadcast(vocab), col("w") === col("vw"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("vw").isNull, 1L).otherwise(0L)).as("n_oov"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          when(col("n_tokens").isNull, lit(0.0))
            .otherwise(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                         FROM documents),
            t AS (SELECT doc_id, w FROM tok WHERE w <> ''),
            v AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM t GROUP BY w)
                  ORDER BY cnt DESC, w ASC LIMIT 20),
            p AS (SELECT t.doc_id, count(*) AS n_tokens,
                         CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_oov
                  FROM t LEFT JOIN v ON v.w = t.w
                  GROUP BY t.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
                   CASE WHEN p.n_tokens IS NULL THEN 0.0
                        ELSE CAST(p.n_oov AS DOUBLE) / p.n_tokens END AS oov_rate
            FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id""")
  )

  /** q124 — FIRST-OCCURRENCE NOVELTY ATTRIBUTION: for every document,
    * the fraction of its distinct word 5-grams whose corpus-wide FIRST
    * owner (min doc_id — ingestion order, q22's keeper discipline) is
    * the document itself. The "how much new text does this doc add"
    * metric behind dedup-aware data valuation and diversity-pruning
    * (D4-style): a boilerplate-heavy doc scores near 0 even when its
    * exact hash is unique, because every gram arrived earlier — the
    * between-exact-and-near-dup signal q22 (hashes) and q23 (thresholded
    * pairs) both miss. Gram construction is SHARED with q82/q86
    * ([[graft.functions.TextFns.wordGrams]] / [[sqlG5Ctes]]) so the
    * three audits can never disagree on what a gram is.
    *
    * Scale shape: one aggregation on the gram key (min — map-side
    * combined) and one join back on the same key, both per (doc, gram)
    * row — a hot boilerplate gram has large df but contributes df ROWS,
    * never df² pairs, so unlike the pair-join family (q24/q73/q82) this
    * needs NO df cap; then one aggregation back to doc grain. Gramless
    * docs (< 5 words) are kept at novelty 1.0 (no evidence of
    * duplication — the total-function rule, q116/q122).
    */
  val novelty = Q(
    "q124_novelty",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val g = TextFns.wordGrams(docs, 5)
      val own = g.groupBy("g").agg(min("doc_id").as("first_doc"))
      val per = g.join(own, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(col("n_grams").isNull, lit(1.0))
            .otherwise(col("n_novel").cast("double") / col("n_grams")).as("novelty"))
    },
    Some(s"""WITH $sqlG5Ctes,
            own AS (SELECT g, min(doc_id) AS first_doc FROM g5 GROUP BY g),
            per AS (SELECT g5.doc_id, count(*) AS n_grams,
                           CAST(sum(CASE WHEN o.first_doc = g5.doc_id
                                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                    FROM g5 JOIN own o USING (g)
                    GROUP BY g5.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
                   CASE WHEN p.doc_id IS NULL THEN 1.0
                        ELSE CAST(p.n_novel AS DOUBLE) / p.n_grams END AS novelty
            FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""")
  )

  /** The SKETCHED kept-set — q120's gate with the exact rank-median
    * replaced by `approx_percentile` (the KLL/GK sketch family q49
    * established), the production shape at 100 TB where an exact
    * per-source median costs a full per-group sort and the sketch costs
    * one mergeable pass. Factored so q126's audit and `QualityGateSpec`
    * run the IDENTICAL sketch path.
    */
  private[graft] def sketchKept(s: SparkSession, d: String): DataFrame = {
    val q = qualityScore.fn(s, d).select(col("doc_id"), col("quality"))
    val src = Tables.documents(s, d).select(col("doc_id"),
      coalesce(col("source"), lit("unknown")).as("source"))
    val scored = q.join(src, Seq("doc_id"))
    val meds = scored.groupBy("source")
      .agg(expr("approx_percentile(quality, 0.5, 10000)").as("med"))
    scored.join(meds, Seq("source"))
      .where(col("quality") >= col("med"))
      .select(col("doc_id"), col("source"))
  }

  /** q126 — the SKETCHED per-source quality gate, hash-gated via the
    * audit-boolean discipline q103 established (round-14 verdict task
    * 4): the sketch's THRESHOLD is implementation-defined (like
    * q19/q49/q105), but its CONTRACT is not — so instead of emitting the
    * impl-defined kept rows (rows-only forever), the query emits what
    * the contract promises and the oracle expects: per source, the exact
    * portable counts (`n_docs`, and `n_kept_exact` from q120's exact
    * gate — the audit reference, computed by the query because an audit
    * runs both paths; production runs the sketch alone) plus two
    * booleans that must be TRUE for any conformant sketch — `band_ok`
    * (kept-set symmetric difference vs the exact gate ≤ 10% of the
    * corpus, integer form 10·|Δ| ≤ n) and `kept_nonempty` (no source
    * gutted). A sketch change that breaks the contract now fails the
    * HASH gate, not just a spec. The q120/q126 pair completes the
    * exact-twin discipline (q101/q105, q83/q104): audit with the exact
    * gate, produce with the sketch.
    */
  val qualityGateApprox = Q(
    "q126_quality_gate_approx",
    (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("unknown")).as("source"))
      val keptA = sketchKept(s, d)
      val keptE = qualityGate.fn(s, d).select(col("doc_id"), col("source"))
      // the global band: symmetric difference of the two kept-sets as a
      // fraction of the corpus, compared in integer form (10·|Δ| ≤ n —
      // no float boundary); both sides are 1-row aggregates
      val aOnly = keptA.select(col("doc_id")).except(keptE.select(col("doc_id")))
      val eOnly = keptE.select(col("doc_id")).except(keptA.select(col("doc_id")))
      val band = aOnly.unionAll(eOnly).agg(count(lit(1)).as("sd"))
        .crossJoin(src.agg(count(lit(1)).as("tot")))
        .select((col("sd") * 10 <= col("tot")).as("band_ok"))
      src.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(keptE.groupBy("source").agg(count(lit(1)).as("n_kept_exact")),
          Seq("source"), "left")
        .join(keptA.groupBy("source").agg(count(lit(1)).as("n_kept_approx")),
          Seq("source"), "left")
        .crossJoin(broadcast(band))
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept_exact"), lit(0L)).as("n_kept_exact"),
          (coalesce(col("n_kept_approx"), lit(0L)) >= 1L).as("kept_nonempty"),
          col("band_ok"))
    },
    Some(s"""WITH q AS (${qualityScore.oracle.get}),
            s AS (SELECT q.doc_id, coalesce(d.source, 'unknown') AS source, q.quality
                  FROM q JOIN documents d ON d.doc_id = q.doc_id),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY quality, doc_id) AS rn,
                         count(*) OVER (PARTITION BY source) AS n
                  FROM s),
            m AS (SELECT source, quality AS med FROM r WHERE rn = (n + 1) // 2),
            ke AS (SELECT s.source, count(*) AS n_kept_exact
                   FROM s JOIN m USING (source) WHERE s.quality >= m.med
                   GROUP BY s.source),
            nd AS (SELECT source, count(*) AS n_docs FROM s GROUP BY source)
            SELECT nd.source, CAST(nd.n_docs AS BIGINT) AS n_docs,
                   CAST(ke.n_kept_exact AS BIGINT) AS n_kept_exact,
                   TRUE AS kept_nonempty, TRUE AS band_ok
            FROM nd JOIN ke USING (source)""")
  )

  /** q132 — RAG CHUNKING with overlap: split every document into
    * 64-token windows advancing by 48 (16-token overlap), the
    * retrieval-chunking shape an embedding/RAG pipeline feeds its
    * encoder — the third member of the segmentation family, by
    * PURPOSE: q89 cuts fixed disjoint segments (dedup grain), q115
    * cuts content-defined spans (shift-robust dedup), q132 cuts
    * OVERLAPPING windows so no retrieval answer straddles a boundary
    * without some chunk containing it whole. The last window aligns to
    * the document end (the standard "final chunk anchored at n−C"
    * rule), so every token is covered and all chunks are full-width
    * whenever the doc allows it; docs shorter than one window yield
    * exactly one chunk.
    *
    * Pure integer window arithmetic (count = 1 + ⌈(n−C)/s⌉ via DIV,
    * start = min(k·s, n−C)) and one narrow explode — no shuffle at all;
    * the chunk fingerprint stands in for the chunk text (rows stay
    * 32-char). Exact oracle; `RagChunkSpec` differential + coverage/
    * overlap invariants.
    */
  val ragChunks = Q(
    "q132_rag_chunks",
    (s, d) => {
      val C = 64; val S = 48
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("ws"))
        .withColumn("n", size(col("ws")))
        .withColumn("k", explode(expr(
          s"sequence(0, CASE WHEN n <= $C THEN 0 ELSE (n - $C + $S - 1) DIV $S END)")))
        .withColumn("st", expr(s"least(k * $S, greatest(n - $C, 0))"))
        .withColumn("ln", expr(s"least($C, n)"))
        .select(col("doc_id"), col("k").cast("long").as("chunk_id"),
          (col("st") + 1).cast("long").as("start_tok"),
          col("ln").cast("long").as("n_tok"),
          TextFns.md5Hex(expr("array_join(slice(ws, st + 1, ln), ' ')")).as("fp"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws,
                                 len(string_split(text, ' ')) AS n
                          FROM documents),
            ks AS (SELECT doc_id, ws, n,
                          unnest(generate_series(0,
                            CASE WHEN n <= 64 THEN 0
                                 ELSE (n - 64 + 47) // 48 END)) AS k
                   FROM toks),
            ch AS (SELECT doc_id, k, ws,
                          least(k * 48, greatest(n - 64, 0)) AS st,
                          least(64, n) AS ln
                   FROM ks)
            SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
                   CAST(st + 1 AS BIGINT) AS start_tok,
                   CAST(ln AS BIGINT) AS n_tok,
                   md5(array_to_string(list_slice(ws, st + 1, st + ln), ' ')) AS fp
            FROM ch""")
  )

  /** Misra–Gries summary of a token stream: at most `k` (word, count)
    * survivors; the classic guarantee is that any word with local
    * frequency > N_p/(k+1) survives its partition's summary. Exposed for
    * `HeavyHitterSpec`'s eviction-under-pressure test.
    */
  private[graft] def mgSummary(it: Iterator[String], k: Int): Iterator[(String, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { w =>
      if (m.contains(w)) m(w) += 1L
      else if (m.size < k) m(w) = 1L
      else for (key <- m.keys.toArray) {
        val c = m(key) - 1L
        if (c == 0L) m.remove(key) else m(key) = c
      }
    }
    m.iterator
  }

  /** q135 — DISTRIBUTED HEAVY HITTERS, the two-pass sketch-then-verify
    * shape: pass 1 runs a Misra–Gries summary (k = 128) inside each
    * partition (`mapPartitions` — O(k) memory per task, no shuffle of
    * the stream), pass 2 exactly counts ONLY the surviving candidates
    * and emits the top 16. The pigeonhole argument makes the candidate
    * union lossless for any word with global frequency > N/(k+1): such
    * a word exceeds N_p/(k+1) in at least one partition, where
    * Misra–Gries guarantees survival — so the exact pass sees every
    * true heavy hitter and the output equals the full-aggregation
    * top-16 (which is exactly what the oracle computes). At this
    * corpus's vocabulary the summaries never evict (vocab < k — the
    * audit regime); `HeavyHitterSpec` forces eviction with k = 4 to
    * exercise the guarantee under pressure.
    *
    * Scale shape: the candidate set is ≤ partitions × k rows (cluster-
    * bounded, not corpus-bounded); the exact pass semi-joins the token
    * stream against it (AQE-decided, no hint) and aggregates
    * map-side-combined; the answer ships as TakeOrderedAndProject
    * (q85's discipline). This is how a 100 TB vocabulary question
    * ("what dominates this crawl?") is answered without ever shuffling
    * the full word space.
    */
  val heavyHitters = Q(
    "q135_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "").as[String]
      val cands = toks.mapPartitions(it => mgSummary(it, 128))
        .toDF("w", "lc").select("w").distinct()
      toks.toDF("w").join(cands, Seq("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc)
        .limit(16)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            SELECT w, count(*) AS cnt FROM tok WHERE w <> ''
            GROUP BY w ORDER BY cnt DESC, w ASC LIMIT 16""")
  )

  /** q290 — SKETCHED HEAVY HITTERS via Spark 4's built-in
    * `approx_top_k` (a DataSketches frequent-items sketch as ONE
    * aggregate) — q135's sketch twin, completing the exact/sketch
    * discipline the suite applies to every summary family (q101/q105
    * count-distinct, q120/q126 quality gate, q40/q49 percentile):
    * q135 answers "what dominates this crawl?" with a two-pass
    * Misra–Gries + exact-verify pipeline; this answers it in ONE pass
    * with a bounded mergeable sketch, the shape a dashboard calls when
    * a second corpus scan is not affordable.
    *
    * WHY A FULL HASH ORACLE IS HONEST HERE: a frequent-items sketch is
    * EXACT while its tracked-item map never evicts (it is a plain
    * counting map below capacity — the same below-capacity exactness
    * q181's sketch store leans on), and this corpus's vocabulary (31
    * words at every SF) sits far under the 1024-item capacity, so every
    * returned count equals the true count and the rank-16 cut — taken
    * by an EXPLICIT (cnt desc, word asc) sort outside the sketch, never
    * by the sketch's own tie-arbitrary selection — equals q135's exact
    * top-16 by theorem, not by luck. `ApproxTopKSpec` pins both
    * regimes: below-capacity equality to the exact twin, and the
    * over-capacity eviction regime (capacity 4 against a planted
    * skewed stream) where the true heavy hitter must still surface —
    * the 100 TB behavior, where vocabulary dwarfs any capacity and the
    * answer degrades to the sketch's ε-approximate guarantee instead
    * of failing.
    *
    * Scale shape: ONE aggregate over the token stream — partial
    * sketches per map task (bounded at capacity entries, KB-size),
    * merged associatively; no shuffle ever carries the word space
    * (q135's candidate union is partitions × k rows; this is ONE
    * sketch). The explode + sort downstream run on ≤ capacity rows.
    */
  val approxTopK = Q(
    "q290_approx_top_k",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
      toks
        .agg(expr("approx_top_k(w, 1024, 1024)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("w"), col("e.count").cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc)
        .limit(16)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            SELECT w, count(*) AS cnt FROM tok WHERE w <> ''
            GROUP BY w ORDER BY cnt DESC, w ASC LIMIT 16""")
  )

  /** q296 — SKIP-GRAM CO-OCCURRENCE with PPMI (the word2vec/GloVe
    * pretraining kernel and the collocation detector behind phrase
    * mining): token pairs within a ±2 window, scored by positive
    * pointwise mutual information — high-PPMI pairs are collocations
    * ("new york"), the signal for phrase-aware tokenization and for
    * co-occurrence-matrix embedding pretraining. Distinct from q282
    * (basket co-occurrence — unordered, basket-scoped) and q279
    * (categorical MI — two fixed columns): this is positional text
    * co-occurrence over a sliding window.
    *
    * Scale design: pair generation is MAP-SIDE ARRAY SURGERY, not a
    * positional self-join — `zip_with(slice(ws,1,n−k), slice(ws,k+1,
    * n−k), …)` pairs each token with its +k neighbor inside the row
    * (k = 1, 2), so the only shuffle is the (wa, wb) count aggregate
    * (map-side combined; pair vocabulary ≤ vocab², df-capped by the
    * count filter). A posexplode self-join on (doc, position) would
    * shuffle the token stream twice to discover adjacency that was
    * free in the array. Marginals are row/column sums OF THE PAIR
    * TABLE (vocab-sized), so the statistic is self-contained and
    * exact-integer up to one ln per surviving pair, quantized 1e-6
    * (the q279 discipline). min-count 5 bounds the output; ordering
    * on the QUANTIZED score (then words) is cross-engine total.
    */
  val skipgramPmi = Q(
    "q296_skipgram_pmi",
    (s, d) => {
      val pairs = Tables.documents(s, d)
        .select(TextFns.tokens(col("text")).as("ws"))
        // greatest(n-k, 0): Spark's slice THROWS on negative length, so
        // a <2-token document would crash the query where the oracle's
        // generate_series guard yields zero pairs — mirror it (ADVICE
        // r11; latent on the fixture, whose minimum is 10 tokens)
        .select(explode(concat(
          expr("""zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
                           slice(ws, 2, greatest(size(ws) - 1, 0)),
                  (a, b) -> named_struct('wa', a, 'wb', b))"""),
          expr("""zip_with(slice(ws, 1, greatest(size(ws) - 2, 0)),
                           slice(ws, 3, greatest(size(ws) - 2, 0)),
                  (a, b) -> named_struct('wa', a, 'wb', b))"""))).as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .where(col("wa") =!= "" && col("wb") =!= "")
      val cooc = pairs.groupBy("wa", "wb").agg(count(lit(1)).as("c"))
      val ra = cooc.groupBy("wa").agg(sum("c").as("ca"))
      val rb = cooc.groupBy("wb").agg(sum("c").as("cb"))
      val tot = cooc.agg(sum("c").as("np"))
      cooc.where(col("c") >= 5)
        .join(ra, "wa").join(rb, "wb").crossJoin(broadcast(tot))
        .select(col("wa"), col("wb"), col("c").cast("long").as("c"),
          (floor(
            greatest(
              log(col("c").cast("double") * col("np").cast("double")
                / (col("ca").cast("double") * col("cb").cast("double"))),
              lit(0.0).cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("ppmi"))
        .orderBy(col("ppmi").desc, col("wa").asc, col("wb").asc)
        .limit(50)
    },
    Some("""WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
            p AS (SELECT ws[i] AS wa, ws[i + 1] AS wb
                  FROM t, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS s(i)
                  UNION ALL
                  SELECT ws[i], ws[i + 2]
                  FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS s(i)),
            pf AS (SELECT wa, wb FROM p WHERE wa <> '' AND wb <> ''),
            cooc AS (SELECT wa, wb, count(*) AS c FROM pf GROUP BY 1, 2),
            ra AS (SELECT wa, sum(c) AS ca FROM cooc GROUP BY 1),
            rb AS (SELECT wb, sum(c) AS cb FROM cooc GROUP BY 1),
            tot AS (SELECT sum(c) AS np FROM cooc)
            SELECT cooc.wa, cooc.wb, CAST(cooc.c AS BIGINT) AS c,
                   floor(greatest(
                     ln(CAST(cooc.c AS DOUBLE) * CAST(np AS DOUBLE)
                        / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))),
                     CAST(0 AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ppmi
            FROM cooc
            JOIN ra USING (wa) JOIN rb USING (wb) CROSS JOIN tot
            WHERE cooc.c >= 5
            ORDER BY ppmi DESC, wa ASC, wb ASC LIMIT 50""")
  )

  /** q136 — BLOOM-ACCELERATED DECONTAMINATION: q82's exact train×bench
    * gram join, preceded by a Bloom-filter prefilter over the bench
    * gram set — the data-reduction move that makes exact
    * decontamination affordable at 100 TB, where the train gram stream
    * is petabyte-scale but the benchmark side is a few thousand
    * documents: build one Bloom filter over the bench grams (a bounded
    * KB–MB artifact, the ivfCents/q99-index class — it rides the task
    * closure like a broadcast), drop every train gram the filter
    * rejects BEFORE the shuffle (definite non-members; a Bloom filter
    * has NO false negatives), and run q82's exact join on the
    * survivors. False POSITIVES pass the prefilter and are then
    * eliminated by the exact join, so the output — and the oracle — is
    * IDENTICAL to q82's: the sketch buys shuffle reduction, never
    * answer drift (the q135 sketch-then-verify shape, applied to
    * joins). `BloomDecontamSpec` plants a real leak to prove flagging
    * end-to-end and pins the no-false-negative property.
    *
    * ECONOMICS (the part the first cut got wrong): the bench gram set is
    * materialized ONCE to scratch parquet (q76/q129's train-once
    * discipline) so the two bounded planning actions — row count for
    * filter sizing, and the filter build itself — scan the small
    * artifact, never re-derive the tokenize/explode/distinct gram
    * pipeline. The filter is built by Spark's native
    * `BloomFilterAggregate` (the q92 runtime-filter machinery driven by
    * hand) and probed with `BloomFilterMightContain` over `xxhash64(g)`
    * — a codegen'd predicate evaluated inside the train scan stage, not
    * a closure UDF that would fence off whole-stage codegen for the
    * petabyte-scale side of the join.
    */
  val decontaminateBloom = Q(
    "q136_decontaminate_bloom",
    (s, d) => {
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graftbridge.Bridge
      val grams = TextFns.wordGrams(Tables.documents(s, d), 5)
      val bench = graft.sources.Sources.write(grams.where(col("doc_id") % 101 === 0),
        graft.sources.Sources.scratchLeaf(d, "decontam_bench_grams")).read(s)
      val train = grams.where(col("doc_id") % 101 =!= 0)
      // both planning actions are artifact-scoped: a parquet footer count
      // and one small-side aggregation — O(|bench grams|), not O(corpus)
      val nBench = bench.count().max(1L)
      val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nBench, 0.01)
      val bloomBytes = bench
        .select(Bridge.column(new BloomFilterAggregate(
          Bridge.expression(xxhash64(col("g"))), Literal(nBench), Literal(nBits))
          .toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val probe = Bridge.column(BloomFilterMightContain(
        Literal(bloomBytes), Bridge.expression(xxhash64(col("g")))))
      train.where(probe).as("t")
        .join(bench.as("b"), col("t.g") === col("b.g"))
        .groupBy(col("t.doc_id").as("train_doc"), col("b.doc_id").as("bench_doc"))
        .agg(count(lit(1)).as("n_shared"))
    },
    decontaminate.oracle
  )

  /** q144 — FUZZY VOCABULARY MATCH via the SymSpell deletion
    * neighborhood: each query term (a closed-form misspelling — the
    * middle character deleted from every vocabulary word of length ≥ 5;
    * this synthetic vocabulary is small, so all of them serve as the
    * query fixture) finds its best vocabulary term within edit distance 1
    * WITHOUT an all-pairs distance scan: both sides expand to their
    * ≤1-deletion variant sets, candidates come from an EQUI-join on the
    * variant string, and only candidates pay the exact levenshtein
    * verify. Completeness is structural, not probabilistic: lev(q, t) ≤ 1
    * ⟹ q = t (shared self-variant), or t inserts one char into q (t's
    * deletion = q), or deletes one (symmetric), or substitutes one (both
    * delete at that position) — so the variant join misses nothing.
    * This is query-side spelling normalization for retrieval (q113/q119
    * consume exact terms; a misspelled query term scores zero without
    * this pass).
    *
    * Scale: the expansion runs at VOCABULARY scale × (len+1) variants
    * (q100/q112's discipline — never corpus scale); the variant join is
    * an equi-join with no broadcast hint (vocabulary grows with the
    * corpus); the best-match per query is the skew-immune
    * `min(struct(dist, −cnt, term))` aggregation (q89/q137), not a
    * window. The exact-verify cost is per CANDIDATE (shared-variant
    * pairs only) — the SymSpell trade that makes distance search
    * feasible over a billion-term vocabulary.
    */
  /** The SymSpell core over any (w, cnt) vocabulary and (query) relation
    * — factored out so `FuzzyMatchSpec` can drive it with a handcrafted
    * vocabulary exercising each edit class (insert/delete/substitute/
    * exact/too-far) and prove completeness against a brute-force scan.
    */
  def symspellMatch(vocab: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def variants(in: org.apache.spark.sql.DataFrame, c: String) =
      in.withColumn("var", explode(expr(
        s"""transform(sequence(0, length($c)),
            i -> CASE WHEN i = 0 THEN $c
                 ELSE concat(substring($c, 1, i - 1), substring($c, i + 1, 8192)) END)""")))
    val cand = variants(queries, "query")
      .join(variants(vocab, "w"), "var")
      .select("query", "w", "cnt").distinct()
    cand
      .withColumn("dist", levenshtein(col("query"), col("w")).cast("long"))
      .where(col("dist") <= 1)
      .groupBy("query")
      .agg(min(struct(col("dist"), (-col("cnt")).as("ncnt"), col("w"))).as("best"))
      .select(col("query"), col("best.w").as("term"), col("best.dist").as("distance"),
        (-col("best.ncnt")).as("term_cnt"))
  }

  val fuzzyMatch = Q(
    "q144_fuzzy_match",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val queries = vocab
        .where(length(col("w")) >= 5)
        .select(expr(
          "concat(substring(w, 1, (length(w) div 2) - 1), substring(w, (length(w) div 2) + 1, 8192))")
          .as("query"))
        .distinct()
      symspellMatch(vocab, queries)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
            vocab AS (SELECT w, count(*) AS cnt FROM tok WHERE w <> '' GROUP BY 1),
            queries AS (
              SELECT DISTINCT
                     concat(substr(w, 1, (length(w) // 2) - 1),
                            substr(w, (length(w) // 2) + 1, 8192)) AS query
              FROM vocab
              WHERE length(w) >= 5),
            vvar AS (SELECT w, cnt,
                            CASE WHEN i = 0 THEN w
                                 ELSE concat(substr(w, 1, i - 1), substr(w, i + 1, 8192)) END AS var
                     FROM (SELECT w, cnt, unnest(generate_series(0, length(w))) AS i
                           FROM vocab) t),
            qvar AS (SELECT query,
                            CASE WHEN i = 0 THEN query
                                 ELSE concat(substr(query, 1, i - 1), substr(query, i + 1, 8192)) END AS var
                     FROM (SELECT query, unnest(generate_series(0, length(query))) AS i
                           FROM queries) t),
            cand AS (SELECT DISTINCT q.query, v.w, v.cnt
                     FROM qvar q JOIN vvar v ON v.var = q.var),
            ver AS (SELECT query, w, cnt,
                           CAST(levenshtein(query, w) AS BIGINT) AS dist
                    FROM cand WHERE levenshtein(query, w) <= 1)
            SELECT query, w AS term, dist AS distance, CAST(cnt AS BIGINT) AS term_cnt
            FROM (SELECT *, row_number() OVER (PARTITION BY query
                            ORDER BY dist, cnt DESC, w) AS r FROM ver) t
            WHERE r = 1""")
  )

  private val ParaLen = 16

  /** q159 — LANGUAGE-MIXTURE (code-switch) AUDIT: q30's marker lang-ID
    * rerun at PARAGRAPH grain (16-word windows, q89's segmentation
    * discipline), folded to per-document mixture stats — paragraph
    * count, distinct predicted languages, the majority language and its
    * fraction, and a mixed flag. Document-level lang-ID (q30) averages a
    * code-switched page into whichever language dominates; training
    * pipelines that route by language (q71 packs per-language shards,
    * q121 rebalances per-language epochs) need the MIXTURE surfaced, or
    * a bilingual page pollutes whichever shard wins the argmax.
    *
    * Scale shape: paragraphs are a narrow explode (rows × ~len/16, no
    * shuffle), the per-(doc, lang) counts and the per-doc argmax are
    * both map-side-combinable aggregations, and the majority pick is the
    * skew-immune `min(struct(-cnt, lang))` keeper (q89's idiom) — no
    * window anywhere. All-integer counts; the one double division is
    * the same IEEE op on both engines ⇒ full hash oracle.
    */
  val langMixture = Q(
    "q159_lang_mixture", {
      (s, d) =>
        val paras = Tables.documents(s, d)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("ws"))
          .select(col("doc_id"), posexplode(expr(
            s"""transform(sequence(1, CAST(ceil(size(ws) / ${ParaLen}.0) AS INT)),
                i -> slice(ws, (i - 1) * $ParaLen + 1, $ParaLen))"""))
            .as(Seq("p_idx", "pws")))
        val scoreCols = markers.map { case (lang, ms) =>
          val inList = ms.map(w => s"'$w'").mkString(", ")
          expr(s"size(filter(pws, w -> w IN ($inList)))").as(s"s_$lang")
        }
        val langs = markers.map(_._1)
        val pred = langs.foldRight(lit(langs.last)) { (lang, els) =>
          val allGe = langs.filter(_ != lang)
            .map(o => col(s"s_$lang") >= col(s"s_$o"))
            .reduce(_ && _)
          when(allGe, lit(lang)).otherwise(els)
        }
        val perLang = paras
          .select(col("doc_id") +: scoreCols: _*)
          .withColumn("pred", pred)
          .groupBy("doc_id", "pred")
          .agg(count(lit(1)).as("cnt"))
        perLang.groupBy("doc_id")
          .agg(
            sum(col("cnt")).as("n_paras"),
            count(lit(1)).as("n_langs"),
            min(struct((-col("cnt")).as("nc"), col("pred").as("lang"))).as("m"))
          .select(col("doc_id"), col("n_paras"), col("n_langs"),
            col("m.lang").as("maj_lang"),
            ((-col("m.nc")).cast("double") / col("n_paras").cast("double"))
              .as("maj_frac"),
            when(col("n_langs") > 1, 1L).otherwise(0L).as("is_mixed"))
    }, {
      val langs = markers.map(_._1)
      val scoreSql = markers.map { case (lang, ms) =>
        val inList = ms.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(pws, w -> w IN ($inList))) AS s_$lang"
      }.mkString(",\n                   ")
      val caseSql = langs.init.map { lang =>
        val conds = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString("\n                        ")
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            paras AS (SELECT doc_id,
                             list_slice(ws, (i - 1) * $ParaLen + 1, i * $ParaLen) AS pws
                      FROM (SELECT doc_id, ws,
                                   unnest(generate_series(1,
                                     CAST(ceil(len(ws) / ${ParaLen}.0) AS INT))) AS i
                            FROM toks) t),
            sc AS (SELECT doc_id,
                   $scoreSql
                   FROM paras),
            pr AS (SELECT doc_id,
                          CASE $caseSql
                               ELSE '${langs.last}' END AS pred
                   FROM sc),
            pl AS (SELECT doc_id, pred, count(*) AS cnt FROM pr GROUP BY doc_id, pred),
            agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_paras,
                           CAST(count(*) AS BIGINT) AS n_langs,
                           min(struct_pack(nc := -cnt, lang := pred)) AS m
                    FROM pl GROUP BY doc_id)
            SELECT doc_id, n_paras, n_langs, (m).lang AS maj_lang,
                   CAST(-(m).nc AS DOUBLE) / CAST(n_paras AS DOUBLE) AS maj_frac,
                   CAST(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END AS BIGINT) AS is_mixed
            FROM agg""")
    }
  )

  /** q250 — CHARACTER-ENTROPY quality signal via the native
    * [[graft.functions.CharEntropy]] expression (the 6th codegen'd
    * expression, `functions/CharEntropy.scala`): Shannon entropy in bits
    * of each document's codepoint distribution — the corpus screen that
    * catches what q31's length/stopword heuristics miss (keyboard mash,
    * base64 blobs, repeated-char padding all score far from the
    * 3.7–4.3-bit band natural prose occupies in this corpus). Per-row
    * O(len) histogram INSIDE whole-stage codegen — no explode, no
    * shuffle, payload never leaves its partition; the relational replay
    * (explode → per-(doc,char) counts → log2 fold) exists only as the
    * DuckDB oracle, where it shuffles `total_chars` rows to prove the
    * value this expression computes in place. The flag compares the
    * ROUNDED value on both sides, so boundary rows cannot disagree.
    */
  val charEntropy = Q(
    "q250_char_entropy",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          round(graft.functions.CharEntropy(col("text")), 6).as("entropy_bits"))
        .withColumn("low_entropy", col("entropy_bits") < 4.0),
    Some("""WITH chars AS (
              SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
            counts AS (
              SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
            ent AS (
              SELECT doc_id, round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy_bits
              FROM counts GROUP BY doc_id)
            SELECT d.doc_id, d.lang, e.entropy_bits, e.entropy_bits < 4.0 AS low_entropy
            FROM documents d JOIN ent e USING (doc_id)""")
  )

  /** q261 — Aho–Corasick BLOCKLIST SCREEN: one-pass multi-phrase
    * dictionary matching ([[graft.functions.AhoCorasick]]) — the
    * compliance/PII/banned-phrase scan every corpus release runs. The
    * relational spellings scan the corpus once PER PATTERN (a
    * `contains` column per phrase) or hand an alternation regex to a
    * backtracking NFA; the automaton (built once on the driver — size
    * = total pattern chars — and broadcast) streams each document
    * through every pattern simultaneously in O(len + matches),
    * pattern-count-independent: the only per-row cost a screen with
    * hundreds of phrases can pay at 100 TB. Emits (doc, pattern,
    * occurrence count > 0) long-form — the remediation handle.
    *
    * Oracle discipline: every registered pattern is BORDERLESS (no
    * proper prefix equals a suffix — `BlocklistSpec` enforces it), so
    * occurrences cannot overlap themselves and the automaton's
    * all-occurrences count equals DuckDB's non-overlapping
    * replace-count — a FULL hash oracle over a custom-automaton
    * operator. The automaton itself handles overlapping and nested
    * (pattern-in-pattern) matches; the spec pins those semantics on
    * the classic he/she/hers fixture where the replace-count oracle
    * could not.
    */
  private[graft] val BlockPatterns: IndexedSeq[String] = IndexedSeq(
    "table scan", "sort merge", "hash join", "slow query", "stream spark",
    "batch stream", "merge part", "filter key", "data line", "big join",
    "fast row", "key order")

  val blocklistScreen = Q(
    "q261_blocklist_screen",
    (s, d) => {
      import s.implicits._
      val bc = s.sparkContext.broadcast(
        new graft.functions.AhoCorasick(BlockPatterns))
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val ac = bc.value
          it.flatMap { case (id, text) =>
            val counts = ac.countAll(text)
            counts.iterator.zipWithIndex.collect {
              case (n, pi) if n > 0 => (id, ac.patterns(pi), n)
            }
          }
        }
        .toDF("doc_id", "pattern", "n_hits")
    },
    Some(s"""WITH pats AS (SELECT unnest([${BlockPatterns.map(p => s"'$p'").mkString(", ")}])
                             AS pattern)
             SELECT d.doc_id, p.pattern,
                    CAST((length(d.text) - length(replace(d.text, p.pattern, '')))
                         // length(p.pattern) AS BIGINT) AS n_hits
             FROM documents d CROSS JOIN pats p
             WHERE length(d.text) <> length(replace(d.text, p.pattern, ''))""")
  )

  /** q270 — JARO–WINKLER entity resolution via the native
    * [[graft.functions.JaroWinkler]] expression (8th codegen'd
    * expression): the name matcher that complements q144's
    * levenshtein — edit distance penalizes transpositions and length
    * equally, while JW rewards shared prefixes and tolerates exactly
    * the swapped-character typos names contain (textbook constants:
    * p = 0.1, prefix ≤ 4, 0.7 boost threshold — the SAME constants
    * DuckDB's `jaro_winkler_similarity` implements, which is what
    * makes a full cross-engine oracle over a custom native expression
    * possible). Fixture: a "dirty list" of probe names derived
    * deterministically from every 97th customer by reversing the
    * digit suffix; each probe resolves to its best-JW customer
    * (max(struct) keeper, rounded 6 before the argmax so both engines
    * pick identically). The probe side broadcasts (the small side of
    * an entity-resolution join always does); production blocks first
    * (q144's discipline) — the focus here is the scorer in the hot
    * loop staying inside whole-stage codegen instead of boxing two
    * strings per candidate pair. `JaroWinklerSpec`: classic vectors
    * (MARTHA/MARHTA…), boost-threshold edge, interpreted ≡ codegen.
    */
  val jaroWinklerResolve = Q(
    "q270_jaro_winkler",
    (s, d) => {
      val cust = Tables.customer(s, d).select("c_custkey", "c_name")
      val probes = cust.where(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("probe_key"),
          concat(substring(col("c_name"), 1, 9),
            reverse(expr("substring(c_name, 10)"))).as("probe_name"))
      // The scoring loop is map-only, so its parallelism IS the scan's
      // split count — and the local fixture is ONE tiny parquet file,
      // which serialized all |corpus|×|probes| JW evaluations onto a
      // single core (the whole of q270's former 3.1 s; r14 verdict task
      // 6). The repartition stands in for the thousands of scan tasks a
      // real corpus supplies (q201's discipline) — at 100 TB the scan
      // is already wide and this exchange would be dropped, while here
      // it shuffles only the tiny fixture to unlock 32-way scoring
      // (isolated A/B at sf0.1: 2.75 s → 0.89 s, BASELINE.md r15 note).
      cust.repartition(32).crossJoin(broadcast(probes))
        .select(col("probe_key"), col("probe_name"), col("c_custkey"),
          round(graft.functions.JaroWinkler(col("probe_name"), col("c_name")), 6)
            .as("jw"))
        .groupBy("probe_key", "probe_name")
        .agg(max(struct(col("jw"), col("c_custkey").as("ck"))).as("m"))
        .select(col("probe_key"), col("probe_name"),
          col("m.ck").as("best_custkey"), col("m.jw").as("best_jw"))
    },
    Some("""WITH p AS (SELECT c_custkey AS probe_key,
                              substr(c_name, 1, 9) || reverse(substr(c_name, 10))
                                AS probe_name
                       FROM customer WHERE c_custkey % 97 = 0),
            j AS (SELECT p.probe_key, p.probe_name, c.c_custkey,
                         round(jaro_winkler_similarity(p.probe_name, c.c_name), 6)
                           AS jw
                  FROM p CROSS JOIN customer c),
            b AS (SELECT probe_key, probe_name,
                         max(struct_pack(jw := jw, ck := c_custkey)) AS m
                  FROM j GROUP BY 1, 2)
            SELECT probe_key, probe_name, (m).ck AS best_custkey, (m).jw AS best_jw
            FROM b""")
  )

  /** q287 — ZIPF'S-LAW FIT of the corpus token-frequency curve: the
    * one-number summary of lexical health a corpus audit reads before
    * training (natural language fits ln f ≈ a + s·ln r with s ≈ −1;
    * boilerplate-heavy or deduplicated-to-death corpora bend the
    * curve — a fitted slope far from −1, or a weak R², is the smell).
    * OLS of ln(freq) on ln(rank) over the top-100 vocabulary, plus
    * the head token's share — the q85 vocabulary surface condensed to
    * a fit.
    *
    * Scale shape: the only corpus-sized pass is the map-side-combined
    * word count; the top-100 cut is orderBy+limit (TakeOrdered — the
    * q85 discipline, no global sort materialized), and the rank window
    * runs over exactly 100 rows. Portability: ranks and counts are
    * exact integers and ln sees identical inputs; `regr_slope`-family
    * internals are the one engine-divergent accumulation — rounded 6dp
    * (q213's rule). Single-row output with n_tokens as the exact
    * cross-check column.
    */
  val zipfFit = Q(
    "q287_zipf_fit",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("f"))
      val top = freq.orderBy(col("f").desc, col("w").asc).limit(100)
        .withColumn("r", row_number().over(
          Window.orderBy(col("f").desc, col("w").asc)).cast("long"))
      val tot = freq.agg(sum(col("f")).as("n_tokens"))
      top.select(log(col("r").cast("double")).as("lr"),
          log(col("f").cast("double")).as("lf"), col("r"), col("f"))
        .agg(count(lit(1)).as("n_top"),
          round(expr("regr_slope(lf, lr)"), 6).as("zipf_slope"),
          round(expr("regr_intercept(lf, lr)"), 6).as("zipf_intercept"),
          round(expr("regr_r2(lf, lr)"), 6).as("r2"),
          max(when(col("r") === 1, col("f"))).as("top_freq"))
        .crossJoin(broadcast(tot))
        .select(col("n_top"), col("zipf_slope"), col("zipf_intercept"),
          col("r2"), col("top_freq"), col("n_tokens"))
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
            freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f
                     FROM tok WHERE w <> '' GROUP BY w),
            top AS (SELECT f, CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS r
                    FROM freq ORDER BY f DESC, w LIMIT 100),
            tot AS (SELECT CAST(sum(f) AS BIGINT) AS n_tokens FROM freq)
            SELECT CAST(count(*) AS BIGINT) AS n_top,
                   round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
                     AS zipf_slope,
                   round(regr_intercept(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
                     AS zipf_intercept,
                   round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6) AS r2,
                   max(CASE WHEN r = 1 THEN f END) AS top_freq,
                   tot.n_tokens
            FROM top, tot
            GROUP BY tot.n_tokens""")
  )

  /** q334 — GREEDY MAX-COVERAGE SELECTION (facility location / D4-style
    * curation): pick 5 documents from a 12-candidate pool maximizing
    * NEWLY-covered distinct word trigrams at each step — the submodular
    * selection behind "choose k exemplars that span the corpus's
    * vocabulary", the coverage-objective complement to q330 (MMR trades
    * relevance against pairwise similarity; this maximizes marginal SET
    * gain, where the greedy algorithm's (1−1/e) guarantee is the whole
    * reason it is THE production heuristic). Candidates are the 12
    * gram-richest docs (count desc, doc_id — total order); each pick's
    * gain is an exact distinct-gram count with a doc_id tiebreak;
    * covered_total is the running cumsum (gains are disjoint by
    * construction, so the sum IS the union size).
    *
    * Scale shape: ZERO corpus passes of its own — both the candidate
    * ranking (gram-set size `m`) and the candidate gram sets (`ws`, as
    * 60-bit gram ids) read q151's per-dir df-ranked gram index
    * ([[Dedup.prefixArrArtifact]], built once per corpus snapshot and
    * shared across the Jaccard family), the r13 artifacts-once move
    * applied here (r14 verdict task 3: the query previously re-derived
    * the corpus gram relation twice per run). Gram IDENTITY is all the
    * greedy needs (distinct counts and set membership), and the build
    * asserts per-doc id distinctness, so the id substitution cannot
    * change any gain. The candidate sets are a BOUNDED serving relation
    * collected once (the q330/ivfCents discipline), and all five greedy
    * steps run driver-side over the 12 integer sets. At 100 TB, k and
    * the pool grow but stay serving-sized; the corpus cost lives in the
    * shared index build.
    */
  val coverageSelect = Q(
    "q334_coverage_select",
    (s, d) => {
      import s.implicits._
      // ONE bounded collect: the 12 gram-richest docs' id sets (the
      // serving pool — pool × gram-set sized, ~12 × |doc grams|). The
      // greedy itself then runs driver-side in plain Scala: submitting
      // ~25 Spark jobs to argmax over 12 integer sets was pure
      // scheduling overhead (2.5 s of it at sf0.1 — BASELINE.md r14),
      // exactly the driver-loop shape the ivfCents discipline reserves
      // for BOUNDED relations. All arithmetic is integer set
      // cardinality with a doc_id tiebreak, so the engine-vs-oracle
      // hash cannot drift.
      val pool = Dedup.prefixArrArtifact(s, d)
        .orderBy(col("m").desc, col("doc_id").asc).limit(12)
        .select(col("doc_id"), col("ws")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      val covered = scala.collection.mutable.Set.empty[Long]
      var remaining = pool
      var total = 0L
      val picks = (1 to 5).map { k =>
        val (docId, gain) = remaining
          .map { case (id, g) => (id, (g.size - g.count(covered)).toLong) }
          .maxBy { case (id, gain) => (gain, -id) }
        covered ++= remaining.find(_._1 == docId).get._2
        remaining = remaining.filter(_._1 != docId)
        total += gain
        (k.toLong, docId, gain, total)
      }
      picks.toDF("pick_rank", "doc_id", "gain", "covered_total")
    },
    Some {
      def stepSql(k: Int): String = {
        val prev = (1 until k).map(i => s"SELECT doc_id FROM s$i").mkString(" UNION ALL ")
        val cov = s"(SELECT DISTINCT cg2.g FROM cg cg2 WHERE cg2.doc_id IN ($prev))"
        s"""g$k AS (SELECT cg.doc_id,
                         CAST(sum(CASE WHEN cov.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                           AS gain
                  FROM cg LEFT JOIN $cov cov ON cov.g = cg.g
                  WHERE cg.doc_id NOT IN ($prev)
                  GROUP BY 1),
           s$k AS (SELECT doc_id, gain, CAST($k AS BIGINT) AS pick_rank FROM (
                     SELECT *, row_number() OVER (ORDER BY gain DESC, doc_id ASC) AS rn
                     FROM g$k) t
                   WHERE rn = 1)"""
      }
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          idx AS (SELECT doc_id, ws,
                         unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
                  FROM toks),
          grams AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                    FROM idx WHERE i + 2 <= len(ws)),
          cand AS (SELECT doc_id FROM (
                     SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
                     ORDER BY n DESC, doc_id ASC LIMIT 12) t),
          cg AS (SELECT g.doc_id, g.g FROM grams g JOIN cand USING (doc_id)),
          s1 AS (SELECT doc_id, gain, CAST(1 AS BIGINT) AS pick_rank FROM (
                   SELECT doc_id, CAST(count(*) AS BIGINT) AS gain,
                          row_number() OVER (ORDER BY count(*) DESC, doc_id ASC) AS rn
                   FROM cg GROUP BY doc_id) t
                 WHERE rn = 1),
          ${(2 to 5).map(stepSql).mkString(",\n")}
          SELECT pick_rank, doc_id, gain,
                 CAST(sum(gain) OVER (ORDER BY pick_rank) AS BIGINT) AS covered_total
          FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
                UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
                UNION ALL SELECT * FROM s5) u"""
    }
  )

  val all: Seq[Q] =
    Seq(tokenStats, langId, qualityScore, fingerprint, tfIdf, repetition, decontaminate,
      decontaminateCapped, positionalIndex, vocabulary, normalize, piiRedact, bpePairs,
      bpeEncode, bm25, lmQuality, textRank, phraseSearch, qualityGate, oovRate, novelty,
      qualityGateApprox, ragChunks, heavyHitters, approxTopK, skipgramPmi,
      decontaminateBloom, fuzzyMatch, langMixture, charEntropy, blocklistScreen,
      jaroWinklerResolve, zipfFit, coverageSelect)
}
