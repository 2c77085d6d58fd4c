package graft.queries

import graft.{Q, Tables}
import graft.Q.{dsum2, sqlSum2, sqlSum4}
import graft.functions.TextFns
import graft.streaming.StreamFixture.child
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational wave: grouping sets, pivot, exact percentiles, JSON
  * extraction, as-of join, and a range (theta) join — completing the
  * SURVEY.md §2c surface beyond the first 21 queries.
  */
object Relational2 {

  /** q38 — explicit GROUPING SETS (beyond q13 rollup / q14 cube). */
  val groupingSets = Q(
    "q38_grouping_sets",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                ${sqlSum2("l_quantity")} AS sum_qty
                FROM lineitem_v
                GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())""")
    },
    Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
             ${sqlSum2("l_quantity")} AS sum_qty
             FROM lineitem
             GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())""")
  )

  /** q39 — pivot: order counts by priority × status, statuses as columns.
    * Missing combinations coalesced to 0 to match SQL's FILTER semantics.
    */
  val pivot = Q(
    "q39_pivot",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_cnt"),
          coalesce(col("O"), lit(0L)).as("o_cnt"),
          coalesce(col("P"), lit(0L)).as("p_cnt")),
    Some("""SELECT o_orderpriority,
            count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
            count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
            count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
            FROM orders GROUP BY o_orderpriority""")
  )

  /** q40 — exact percentiles (linear interpolation) per group. */
  val percentiles = Q(
    "q40_percentiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("round(percentile(l_quantity, 0.25), 6)").as("p25"),
          expr("round(percentile(l_quantity, 0.5), 6)").as("p50"),
          expr("round(percentile(l_quantity, 0.75), 6)").as("p75"),
          expr("round(percentile(l_quantity, 0.9), 6)").as("p90")),
    Some("""SELECT l_returnflag,
            round(quantile_cont(l_quantity, 0.25), 6) AS p25,
            round(quantile_cont(l_quantity, 0.5), 6) AS p50,
            round(quantile_cont(l_quantity, 0.75), 6) AS p75,
            round(quantile_cont(l_quantity, 0.9), 6) AS p90
            FROM lineitem GROUP BY l_returnflag""")
  )

  /** q41 — JSON extraction from the `events.props` string column,
    * aggregated per event type.
    */
  val jsonExtract = Q(
    "q41_json_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
    Some("""SELECT event_type, count(*) AS n,
            CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
            min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
            max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type""")
  )

  /** q42 — as-of join within events: for each error event, the most
    * recent click by the same user at-or-before it. Expressed as a running
    * conditional max over an ordered window — one shuffle on user_id, no
    * self-join. (The classical as-of between two tables unions them first
    * and applies the same running-max idiom.)
    */
  val asofJoin = Q(
    "q42_asof_join",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("prev_click_ts", max(when(col("event_type") === "click", col("ts"))).over(w))
        .where(col("event_type") === "error")
        // errors with no prior click map to the epoch rather than NULL —
        // NULL timestamps don't canonicalize portably in the compare.
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("prev_click_ts"), lit("1970-01-01 00:00:00").cast("timestamp"))
            .as("prev_click_ts"))
    },
    Some("""SELECT event_id, user_id, ts,
                   coalesce(prev_click_ts, TIMESTAMP '1970-01-01 00:00:00') AS prev_click_ts
            FROM (
              SELECT event_id, user_id, ts, event_type,
                     max(CASE WHEN event_type = 'click' THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_ts
              FROM events) t
            WHERE event_type = 'error'""")
  )

  /** q43 — range join: lineitems shipped within 90 days of their order's
    * date. Equi component (orderkey) drives the join strategy; the range
    * predicate filters post-match, so this stays a hash/sort-merge join,
    * not a cartesian.
    */
  val rangeJoin = Q(
    "q43_range_join",
    (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      o.join(l,
        o("o_orderkey") === l("l_orderkey")
          && l("l_shipdate") >= o("o_orderdate")
          && l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("sum_price"))
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n,
             ${sqlSum2("l_extendedprice")} AS sum_price
             FROM orders JOIN lineitem
               ON l_orderkey = o_orderkey
               AND l_shipdate >= o_orderdate
               AND l_shipdate <= o_orderdate + INTERVAL '90 days'
             GROUP BY o_orderpriority""")
  )

  /** q48 — skew-resistant two-phase aggregation with an explicit salt:
    * phase 1 aggregates on (key, salt) spreading any hot key over 16
    * reducers; phase 2 merges the partials per key. Result is identical
    * to the direct aggregation (the oracle computes it directly) because
    * every partial — decimal sums, counts, min/max — re-aggregates
    * exactly. At 100 TB this is the pattern for keys too hot for AQE's
    * skew handling (which only splits join partitions, not agg groups).
    */
  val saltedAgg = Q(
    "q48_salted_agg",
    (s, d) => {
      val phase1 = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_orderkey"), lit(16)).cast("int"))
        .groupBy("l_returnflag", "salt")
        .agg(
          count(lit(1)).as("pn"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("pq"),
          min(col("l_quantity")).as("pmin"),
          max(col("l_quantity")).as("pmax"))
      phase1
        .groupBy("l_returnflag")
        .agg(
          sum(col("pn")).as("n"),
          sum(col("pq")).cast("double").as("sum_qty"),
          min(col("pmin")).as("min_qty"),
          max(col("pmax")).as("max_qty"))
    },
    Some(s"""SELECT l_returnflag, count(*) AS n,
             ${sqlSum2("l_quantity")} AS sum_qty,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
             FROM lineitem GROUP BY l_returnflag""")
  )

  /** q49 — approximate percentile sketch (GK/KLL-family): mergeable,
    * bounded-memory — the 100 TB answer when exact percentiles (q40)
    * would need a full sort. HASH-GATED via the audit-boolean
    * discipline (q103/q126, round-15 verdict task 1): the sketch value
    * is implementation-defined, but its published contract — rank error
    * ≤ n/accuracy — is portable. The query emits per group the exact
    * DISCRETE percentiles (value at 1-based rank ⌈q·n⌉, an explicit
    * integer-rank window both engines compute identically) plus one
    * boolean per quantile asserting the sketch value lies between the
    * exact values at ranks target ∓ slack, slack = ⌈n/10000⌉ + 2 (the
    * guarantee at accuracy=10000 plus two ranks of rounding headroom for
    * the sketch's internal target). The oracle computes the exacts and
    * expects the booleans TRUE. The audit pays the exact sort; production
    * runs the sketch alone.
    */
  val approxPercentile = Q(
    "q49_approx_percentile",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("v"))
      val ranked = li
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy(col("v").asc)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
        // integer-form ranks: ⌈q·n⌉ = (q_num·n + q_den − 1) div q_den —
        // no float ceil at the engine boundary
        .withColumn("r50", expr("(n + 1) div 2"))
        .withColumn("r90", expr("(9 * n + 9) div 10"))
        .withColumn("slack", expr("(n + 9999) div 10000 + 2"))
      val exacts = ranked.groupBy("l_returnflag").agg(
        max(col("n")).as("n"),
        max(when(col("rn") === col("r50"), col("v"))).as("p50_exact"),
        max(when(col("rn") === col("r90"), col("v"))).as("p90_exact"),
        max(when(col("rn") === greatest(lit(1L), col("r50") - col("slack")),
          col("v"))).as("lo50"),
        max(when(col("rn") === least(col("n"), col("r50") + col("slack")),
          col("v"))).as("hi50"),
        max(when(col("rn") === greatest(lit(1L), col("r90") - col("slack")),
          col("v"))).as("lo90"),
        max(when(col("rn") === least(col("n"), col("r90") + col("slack")),
          col("v"))).as("hi90"))
      val ap = li.groupBy("l_returnflag").agg(
        expr("approx_percentile(v, 0.5, 10000)").as("ap50"),
        expr("approx_percentile(v, 0.9, 10000)").as("ap90"))
      exacts.join(ap, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          col("p50_exact"), col("p90_exact"),
          (col("ap50") >= col("lo50") && col("ap50") <= col("hi50")).as("ap50_ok"),
          (col("ap90") >= col("lo90") && col("ap90") <= col("hi90")).as("ap90_ok"))
    },
    Some("""WITH r AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v
                       FROM lineitem),
            rk AS (SELECT l_returnflag, v,
                          row_number() OVER (PARTITION BY l_returnflag
                                             ORDER BY v) AS rn,
                          count(*) OVER (PARTITION BY l_returnflag) AS n
                   FROM r)
            SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
                   max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS p50_exact,
                   max(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS p90_exact,
                   TRUE AS ap50_ok, TRUE AS ap90_ok
            FROM rk GROUP BY l_returnflag""")
  )

  /** q50 — array-function surface over the embedding column: length,
    * indexing, extrema, slicing, and an ordered fold — all codegen'd
    * built-ins (plus `aggregate`, the one higher-order op, over a 4-slice).
    */
  val arrayFuncs = Q(
    "q50_array_funcs",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(
          col("vec_id"),
          size(col("v")).cast("long").as("dim"),
          element_at(col("v"), 1).as("first_elem"),
          array_max(col("v")).as("max_elem"),
          array_min(col("v")).as("min_elem"),
          expr("aggregate(slice(v, 1, 4), 0.0D, (a, x) -> a + x)").as("head4_sum")),
    Some("""SELECT vec_id,
            len(embedding) AS dim,
            CAST(embedding[1] AS DOUBLE) AS first_elem,
            CAST(list_max(embedding) AS DOUBLE) AS max_elem,
            CAST(list_min(embedding) AS DOUBLE) AS min_elem,
            CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
              + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE) AS head4_sum
            FROM embeddings""")
  )

  /** q51 — correlated scalar subquery + IN subquery (Catalyst rewrites
    * both to joins: the scalar one to a left outer aggregate join, the IN
    * to a left semi — no per-row re-execution, unlike a naive engine).
    */
  val subqueries = Q(
    "q51_subqueries",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v2")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""SELECT o_orderkey, o_totalprice,
               coalesce((SELECT count(*) FROM lineitem_v2 WHERE l_orderkey = o_orderkey), 0) AS n_items
               FROM orders_v
               WHERE o_custkey IN (SELECT c_custkey FROM customer_v WHERE c_nationkey < 5)""")
    },
    Some("""SELECT o_orderkey, o_totalprice,
            coalesce((SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey), 0) AS n_items
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey < 5)""")
  )

  /** q53 — statistical aggregates: stddev/variance/correlation/
    * covariance per group. Engines use different one-pass algorithms
    * (Welford vs sum-of-squares), so results are rounded to 6 digits.
    */
  val statsAgg = Q(
    "q53_stats_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("covar_qp")),
    Some("""SELECT l_returnflag,
            round(stddev_samp(l_quantity), 6) AS sd_qty,
            round(var_samp(l_quantity), 6) AS var_qty,
            round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
            round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qp
            FROM lineitem GROUP BY l_returnflag""")
  )

  /** q54 — RANGE-frame window over event time: per customer, orders and
    * spend within the 30 days preceding each order (value-based frame,
    * complementing q15's ROWS frames).
    */
  val rangeFrame = Q(
    "q54_range_frame",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_rf")
      s.sql("""SELECT o_orderkey, o_custkey,
               count(*) OVER w AS n_30d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d
               FROM orders_rf
               WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                            RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)""")
    },
    Some("""SELECT o_orderkey, o_custkey,
            count(*) OVER w AS n_30d,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)""")
  )

  /** q55 — multiset set-ops: EXCEPT ALL / INTERSECT ALL (bag semantics,
    * complementing q16's distinct set-ops).
    */
  val exceptAll = Q(
    "q55_except_all",
    (s, d) => {
      val l = Tables.lineitem(s, d).select(col("l_suppkey").as("k"))
      val o = Tables.supplier(s, d).select(col("s_suppkey").as("k"))
      l.exceptAll(o).groupBy("k").agg(count(lit(1)).as("n"))
    },
    Some("""SELECT k, count(*) AS n FROM (
              SELECT l_suppkey AS k FROM lineitem
              EXCEPT ALL
              SELECT s_suppkey FROM supplier) t
            GROUP BY k""")
  )

  /** q56 — string-transform surface: regexp_replace, translate, trim
    * variants, lpad, repeat, reverse, split_part-style extraction.
    */
  val stringTransforms = Q(
    "q56_string_transforms",
    (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        translate(col("p_brand"), "B#", "b-").as("brand_t"),
        trim(lit(" pad "), lit(" ")).as("trimmed"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"),
        reverse(col("p_type")).as("type_rev"),
        element_at(split(col("p_type"), " "), 1).as("type_first")),
    Some("""SELECT p_partkey,
            regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
            translate(p_brand, 'B#', 'b-') AS brand_t,
            trim(' pad ') AS trimmed,
            lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
            reverse(p_type) AS type_rev,
            string_split(p_type, ' ')[1] AS type_first
            FROM part""")
  )

  /** q57 — outer joins: customers FULL OUTER joined to their big-order
    * aggregate — null-extending both ways (customers without big orders;
    * the aggregate side can't orphan here, but the plan is a true full
    * outer). Null counts made explicit so the driver compare is
    * null-free.
    */
  val outerJoin = Q(
    "q57_outer_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val big = Tables.orders(s, d)
        .where(col("o_totalprice") > 250000.0)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_big"), dsum2(col("o_totalprice")).as("spend_big"))
      c.join(big, c("c_custkey") === big("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), lit(-1L)).as("custkey"),
          col("c_mktsegment"),
          coalesce(col("n_big"), lit(0L)).as("n_big"),
          coalesce(col("spend_big"), lit(0.0)).as("spend_big"))
    },
    Some(s"""SELECT coalesce(c_custkey, -1) AS custkey, c_mktsegment,
             coalesce(n_big, 0) AS n_big, coalesce(spend_big, 0.0) AS spend_big
             FROM customer
             FULL OUTER JOIN (
               SELECT o_custkey, count(*) AS n_big,
                      ${sqlSum2("o_totalprice")} AS spend_big
               FROM orders WHERE o_totalprice > 250000.0
               GROUP BY o_custkey) b
             ON c_custkey = o_custkey""")
  )

  /** q58 — ranking-function family: dense_rank, ntile, percent_rank,
    * cume_dist over a fully-deterministic ordering. percent_rank and
    * cume_dist are exact small-integer ratios — engine-portable doubles.
    */
  val rankFuncs = Q(
    "q58_rank_funcs",
    (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .where(col("o_totalprice") > 300000.0)
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"))
    },
    Some("""SELECT o_orderkey, o_orderpriority,
            CAST(dense_rank() OVER w AS BIGINT) AS drnk,
            CAST(ntile(4) OVER w AS BIGINT) AS quartile,
            percent_rank() OVER w AS prnk,
            cume_dist() OVER w AS cdist
            FROM orders
            WHERE o_totalprice > 300000.0
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey)""")
  )

  /** q68 — unpivot (melt): q39's pivoted wide row back to long form —
    * (priority, status, cnt) — via the native `unpivot` operator (an
    * `Expand` node: one pass, no shuffle, each input row fanned to one
    * row per value column). Together q39+q68 round-trip the
    * wide↔long reshaping pair.
    */
  val unpivotQ = Q(
    "q68_unpivot",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .unpivot(
          ids = Array(col("o_orderpriority")),
          values = Array(col("F"), col("O"), col("P")),
          variableColumnName = "status",
          valueColumnName = "cnt"),
    Some("""WITH wide AS (
              SELECT o_orderpriority,
                     count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
                     count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
                     count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
              FROM orders GROUP BY o_orderpriority)
            SELECT o_orderpriority, s.status, CAST(s.cnt AS BIGINT) AS cnt
            FROM wide, LATERAL (VALUES ('F', f_cnt), ('O', o_cnt), ('P', p_cnt))
                 AS s(status, cnt)""")
  )

  /** q88 — MERGE/UPSERT (CDC-shaped corpus refresh): a delta batch —
    * updated versions of some existing documents plus brand-new ones —
    * merges into the base corpus: delta rows win on id collision,
    * unmatched base rows survive, unmatched delta rows insert. The
    * incremental-recrawl operation an ever-refreshing training corpus
    * runs daily. Expressed as ONE full-outer join on the key with
    * row-source arbitration via coalesce — a single shuffle (or a
    * co-partitioned/bucketed join at scale; on a lakehouse table format
    * this compiles to MERGE INTO, with identical semantics). The delta
    * here is synthesized deterministically from the base (every 10th doc
    * re-arrives uppercased; inserts get offset ids) so the oracle can
    * rebuild it exactly.
    */
  val mergeUpsert = Q(
    "q88_merge_upsert",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val updates = base.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"), upper(col("text")).as("text"))
      val inserts = base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("lang"),
          col("n_chars"), col("text"))
      val delta = updates.union(inserts)
      base.as("b").join(delta.as("e"), col("b.doc_id") === col("e.doc_id"), "full_outer")
        .select(
          coalesce(col("e.doc_id"), col("b.doc_id")).as("doc_id"),
          coalesce(col("e.lang"), col("b.lang")).as("lang"),
          coalesce(col("e.n_chars"), col("b.n_chars")).as("n_chars"),
          coalesce(col("e.text"), col("b.text")).as("text"),
          when(col("b.doc_id").isNull, "inserted")
            .when(col("e.doc_id").isNull, "kept")
            .otherwise("updated").as("merge_op"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          length(col("text")).cast("long").as("text_len"),
          TextFns.md5Hex(col("text")).as("text_fp"),
          col("merge_op"))
    },
    Some("""WITH base AS (SELECT doc_id, lang, n_chars, text FROM documents),
            delta AS (
              SELECT doc_id, lang, n_chars, upper(text) AS text
              FROM base WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 10000000, lang, n_chars, text
              FROM base WHERE doc_id % 7 = 0)
            SELECT coalesce(e.doc_id, b.doc_id) AS doc_id,
                   coalesce(e.lang, b.lang) AS lang,
                   coalesce(e.n_chars, b.n_chars) AS n_chars,
                   CAST(length(coalesce(e.text, b.text)) AS BIGINT) AS text_len,
                   md5(coalesce(e.text, b.text)) AS text_fp,
                   CASE WHEN b.doc_id IS NULL THEN 'inserted'
                        WHEN e.doc_id IS NULL THEN 'kept'
                        ELSE 'updated' END AS merge_op
            FROM base b FULL OUTER JOIN delta e ON e.doc_id = b.doc_id""")
  )

  /** q92 — RUNTIME BLOOM-FILTER join pruning, the shuffle-join defense
    * when neither side broadcasts: Spark builds a bloom filter from the
    * selective (filtered) build side at runtime and pushes a
    * `might_contain` predicate into the probe side's scan stage, killing
    * most probe rows BEFORE the shuffle instead of after the join. The
    * query runs on its OWN session (`newSession` — shared SparkContext,
    * isolated SQLConf) with the application-side size threshold lowered:
    * the feature arms itself only above a 10 GB probe scan by default,
    * which is exactly right at 100 TB and unreachable in a test corpus.
    * Broadcast is disabled on that session so the shuffle-join path —
    * the one the filter exists for — is actually exercised. The filter
    * is semantics-free (false positives only let a row reach the real
    * join), so the oracle is the plain join; RuntimeFilterSpec asserts
    * `might_contain` lands in the executed plan.
    */
  val bloomJoin = Q(
    "q92_bloom_join",
    (s, d) => {
      val iso = child(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
      Tables.lineitem(iso, d)
        .join(Tables.orders(iso, d).where(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(Q.dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    },
    Some(s"""SELECT l_returnflag, ${Q.sqlSum2("l_quantity")} AS sum_qty, count(*) AS n
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE o_orderpriority = '1-URGENT'
             GROUP BY l_returnflag""")
  )

  /** q128 — SALTED SKEW JOIN: the q48 move for JOINS. `events` joins its
    * per-type dimension on `event_type` — FIVE distinct keys over the
    * whole fact table, the textbook hot-key shuffle (every `click` row
    * lands on one reducer). The salted rewrite appends `event_id % 8` to
    * the fact key and EXPLODES the dim side ×8, so each hot key fans out
    * over 8 reducers; salting is correctness-neutral (every fact row
    * still meets exactly one dim copy), which is exactly what the oracle
    * (a plain unsalted join) proves. Broadcast is force-disabled on an
    * isolated session (q92's `newSession` conf discipline) because the
    * 5-row dim would otherwise broadcast and hide the demonstration —
    * the REAL 100 TB case is a dim too big to broadcast but small
    * enough to replicate ×salt (say a 10 M-row per-domain table):
    * static salting is the structural guarantee where AQE's runtime
    * skew-split only handles sort-merge spills it can see.
    * `SaltedJoinSpec` pins plan shape (shuffle join keyed by salt) and
    * result-equality with the unsalted join.
    */
  val saltedJoin = Q(
    "q128_salted_join",
    (s, d) => {
      val iso = child(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val ev = Tables.events(iso, d).select(col("event_id"), col("event_type"))
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_count"))
      val fact = ev.withColumn("salt", col("event_id") % 8)
      val dimSalted = dim.select(col("event_type"), col("type_count"),
        explode(sequence(lit(0L), lit(7L))).as("salt"))
      fact.join(dimSalted, Seq("event_type", "salt"))
        .select(col("event_id"), col("event_type"), col("type_count"))
    },
    Some("""WITH c AS (SELECT event_type, count(*) AS type_count
                       FROM events GROUP BY event_type)
            SELECT e.event_id, e.event_type,
                   CAST(c.type_count AS BIGINT) AS type_count
            FROM events e JOIN c USING (event_type)""")
  )

  /** q130 — DATASET VERSION DIFF: row-level added/removed/changed/
    * unchanged classification between two corpus snapshots — the audit
    * half of data versioning (q88's MERGE applies a delta; q129
    * maintains aggregates over one; q130 tells you what a new drop
    * actually DID, which is what a release note, a cache invalidation,
    * or an incremental-recompute planner consumes). The two versions
    * are derived in closed form (v1 = doc_id % 7 ≠ 0 with original
    * text; v2 = doc_id % 13 ≠ 0 with every 11th doc's text revised), so
    * both engines see byte-identical snapshots — the q93/q123
    * reconstruction move.
    *
    * Scale shape: each side reduces to (id, fingerprint) in a narrow
    * projection BEFORE the full-outer shuffle — document bodies never
    * travel; the diff is one join on the key at 32 chars per row.
    * Status is a pure projection over null-ness and fp inequality;
    * fingerprint columns coalesce to '-' (absent), never NULL (the
    * NULL-canonicalization compare hazard).
    */
  val versionDiff = Q(
    "q130_version_diff",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val v1 = docs.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), TextFns.md5Hex(col("text")).as("old_fp"))
      val v2 = docs.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          TextFns.md5Hex(
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text"))).as("new_fp"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("old_fp").isNull, "added")
            .when(col("new_fp").isNull, "removed")
            .when(col("old_fp") =!= col("new_fp"), "changed")
            .otherwise("unchanged").as("status"),
          coalesce(col("old_fp"), lit("-")).as("old_fp"),
          coalesce(col("new_fp"), lit("-")).as("new_fp"))
    },
    Some("""WITH v1 AS (SELECT doc_id, md5(text) AS old_fp
                        FROM documents WHERE doc_id % 7 <> 0),
            v2 AS (SELECT doc_id,
                          md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
                                   ELSE text END) AS new_fp
                   FROM documents WHERE doc_id % 13 <> 0)
            SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
                   CASE WHEN v1.doc_id IS NULL THEN 'added'
                        WHEN v2.doc_id IS NULL THEN 'removed'
                        WHEN v1.old_fp <> v2.new_fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   coalesce(old_fp, '-') AS old_fp,
                   coalesce(new_fp, '-') AS new_fp
            FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id""")
  )

  /** q133 — PER-GROUP WINSORIZATION: clip `events.value` to its event
    * type's [p05, p95] — the outlier-clamping pass a feature pipeline
    * runs before normalization (one rogue sensor/purchase value
    * otherwise owns the group's mean and scale). Percentiles are
    * RANK-DEFINED (the value at row ⌈q·n⌉ ordered by (value, event_id)
    * — q120's portable-quantile discipline): the clip bounds are
    * existing bit-exact doubles SELECTED from the data, never
    * interpolated, so `least/greatest` against them is engine-portable
    * with zero rounding. At 100 TB the bounds come from
    * `approx_percentile` (q49/q126's sketch family) with this exact
    * form as the audit twin; the bounds table is group-cardinality
    * (tiny) and joins back map-side.
    */
  val winsorize = Q(
    "q133_winsorize",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      val ranked = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("value"), col("event_id")))
          .cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      val bounds = ranked
        .withColumn("lo_rn", expr("(n * 5 + 99) DIV 100"))
        .withColumn("hi_rn", expr("(n * 95 + 99) DIV 100"))
        .groupBy("event_type")
        .agg(min(when(col("rn") === greatest(col("lo_rn"), lit(1L)), col("value"))).as("p05"),
          min(when(col("rn") === greatest(col("hi_rn"), lit(1L)), col("value"))).as("p95"))
      ev.join(bounds, Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("p05"), col("p95"),
          least(greatest(col("value"), col("p05")), col("p95")).as("clipped"))
    },
    Some("""WITH r AS (SELECT event_id, event_type, value,
                              CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS BIGINT) AS rn,
                              count(*) OVER (PARTITION BY event_type) AS n
                       FROM events),
            b AS (SELECT event_type,
                         min(CASE WHEN rn = greatest((n * 5 + 99) // 100, 1)
                                  THEN value END) AS p05,
                         min(CASE WHEN rn = greatest((n * 95 + 99) // 100, 1)
                                  THEN value END) AS p95
                  FROM r GROUP BY event_type)
            SELECT e.event_id, e.event_type, e.value, b.p05, b.p95,
                   least(greatest(e.value, b.p05), b.p95) AS clipped
            FROM events e JOIN b USING (event_type)""")
  )

  /** q134 — PER-GROUP Z-SCORE NORMALIZATION: standardize `events.value`
    * within its event type — the feature-scaling pass that follows
    * q133's clamp in a real pipeline (clip the tails, then center and
    * scale what remains). The cross-engine hazard is the MOMENTS, not
    * the formula: Σv and Σv² in raw doubles drift with partial-agg
    * order, so both are summed EXACTLY in decimal (the `dsum`
    * discipline — value carries 2 decimals, value² exactly 4) and only
    * then cast to double; mean/variance/σ/z then follow the identical
    * IEEE op sequence on both engines (computational formula spelled
    * the same: Σv²/n − μ·μ, floored at 0 for the constant-group edge,
    * sqrt is IEEE-exact), so z-scores hash bit-for-bit with ZERO
    * rounding. Constant groups (σ = 0) emit z = 0 — the total-function
    * rule. One map-side-combined moment pass; the group-cardinality
    * moment table joins back map-side.
    */
  val zscore = Q(
    "q134_zscore",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      val moments = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sv"),
          Q.dsum4(col("value") * col("value")).as("svv"))
        .withColumn("mean", col("sv") / col("n"))
        .withColumn("sd", sqrt(greatest(col("svv") / col("n") - col("mean") * col("mean"),
          lit(0.0))))
      ev.join(moments.select("event_type", "mean", "sd"), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("mean"), col("sd"),
          when(col("sd") === 0.0, lit(0.0))
            .otherwise((col("value") - col("mean")) / col("sd")).as("z"))
    },
    Some(s"""WITH m AS (SELECT event_type, count(*) AS n,
                              ${sqlSum2("value")} AS sv,
                              ${Q.sqlSum4("value * value")} AS svv
                       FROM events GROUP BY event_type),
            b AS (SELECT event_type, sv / n AS mean,
                         sqrt(greatest(svv / n - (sv / n) * (sv / n), 0.0)) AS sd
                  FROM m)
            SELECT e.event_id, e.event_type, e.value, b.mean, b.sd,
                   CASE WHEN b.sd = 0.0 THEN 0.0
                        ELSE (e.value - b.mean) / b.sd END AS z
            FROM events e JOIN b USING (event_type)""")
  )

  /** q157 — MAD ROBUST OUTLIER DETECTION: flag `events.value` rows more
    * than 3 median-absolute-deviations from their type's median — the
    * robust sibling of q134's z-score (one wild value drags a mean AND
    * inflates the σ that is supposed to catch it; the median/MAD pair is
    * immune to exactly the points it is hunting). Both the median and
    * the MAD are rank-SELECTED members (q120's portable-quantile
    * discipline — never interpolated), so every output double is either
    * a stored 2-decimal value or one IEEE subtract/abs/multiply away
    * from two of them ⇒ full hash oracle. Per-type windows follow
    * q133's accepted audit-twin shape (bounded type cardinality here;
    * the 100 TB production twin takes both quantiles from the q49/q126
    * sketch family with this form as its audit).
    */
  val madOutliers = Q(
    "q157_mad_outliers",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      def rankMedian(df: org.apache.spark.sql.DataFrame,
          valueCol: String): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy("event_type").orderBy(col(valueCol), col("event_id"))
        df.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .where(col("rn") === expr("(n + 1) DIV 2"))
          .select(col("event_type"), col(valueCol).as(s"med_$valueCol"))
      }
      val med = rankMedian(ev, "value")
      val dev = ev.join(med, "event_type")
        .withColumn("dev", abs(col("value") - col("med_value")))
      val mad = rankMedian(dev.select(col("event_id"), col("event_type"), col("dev")), "dev")
      dev.join(mad, "event_type")
        .where(col("dev") > lit(3.0) * col("med_dev"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med_value").as("med"), col("med_dev").as("mad"))
    },
    Some("""WITH e AS (SELECT event_id, event_type, "value" FROM events),
            r1 AS (SELECT *,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY "value", event_id) AS rn,
                          count(*) OVER (PARTITION BY event_type) AS n
                   FROM e),
            med AS (SELECT event_type, "value" AS med FROM r1 WHERE rn = (n + 1) // 2),
            dv AS (SELECT e.event_id, e.event_type, e."value", med.med,
                          abs(e."value" - med.med) AS dev
                   FROM e JOIN med USING (event_type)),
            r2 AS (SELECT *,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY dev, event_id) AS rn,
                          count(*) OVER (PARTITION BY event_type) AS n
                   FROM dv),
            mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
            SELECT d.event_id, d.event_type, d."value", d.med, mad.mad
            FROM dv d JOIN mad USING (event_type)
            WHERE d.dev > 3.0 * mad.mad""")
  )

  /** q162 — BAD-RECORD QUARANTINE ROUTING: the error-handling shape every
    * production ingest needs (Spark's `badRecordsPath` / dead-letter
    * queue, as an explicit operator): a staged load with CORRUPTED JSON
    * (`event_id % 13 = 0` props truncated — q146's dirty-staging
    * discipline; an all-clean corpus would prove nothing) flows through
    * `from_json`, and rows whose parse FAILS route to a quarantine
    * partition instead of killing the job or silently nulling into the
    * aggregate. Detection is BY PARSE OUTCOME (null struct), never by
    * the dirt predicate — the oracle routes by the predicate, so hash
    * equality proves the detector catches exactly the corrupt rows (no
    * false positives on clean rows, none missed). One narrow map +
    * one map-side-combined aggregation; quarantine rows keep their
    * grouping key so the DLQ is replayable per type.
    */
  val quarantine = Q(
    "q162_quarantine",
    (s, d) => {
      val dirty = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 13 === 0,
            expr("substring(props, 1, length(props) - 2)"))
            .otherwise(col("props")).as("props"))
      dirty
        // the canonical Spark bad-record idiom: a corrupt-record column
        // in the parse schema — malformed input lands there verbatim
        // (replayable), parsed fields stay null; PERMISSIVE from_json
        // never nulls the whole struct, so struct-null checks miss.
        .withColumn("j", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "k BIGINT, _corrupt_record STRING"),
          java.util.Map.of("mode", "PERMISSIVE",
            "columnNameOfCorruptRecord", "_corrupt_record")))
        .withColumn("kind",
          when(col("j._corrupt_record").isNotNull, lit("quarantine"))
            .otherwise(lit("ok")))
        .groupBy("kind", "event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("j.k")), lit(-1L)).as("sum_k"))
    },
    Some("""WITH routed AS (
              SELECT event_type,
                     CASE WHEN event_id % 13 = 0 THEN 'quarantine' ELSE 'ok' END AS kind,
                     CASE WHEN event_id % 13 <> 0
                          THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
              FROM events)
            SELECT kind, event_type, CAST(count(*) AS BIGINT) AS n,
                   coalesce(CAST(sum(k) AS BIGINT), -1) AS sum_k
            FROM routed GROUP BY kind, event_type""")
  )

  /** q163 — SCD TYPE 2 DIMENSION BUILD: collapse each user's event
    * stream into effective-dated attribute history — the warehouse
    * classic (track WHAT an entity's attribute was WHEN, not just its
    * latest value; q88/q150 upserts keep only "now"). The attribute is
    * the user's event_type; consecutive equal values collapse into one
    * interval (a change row survives where `attr ≠ lag(attr)`), then
    * `valid_to = lead(valid_from)` over the surviving change rows, the
    * open interval sealed with a far-future sentinel (not NULL — the
    * NaT compare hazard) and flagged current. The sentinel is
    * 2262-01-01, NOT the warehouse-traditional 9999-12-31: any hash or
    * compare path that normalizes timestamps to nanoseconds (pandas
    * `datetime64[ns]` tops out at 2262-04-11) overflows on 9999-12-31,
    * so a ns-representable sentinel keeps the result portable across
    * engines while preserving "sorts after every real row" (data ts
    * are 2024-vintage). Two per-user windows
    * (q42's precedent: frames are one user's history, never the corpus);
    * at 100 TB the same shape runs per dimension key after the q147
    * native merge — intervals are a pure per-key sequential recurrence.
    */
  val scd2 = Q(
    "q163_scd2_history",
    (s, d) => {
      val wAll = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val changes = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("attr"), col("ts"), col("event_id"))
        .withColumn("prev_attr", lag(col("attr"), 1).over(wAll))
        .where(col("prev_attr").isNull || col("attr") =!= col("prev_attr"))
      val wChg = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      changes
        .withColumn("valid_to",
          coalesce(lead(col("ts"), 1).over(wChg),
            lit("2262-01-01 00:00:00").cast("timestamp")))
        .select(col("user_id"), col("attr"), col("ts").as("valid_from"),
          col("valid_to"),
          when(col("valid_to") === lit("2262-01-01 00:00:00").cast("timestamp"), 1L)
            .otherwise(0L).as("is_current"))
    },
    Some("""WITH ordered AS (
              SELECT user_id, event_type AS attr, ts, event_id,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev_attr
              FROM events),
            changes AS (SELECT user_id, attr, ts, event_id FROM ordered
                        WHERE prev_attr IS NULL OR attr <> prev_attr),
            iv AS (SELECT user_id, attr, ts AS valid_from,
                          coalesce(lead(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id),
                                   TIMESTAMP '2262-01-01 00:00:00') AS valid_to
                   FROM changes)
            SELECT user_id, attr, valid_from, valid_to,
                   CAST(CASE WHEN valid_to = TIMESTAMP '2262-01-01 00:00:00'
                             THEN 1 ELSE 0 END AS BIGINT) AS is_current
            FROM iv""")
  )

  /** q171 — CSV CORRUPT-RECORD QUARANTINE: q162's twin for the OTHER
    * half of real crawl ingest. q162 catches malformed JSON inside a
    * parsed column; this stage ingests a dirtied CSV FILE — the shape a
    * 100 TB crawl actually lands in — through Spark's PERMISSIVE CSV
    * reader with a `_corrupt_record` column in the read schema. Rows
    * whose numeric field fails to parse (every `event_id % 13 = 0` line
    * gets a poisoned `k`) surface with the VERBATIM line in
    * `_corrupt_record` (the replayable DLQ payload) while their
    * well-formed fields still parse; clean rows parse fully. Detection
    * is BY PARSE OUTCOME — never the dirt predicate — so hash equality
    * against the predicate-routing oracle proves the reader catches
    * exactly the corrupt rows. Same discipline as q162: one narrow
    * stage write, one PERMISSIVE read, one map-side-combined aggregate;
    * the quarantine keeps its grouping key so the DLQ replays per type.
    *
    * Scale: the CSV stage writes with task parallelism (one file per
    * partition, no driver funnel), the read takes an EXPLICIT schema
    * (no inference pass over 100 TB of text), and corrupt handling is
    * per-row inside the scan — a bad line never fails the job (the
    * FAILFAST alternative) nor silently vanishes (DROPMALFORMED).
    */
  val quarantineCsv = Q(
    "q171_csv_quarantine",
    (s, d) => {
      val stage = graft.sources.Sources.scratchLeaf(d, "csv_quarantine_stage")
      val k = floor(col("value") * 100).cast("long").cast("string")
      Tables.events(s, d)
        .select(concat_ws(",",
          col("event_id"), col("event_type"),
          when(col("event_id") % 13 === 0, concat(k, lit("x"))).otherwise(k))
          .as("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(stage)
      s.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, k BIGINT, _corrupt_record STRING"))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(stage)
        .withColumn("kind",
          when(col("_corrupt_record").isNotNull, lit("quarantine"))
            .otherwise(lit("ok")))
        .groupBy("kind", "event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("k")), lit(-1L)).as("sum_k"))
    },
    Some("""WITH routed AS (
              SELECT event_type,
                     CASE WHEN event_id % 13 = 0 THEN 'quarantine' ELSE 'ok' END AS kind,
                     CASE WHEN event_id % 13 <> 0
                          THEN CAST(floor("value" * 100) AS BIGINT) END AS k
              FROM events)
            SELECT kind, event_type, CAST(count(*) AS BIGINT) AS n,
                   coalesce(CAST(sum(k) AS BIGINT), -1) AS sum_k
            FROM routed GROUP BY kind, event_type""")
  )

  /** q178 — VARIANT semi-structured access (Spark 4's answer to string
    * JSON): `parse_json` decodes each `props` payload ONCE into the
    * binary VARIANT encoding, and every subsequent path access
    * (`variant_get`, codegen'd) walks the decoded form — versus q41's
    * `get_json_object`, which re-tokenizes the JSON STRING on every
    * access. At 100 TB the difference compounds twice: n-path
    * extraction parses once instead of n times, and a variant column
    * persisted to parquet shreds into typed subcolumns that scan
    * without any parse at all. The query exercises decode → typed path
    * access → null-safe re-serialization (`to_json(variant)` round-trip
    * fingerprint per type, proving the binary form preserves content,
    * not just the one extracted path). Oracle: DuckDB's JSON type walks
    * the same paths; the md5 fingerprint is over the canonical
    * minified text both engines emit for these single-key objects.
    */
  val variantExtract = Q(
    "q178_variant_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("to_json(v)").as("rt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          md5(concat_ws(",", sort_array(collect_list(col("rt"))))
            .cast("binary")).as("rt_fp")),
    // to_json(variant) emits MINIFIED JSON; the oracle rebuilds the
    // same canonical text from the extracted value (DuckDB's JSON cast
    // preserves the source's spacing, so it can't be used directly)
    Some("""WITH e AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                     '{"k":' || json_extract_string(props, '$.k') || '}' AS rt
              FROM events)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k, max(k) AS max_k,
                   md5(string_agg(rt, ',' ORDER BY rt)) AS rt_fp
            FROM e GROUP BY event_type""")
  )

  /** q184 — VARIANT SHREDDING to parquet, the follow-through q178 stops
    * short of: the parsed variant column is MATERIALIZED to a parquet
    * store with write-shredding enabled — the writer infers a typed
    * shredding schema and lays each path down as a typed subcolumn
    * (`v.typed_value.k.typed_value: INT64` in the footer) next to the
    * binary fallback — and the read-back path access runs with
    * `pushVariantIntoScan`, so the scan's ReadSchema is the TYPED
    * struct (`v:struct<0:bigint>`): zero parse at scan time, plus
    * ordinary parquet column pruning/min-max stats on the shredded
    * column. This is the full parse-ONCE story: q178 proves
    * parse-once-per-row in memory; this proves parse-NEVER-again once
    * the store is written — the difference between re-decoding 100 TB
    * of JSON per query and scanning an INT64 column.
    *
    * Per-query conf isolation via `newSession` (the q92 discipline):
    * shredded write + shredded read + scan pushdown are session confs,
    * and the returned DataFrame carries its session, so Verify/Bench
    * execute under them. Output ≡ q178 exactly (same per-type
    * aggregates + to_json round-trip fingerprint — proving the
    * shredded store reconstructs the same canonical text), so the
    * oracle is q178's verbatim and `VariantShredSpec` additionally
    * pins (a) the typed ReadSchema with pushdown on, (b) the binary
    * variant ReadSchema with pushdown off (same store — the
    * counterfactual), and (c) q184 ≡ q178 row-for-row.
    */
  val variantShred = Q(
    "q184_variant_shred_store",
    (s0, d) => {
      val s = child(s0, "spark.sql.variant.writeShredding.enabled" -> "true",
        "spark.sql.variant.inferShreddingSchema" -> "true",
        "spark.sql.variant.allowReadingShredded" -> "true",
        "spark.sql.variant.pushVariantIntoScan" -> "true")
      graft.sources.Sources.write(Tables.events(s, d)
          .select(col("event_type"), parse_json(col("props")).as("v")),
        graft.sources.Sources.scratchLeaf(d, "variant_store")).read(s)
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("to_json(v)").as("rt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          md5(concat_ws(",", sort_array(collect_list(col("rt"))))
            .cast("binary")).as("rt_fp"))
    },
    variantExtract.oracle // identical semantics through the shredded store
  )

  /** q147 — the NATIVE two-table as-of join
    * ([[graft.plans.AsOfJoinExec]]): error events paired with the latest
    * click at-or-before them per user, planned as a first-class Catalyst
    * physical operator (custom LogicalPlan → Strategy → SparkPlan, the
    * last rung of the extension ladder — see the operator's scaladoc for
    * why the window composition under-expresses this). Semantically
    * IDENTICAL to q42's running-max window form — `AsOfJoinSpec` pins
    * q147 ≡ q42 row-for-row — but the plan is two hash exchanges + two
    * sorts + one O(1)-state merge, no Window node, which is the shape
    * that survives a per-user history too long to window. Oracle: DuckDB
    * plans the same semantics with its own native ASOF LEFT JOIN — two
    * ENGINES' native as-of implementations agreeing row-for-row.
    */
  val asofNative = Q(
    "q147_asof_native",
    (s, d) => {
      val ses = graft.plans.AsOfJoin.session(s)
      val ev = Tables.events(ses, d)
      val errors = ev.where(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      graft.plans.AsOfJoin(errors, clicks, "user_id", "ts", "c_user_id", "c_ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("c_ts"), lit("1970-01-01 00:00:00").cast("timestamp"))
            .as("prev_click_ts"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'error'),
            c AS (SELECT user_id AS c_user_id, ts AS c_ts FROM events
                  WHERE event_type = 'click')
            SELECT e.event_id, e.user_id, e.ts,
                   coalesce(c.c_ts, TIMESTAMP '1970-01-01 00:00:00') AS prev_click_ts
            FROM e ASOF LEFT JOIN c
              ON e.user_id = c.c_user_id AND e.ts >= c.c_ts""")
  )

  /** q192 — COLLATED grouping (Spark 4 collations): case-insensitive
    * semantics pushed into the ENGINE instead of wrapped around every
    * expression. The corpus's language tags are synthesized into three
    * case spellings per value (closed-form from doc_id — the q123 dirty
    * -input reconstruction move), then grouped under `UTF8_LCASE`: the
    * engine's grouping keys, equality, and codegen'd comparisons are
    * collation-aware, where the pre-collation idiom (`lower()` around
    * every key) costs an allocation per row per expression and is
    * forgettable — one missed wrap silently splits groups. Each group
    * also counts its DISTINCT raw spellings under the column's default
    * binary collation, pinning that the two collations coexist in one
    * aggregate. Output keys are projected through `lower()` back to a
    * binary-collated string, because a collated group's representative
    * (which raw spelling survives) is engine-internal — the q123
    * determinism discipline.
    *
    * Scale shape: one map-side-combined aggregation, same as any
    * groupBy — collation changes the comparator, not the plan. (The
    * trade to know at 100 TB: collated columns currently opt out of
    * parquet min/max pushdown, so collate at the AGGREGATION, keep
    * storage binary — exactly what this query does.)
    */
  val collatedGroup = Q(
    "q192_collated_group",
    (s, d) => {
      val spellings = Tables.documents(s, d).select(col("doc_id"), expr(
        """CASE WHEN doc_id % 3 = 0 THEN upper(lang)
                WHEN doc_id % 3 = 1 THEN concat(upper(substring(lang, 1, 1)), substring(lang, 2))
                ELSE lang END""").as("lang_raw"))
      spellings
        .groupBy(expr("collate(lang_raw, 'UTF8_LCASE')").as("k"))
        .agg(count(lit(1)).as("n"), countDistinct(col("lang_raw")).as("n_spellings"))
        .select(expr("collate(lower(k), 'UTF8_BINARY')").as("lang"),
          col("n"), col("n_spellings"))
    },
    Some("""WITH s AS (
              SELECT CASE WHEN doc_id % 3 = 0 THEN upper(lang)
                          WHEN doc_id % 3 = 1 THEN upper(substr(lang, 1, 1)) || substr(lang, 2)
                          ELSE lang END AS lang_raw
              FROM documents)
            SELECT lower(lang_raw) AS lang, count(*) AS n,
                   CAST(count(DISTINCT lang_raw) AS BIGINT) AS n_spellings
            FROM s GROUP BY lower(lang_raw)""")
  )

  /** q193 — LATERAL correlated subquery (SQL:1999 LATERAL, Spark 3.2+):
    * per-nation top-2 customers by balance, written as "for each nation,
    * run this parameterized subquery" — the row-wise formulation every
    * analyst reaches for, and the one a naive engine executes as N
    * re-scans of customer. Catalyst DECORRELATES it: the correlated
    * LIMIT-under-ORDER becomes a partitioned rank filter over ONE scan
    * of customer joined back to nation — the same physical work as
    * q11's explicit window top-k, derived from the declarative form.
    * That equivalence is the point: LATERAL is the programmable face
    * (arbitrary correlated logic per outer row), the window rewrite is
    * the scale path, and the engine owns the translation. Ties broken
    * by custkey so both engines pick identical rows; nations with no
    * customers drop (inner lateral — the CROSS APPLY contract).
    *
    * Scale shape: one shuffle of customer on nationkey for the rank,
    * one broadcast-able join to the 25-row nation side; no per-row
    * re-execution anywhere (`.explain` shows a single customer scan).
    */
  val lateralTopK = Q(
    "q193_lateral_topk",
    (s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("nation_lat")
      Tables.customer(s, d).createOrReplaceTempView("customer_lat")
      s.sql("""SELECT n.n_nationkey, n.n_name, x.c_custkey, x.c_name, x.c_acctbal
               FROM nation_lat n,
               LATERAL (SELECT c_custkey, c_name, c_acctbal
                        FROM customer_lat c
                        WHERE c.c_nationkey = n.n_nationkey
                        ORDER BY c_acctbal DESC, c_custkey LIMIT 2) x""")
    },
    Some("""SELECT n.n_nationkey, n.n_name, x.c_custkey, x.c_name, x.c_acctbal
            FROM nation n,
            LATERAL (SELECT c_custkey, c_name, c_acctbal
                     FROM customer c
                     WHERE c.c_nationkey = n.n_nationkey
                     ORDER BY c_acctbal DESC, c_custkey LIMIT 2) x""")
  )

  /** q196 — NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): the
    * join every merge-on-natural-key pipeline eventually needs, because
    * real keys go NULL (here: an unattributed-user bucket synthesized
    * by `nullif`, the q123 closed-form move) and standard SQL equality
    * silently DROPS the null×null match — the clicks and purchases of
    * the unattributed bucket would vanish from the reconciliation with
    * `=`, no error, just missing rows. `<=>` makes NULL a first-class
    * key value. Critically for scale, Catalyst plans EqualNullSafe as a
    * HASH-JOIN KEY (coalescing the null into the key domain), not as a
    * residual nested-loop predicate — the null bucket shuffles and
    * matches like any other key. The null group is also the classic
    * skew hot spot at 100 TB (every unattributed row shares one key);
    * q128's salting is the cure when it grows hot — noted, not needed
    * at this cardinality.
    */
  val nullSafeJoin = Q(
    "q196_null_safe_join",
    (s, d) => {
      def side(tpe: String, outn: String) =
        Tables.events(s, d).where(col("event_type") === tpe)
          .select(nullif(col("user_id") % 50, lit(0)).as("k"))
          .groupBy("k").agg(count(lit(1)).as(outn))
      val clicks = side("click", "n_clicks")
      val buys = side("purchase", "n_buys")
      clicks.join(buys, clicks("k") <=> buys("k"), "inner")
        .select(clicks("k").as("k"), col("n_clicks"), col("n_buys"))
    },
    Some("""WITH c AS (SELECT nullif(user_id % 50, 0) AS k, count(*) AS n_clicks
                       FROM events WHERE event_type = 'click' GROUP BY 1),
                 p AS (SELECT nullif(user_id % 50, 0) AS k, count(*) AS n_buys
                       FROM events WHERE event_type = 'purchase' GROUP BY 1)
            SELECT c.k, c.n_clicks, p.n_buys
            FROM c JOIN p ON c.k IS NOT DISTINCT FROM p.k""")
  )

  /** q197 — SCHEMA-DRIFT UNION (`unionByName` + allowMissingColumns):
    * merging corpus shards whose schemas drifted apart — the situation
    * every long-lived 100 TB dataset is in (an early shard lacks the
    * `quality` column a later pipeline added; a later shard dropped
    * `lang`). Positional UNION would silently pair `lang` with `source`
    * (same type, wrong meaning — corrupt rows, no error); `unionByName`
    * aligns columns BY NAME and `allowMissingColumns` null-fills what a
    * shard never had — the read-time contract schema evolution (q102)
    * provides at the storage layer, applied at the relational layer.
    * Shards are synthesized disjointly from documents (q123 closed-form
    * discipline); DuckDB's `UNION ALL BY NAME` is the oracle twin.
    *
    * Scale shape: a union is a no-shuffle plan concatenation — each
    * shard scans with its own pruned schema, null columns materialize
    * as constants.
    */
  val unionByNameDrift = Q(
    "q197_union_by_name",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val early = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val late = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars").cast("double") / lit(100.0)).as("quality"))
      early.unionByName(late, allowMissingColumns = true)
    },
    Some("""SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
            UNION ALL BY NAME
            SELECT doc_id, source, n_chars,
                   CAST(n_chars AS DOUBLE) / CAST(100.0 AS DOUBLE) AS quality
            FROM documents WHERE doc_id % 2 = 1""")
  )

  /** q198 — ERROR-SAFE CASTS (`try_cast`): malformed-value tolerance as
    * an EXPRESSION, not a crashed job. Under ANSI semantics (Spark 4's
    * default) a single unparseable string kills the task — at 100 TB
    * "one bad row aborts the 6-hour ingest" is not a policy anyone
    * wants, and pre-filtering with regexes re-implements the parser,
    * badly. `try_cast` yields NULL exactly where the strict cast would
    * throw, making bad cells COUNTABLE (the per-shape audit q162's
    * row-level quarantine complements at cell level). Dirty inputs are
    * synthesized closed-form in five shapes — clean int, decimal,
    * garbage prefix, empty, whitespace — so the oracle sees identical
    * bytes. Cross-engine lesson the fixture surfaces: Spark's ANSI
    * integer grammar is STRICT ('1.25' → BIGINT is NULL) while DuckDB's
    * TRY_CAST ROUNDS ('1.25' → 1), so the oracle guards its BIGINT leg
    * with the integer-literal regexp — the portable spelling of Spark's
    * rule.
    */
  val tryCast = Q(
    "q198_try_cast",
    (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), expr(
        """CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id AS STRING)
                WHEN doc_id % 5 = 1 THEN concat(CAST(doc_id AS STRING), '.25')
                WHEN doc_id % 5 = 2 THEN concat('x', CAST(doc_id AS STRING))
                WHEN doc_id % 5 = 3 THEN ''
                ELSE '  ' END""").as("raw"))
        .select(col("doc_id"), col("raw"),
          expr("try_cast(raw AS BIGINT)").as("as_int"),
          expr("try_cast(raw AS DOUBLE)").as("as_double"),
          expr("try_cast(raw AS BIGINT) IS NULL AND try_cast(raw AS DOUBLE) IS NULL")
            .as("unparseable")),
    Some("""WITH r AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id AS VARCHAR)
                          WHEN doc_id % 5 = 1 THEN CAST(doc_id AS VARCHAR) || '.25'
                          WHEN doc_id % 5 = 2 THEN 'x' || CAST(doc_id AS VARCHAR)
                          WHEN doc_id % 5 = 3 THEN ''
                          ELSE '  ' END AS raw
              FROM documents),
            c AS (
              SELECT doc_id, raw,
                     CASE WHEN regexp_matches(raw, '^\s*[+-]?\d+\s*$')
                          THEN TRY_CAST(raw AS BIGINT) END AS as_int,
                     TRY_CAST(raw AS DOUBLE) AS as_double
              FROM r)
            SELECT doc_id, raw, as_int, as_double,
                   (as_int IS NULL AND as_double IS NULL) AS unparseable
            FROM c""")
  )

  /** q201 — AQE SKEW-JOIN: the ENGINE's runtime cure for the q128
    * problem (a join key with a hot value), completing the pair: q128
    * is the MANUAL salt — schema intrusion, a fixed fan-out chosen at
    * write time — while AQE watches the ACTUAL map output sizes at the
    * shuffle boundary and SPLITS oversized partitions at runtime,
    * duplicating the matching build side, with zero query rewrite. The
    * skew is synthesized closed-form (90 % of events collapse onto one
    * key — the q123 reconstruction move; the natural event_type key is
    * near-uniform, which is exactly why production skew surprises
    * people: it lives in DERIVED keys like "unattributed bucket" or
    * "default tenant"). Thresholds are lowered per-query (`newSession`
    * isolation, q92/q128 discipline) so the hot partition qualifies at
    * test scale — at 100 TB the DEFAULTS (256 MB) do the same job. The
    * cure must be invisible to semantics — full closed-form oracle —
    * and `SkewSpec` pins the runtime marker (`skew=true` on the
    * executed sort-merge join) plus row-equality against the same join
    * under default planning.
    *
    * Two engine preconditions this query documents (probed, not
    * guessed): (1) the skewed side's shuffle must feed the JOIN
    * directly — an aggregate between shuffle and join defeats
    * `OptimizeSkewedJoin`'s pattern (partitions can't be replayed
    * through an agg), which is why the dim here is an independent
    * range, not a groupBy of the fact; (2) split units are MAP-OUTPUT
    * groups, so a single-mapper stage (one local parquet file = one
    * scan task) can never be split — the `repartition(8)` stands in
    * for the thousands of scan tasks a real fact table has; (3) a
    * DISTINCT aggregate above the join makes the join's output
    * partitioning load-bearing and forecloses the split — the rollup
    * here uses plain count/sum for exactly that reason.
    */
  val aqeSkewJoin = Q(
    "q201_aqe_skew_join",
    (s, d) => {
      val iso = child(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB")
      // fixed-size fixture (~400k fact rows at every sf): the demo
      // targets the MECHANISM, so its cost should not scale with the
      // corpus; the 1-row count collect is metadata-plane
      val nEvents = Tables.events(iso, d).count()
      val mult = math.max(1L, math.ceil(400000.0 / nEvents).toLong)
      val fact = Tables.events(iso, d)
        .select(col("event_id"),
          explode(expr(s"sequence(0L, ${mult - 1}L)")).as("rep"))
        .select((col("event_id") * mult + col("rep")).as("rid"))
        .select(col("rid"),
          expr("CASE WHEN rid % 10 < 9 THEN 0 ELSE rid % 1000 END").as("k"))
        .repartition(8)
      val dim = iso.range(1000).select(col("id").as("k"),
        concat(lit("seg_"), (col("id") % 7).cast("string")).as("seg"))
      fact.join(dim, Seq("k"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
    },
    Some("""WITH m AS (SELECT CAST(ceil(400000.0 / count(*)) AS BIGINT) AS mult
                       FROM events),
                 reps AS (SELECT unnest(generate_series(0, (SELECT mult FROM m) - 1)) AS rep),
                 fk AS (SELECT CASE WHEN rid % 10 < 9 THEN 0 ELSE rid % 1000 END AS k
                        FROM (SELECT e.event_id * (SELECT mult FROM m) + r.rep AS rid
                              FROM events e CROSS JOIN reps r)),
                 dim AS (SELECT k, 'seg_' || CAST(k % 7 AS VARCHAR) AS seg
                         FROM (SELECT unnest(generate_series(0, 999)) AS k))
            SELECT seg, count(*) AS n, CAST(sum(k) AS BIGINT) AS k_sum
            FROM fk JOIN dim USING (k) GROUP BY seg""")
  )

  /** q204 — SQL UDFs (`CREATE FUNCTION … RETURN expr`, Spark 4): the
    * extensibility tier BETWEEN built-ins and q20's Scala UDFs. A Scala
    * UDF is a black box — Catalyst can't see through it, so codegen
    * stops, null-propagation is manual, and nothing relocates through
    * it; a SQL UDF is a NAMED, CATALOGED expression that the analyzer
    * INLINES into the plan, so the optimizer treats it exactly like
    * hand-written SQL (whole-stage codegen, constant folding, pushdown
    * through it all still apply — `SqlUdfSpec` pins "no ScalaUDF node
    * anywhere"). That makes it the right home for shared BUSINESS
    * definitions — here the corpus's token-count and quality-score
    * rules, declared once and reused by name in a grouped report (the
    * rule-duplication q52/q86 solve with shared Scala fragments, solved
    * at the SQL surface). Aggregates avoid cross-engine double-sum
    * hazards by reporting order statistics (min/max) and a threshold
    * count instead of a mean (dsum discipline by construction).
    */
  val sqlUdf = Q(
    "q204_sql_udf",
    (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("docs_udf")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION tok_count(text STRING)
               RETURNS BIGINT RETURN size(split(text, ' '))""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION doc_quality(n_tokens BIGINT, stop_hits BIGINT)
               RETURNS DOUBLE
               RETURN CASE WHEN n_tokens < 20 THEN 0.0
                           ELSE 1.0 - CAST(stop_hits AS DOUBLE) / n_tokens END""")
      s.sql("""SELECT lang,
                      count(*) AS n_docs,
                      CAST(sum(CASE WHEN doc_quality(tok_count(text),
                               size(filter(split(text, ' '), w -> w IN ('the', 'a')))) >= 0.7
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
                      min(doc_quality(tok_count(text),
                          size(filter(split(text, ' '), w -> w IN ('the', 'a'))))) AS min_q,
                      max(doc_quality(tok_count(text),
                          size(filter(split(text, ' '), w -> w IN ('the', 'a'))))) AS max_q
               FROM docs_udf GROUP BY lang""")
    },
    Some("""WITH q AS (
              SELECT lang,
                     CASE WHEN len(string_split(text, ' ')) < 20 THEN 0.0
                          ELSE 1.0 - CAST(len(list_filter(string_split(text, ' '),
                                               w -> w IN ('the', 'a'))) AS DOUBLE)
                                     / len(string_split(text, ' ')) END AS quality
              FROM documents)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(CASE WHEN quality >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
                   min(quality) AS min_q, max(quality) AS max_q
            FROM q GROUP BY lang""")
  )

  /** q207 — MAP higher-order functions (`map_from_entries` /
    * `map_zip_with` / `map_filter` / `map_entries`): the per-entity
    * feature-map shape every ML pipeline carries (user → {event_type →
    * stats}) manipulated WITHOUT exploding back to rows — at 100 TB an
    * explode-transform-reaggregate of a map column pays two extra
    * shuffles; the map HOFs run inside the row, inside codegen. Per
    * user: counts and exact cents are zipped into one map
    * (`map_zip_with`), thinned to the "busy" types (`map_filter` —
    * entries with n ≥ 2), and serialized by SORTED key for comparison
    * (map iteration order is engine-internal — LIST/ARRAY gotcha
    * applied to maps: `array_sort(map_entries(…))` then join, and the
    * serialized values are all integers, never doubles, so cross-engine
    * number formatting can't drift). DuckDB has no map_zip_with — the
    * oracle derives the same strings from the grouped relation
    * directly, which is the point: the HOFs must equal the relational
    * ground truth. Empty maps serialize as '' on both sides (FILTER +
    * coalesce), keeping every user present.
    */
  val mapFunctions = Q(
    "q207_map_functions",
    (s, d) => {
      val g = Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)").as("cents"))
      g.groupBy("user_id")
        .agg(
          map_from_entries(collect_list(struct(col("event_type"), col("n")))).as("m_n"),
          map_from_entries(collect_list(struct(col("event_type"), col("cents")))).as("m_c"))
        .select(col("user_id"), expr(
          """array_join(
               transform(
                 array_sort(map_entries(
                   map_filter(
                     map_zip_with(m_n, m_c, (k, n, c) -> concat(n, '/', c)),
                     (k, v) -> CAST(split(v, '/')[0] AS BIGINT) >= 2))),
                 e -> concat(e.key, '=', e.value)), ',')""").as("busy_types"))
    },
    Some("""WITH g AS (
              SELECT user_id, event_type, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
              FROM events GROUP BY user_id, event_type)
            SELECT user_id,
                   coalesce(string_agg(event_type || '=' || n || '/' || cents, ','
                                       ORDER BY event_type)
                            FILTER (WHERE n >= 2), '') AS busy_types
            FROM g GROUP BY user_id""")
  )

  /** q209 — JOIN-STRATEGY HINTS: the optimizer override surface
    * (the BROADCAST / MERGE / SHUFFLE_HASH hint comments), run as one query
    * executing the SAME dimension join under all three strategies and
    * proving they agree. Hints matter at 100 TB precisely because the
    * optimizer's size estimates sometimes don't: a dim that statistics
    * call "big" (post-filter it isn't) misses its broadcast; a build
    * side that stats call "small" (skewed it isn't) OOMs a hash join —
    * the hint is the operator's manual override, and the CONTRACT is
    * that it changes the plan, never the rows. Each leg aggregates its
    * join result (strategy, rows, exact revenue) so the union is
    * 3 rows; the oracle computes one plain join and replicates it per
    * strategy label. `JoinHintSpec` pins each hint to its physical
    * operator (BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin).
    */
  val joinHints = Q(
    "q209_join_hints",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_h")
      Tables.customer(s, d).createOrReplaceTempView("customer_h")
      def leg(hint: String) =
        s.sql(s"""SELECT /*+ $hint(c) */ '$hint' AS strategy,
                         count(*) AS n_orders,
                         ${Q.sqlSum2("o.o_totalprice")} AS revenue
                  FROM orders_h o JOIN customer_h c ON o.o_custkey = c.c_custkey
                  WHERE c.c_mktsegment = 'BUILDING'""")
      leg("BROADCAST").unionAll(leg("MERGE")).unionAll(leg("SHUFFLE_HASH"))
    },
    Some(s"""WITH j AS (
               SELECT count(*) AS n_orders, ${Q.sqlSum2("o.o_totalprice")} AS revenue
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               WHERE c.c_mktsegment = 'BUILDING')
             SELECT 'BROADCAST' AS strategy, n_orders, revenue FROM j
             UNION ALL SELECT 'MERGE', n_orders, revenue FROM j
             UNION ALL SELECT 'SHUFFLE_HASH', n_orders, revenue FROM j""")
  )

  /** q210 — CALENDAR WINDOWS: monthly rollups via `date_trunc`, the
    * bucketing `window()` structurally cannot do — fixed-duration
    * windows don't know February from July, and a "30-day month"
    * mis-buckets every month boundary thereafter. Reporting pipelines
    * are calendar-first (bills, SLAs, dashboards all cut at month
    * boundaries), so the engine must bucket by the calendar and
    * normalize by TRUE month length (`last_day` — 28/29/30/31), which
    * is also the classic subtle bug this query pins: a per-day rate
    * computed with /30 instead of the real length misstates February
    * by 7 %. Division order is identical on both engines (exact decimal
    * revenue cast to double, divided by the true day count), so the
    * rate column is bit-exact. One map-side-combined aggregation —
    * calendar bucketing changes the key function, not the plan.
    */
  val calendarWindows = Q(
    "q210_calendar_windows",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("revenue"))
        .select(col("month"),
          dayofmonth(last_day(col("month"))).cast("long").as("days_in_month"),
          col("n_orders"), col("revenue"),
          (col("revenue") / dayofmonth(last_day(col("month"))).cast("double"))
            .as("revenue_per_day")),
    Some(s"""WITH m AS (
               SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                      count(*) AS n_orders,
                      ${sqlSum2("o_totalprice")} AS revenue
               FROM orders GROUP BY 1)
             SELECT month,
                    CAST(date_part('day', last_day(month)) AS BIGINT) AS days_in_month,
                    n_orders, revenue,
                    revenue / CAST(date_part('day', last_day(month)) AS DOUBLE)
                      AS revenue_per_day
             FROM m""")
  )

  /** q211 — CACHED RELATION REUSE (`persist` / `unpersist`): one
    * filtered dimension pinned in executor storage and consumed by TWO
    * report cuts — the BI-layer shape where a dashboard's dozen queries
    * share the same hot dim and re-deriving it per query re-pays the
    * scan+filter each time; `persist` trades memory for that repeat
    * work (and `CacheSpec` pins that the second consumer really reads
    * `InMemoryTableScan`, not the parquet). The discipline this query
    * also demonstrates is the LIFECYCLE: the cache is released in the
    * same scope that took it (the round-9 ADVICE class — an
    * unpersisted cache is a storage-memory leak across a 200-query
    * bench), which forces the bounded result collect before unpersist
    * (two aggregates over ≤ 30 group rows — metadata-plane, the q172
    * collect class). Caching must be invisible to results: closed-form
    * oracle over the same two cuts.
    */
  val cachedDim = Q(
    "q211_cached_dim",
    (s, d) => {
      import s.implicits._
      val dim = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_nationkey")
        .persist()
      try {
        val joined = Tables.orders(s, d)
          .join(dim, col("o_custkey") === col("c_custkey"))
        def cut(tag: String, key: org.apache.spark.sql.Column) =
          joined.groupBy(key.as("key"))
            .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("revenue"))
            .select(lit(tag).as("cut"), col("key"), col("n_orders"), col("revenue"))
        val rows = cut("by_nation", col("c_nationkey").cast("string"))
          .unionAll(cut("by_priority", col("o_orderpriority")))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        rows.toSeq.toDF("cut", "key", "n_orders", "revenue")
      } finally { dim.unpersist(); () }
    },
    Some(s"""WITH j AS (
               SELECT o.o_totalprice, o.o_orderpriority, c.c_nationkey
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               WHERE c.c_mktsegment = 'BUILDING')
             SELECT 'by_nation' AS cut, CAST(c_nationkey AS VARCHAR) AS key,
                    count(*) AS n_orders, ${sqlSum2("o_totalprice")} AS revenue
             FROM j GROUP BY 2
             UNION ALL
             SELECT 'by_priority', o_orderpriority,
                    count(*), ${sqlSum2("o_totalprice")}
             FROM j GROUP BY 2""")
  )

  /** q212 — ORDERED-SET AGGREGATES (`WITHIN GROUP`): `percentile_disc`
    * and `listagg`, the two SQL:2016 ordered-set shapes Spark gained in
    * 4.0. `percentile_disc` returns an ACTUAL data value (smallest
    * value whose cume_dist ≥ p) where q40's percentile_cont
    * interpolates — the difference that matters when the column is a
    * latency you want to point at a real request, or a categorical
    * code where interpolation is meaningless. DuckDB's quantile_disc
    * uses a different index formula (floor((n−1)·p) — diverges from
    * the SQL-standard definition whenever n·p lands between the two),
    * so the oracle REPLAYS the standard definition literally: min
    * value with cume_dist ≥ p via a window + FILTER — the engine
    * feature checked against its own spec text, not another engine's
    * reading of it. `listagg DISTINCT … WITHIN GROUP` rosters each
    * type's active users-per-day list deterministically (explicit
    * order, distinct, bounded group). One shuffle each, map-side
    * partials for the percentiles.
    */
  val orderedSetAggs = Q(
    "q212_ordered_set_aggs",
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_osa")
      s.sql("""SELECT event_type,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50_disc,
                      percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90_disc,
                      listagg(DISTINCT CAST(user_id % 7 AS STRING), ',')
                        WITHIN GROUP (ORDER BY CAST(user_id % 7 AS STRING)) AS cohort_roster
               FROM events_osa GROUP BY event_type""")
    },
    Some("""WITH r AS (
              SELECT event_type, value,
                     cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
              FROM events),
            p AS (
              SELECT event_type,
                     min(value) FILTER (WHERE cd >= 0.5) AS p50_disc,
                     min(value) FILTER (WHERE cd >= 0.9) AS p90_disc
              FROM r GROUP BY event_type),
            l AS (
              SELECT event_type,
                     string_agg(DISTINCT CAST(user_id % 7 AS VARCHAR), ','
                                ORDER BY CAST(user_id % 7 AS VARCHAR)) AS cohort_roster
              FROM events GROUP BY event_type)
            SELECT p.event_type, p.p50_disc, p.p90_disc, l.cohort_roster
            FROM p JOIN l USING (event_type)""")
  )

  /** q213 — LINEAR-REGRESSION AGGREGATES (`regr_slope` / `regr_intercept` /
    * `regr_r2` / `regr_count` / `regr_avgx` / `regr_avgy`): the SQL:2003
    * bivariate family, fitting a per-group least-squares trend in ONE
    * aggregation pass — the 100 TB shape for "is this metric drifting per
    * segment" where collecting points to a driver-side fitter is a
    * non-starter and a window-based fit would force a per-group sort.
    * All six are algebraic (sums of x, y, x², xy) so Spark computes them
    * with map-side partials and a single shuffle on the group key —
    * exactly q53's stats-agg plan shape. x is an exact integer day offset
    * (`datediff` from a pinned epoch, cast to double) so both engines
    * regress over bit-identical inputs; the one-pass moment algorithms
    * still differ (Welford vs sum-of-squares), so outputs are rounded
    * (slope/r2/avg to 6, intercept to 4 — its magnitude is the y scale,
    * the q53 discipline scaled per column). `regr_count` pins the
    * pair-exclusion rule (rows where either side is NULL drop out).
    */
  val regrTrend = Q(
    "q213_regr_trend",
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_regr")
      s.sql("""WITH e AS (SELECT event_type, value,
                            CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS DOUBLE) AS x
                          FROM events_regr)
               SELECT event_type,
                      round(regr_slope(value, x), 6) AS slope,
                      round(regr_intercept(value, x), 4) AS icept,
                      round(regr_r2(value, x), 6) AS r2,
                      regr_count(value, x) AS n,
                      round(regr_avgx(value, x), 6) AS avgx,
                      round(regr_avgy(value, x), 6) AS avgy
               FROM e GROUP BY event_type""")
    },
    Some("""WITH e AS (SELECT event_type, value,
                         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x
                       FROM events)
            SELECT event_type,
                   round(regr_slope(value, x), 6) AS slope,
                   round(regr_intercept(value, x), 4) AS icept,
                   round(regr_r2(value, x), 6) AS r2,
                   CAST(regr_count(value, x) AS BIGINT) AS n,
                   round(regr_avgx(value, x), 6) AS avgx,
                   round(regr_avgy(value, x), 6) AS avgy
            FROM e GROUP BY event_type""")
  )

  /** q214 — DISTRIBUTION-DRIFT AUDIT (population stability index): the
    * dataset-versioning gate a training pipeline runs before accepting a
    * new crawl slice — histogram the metric in the incumbent window and
    * the candidate window under ONE shared binning, then score the shift
    * as PSI = Σ (pₐ−p_b)·ln(pₐ/p_b). Binning is explicit integer floor
    * arithmetic with literal constants (not `width_bucket`, whose
    * lo/hi/step float internals the two engines may associate
    * differently) so bucket membership is bit-exact on both sides; the
    * ε-smoothed shares ((n+0.5)/(N+0.5·k), Laplace) keep empty-on-one-
    * side buckets finite — the production guard, since a brand-new value
    * range appearing only in the candidate is exactly what PSI must
    * flag, not NaN on. Two shuffles total: one groupBy over the derived
    * bucket (map-side combined), one 10-row window for the total — the
    * per-row pass never materializes more than k = 10 bucket rows, so
    * the same query audits a 100 TB slice with the heavy lifting in the
    * first aggregate. The empty-OVER() single-partition window is over
    * those 10 rows only (metadata-plane, the q172 class).
    */
  val psiDrift = Q(
    "q214_psi_drift",
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_psi")
      s.sql("""WITH b AS (SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                      THEN 'a' ELSE 'b' END AS half,
                                 CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bucket
                          FROM events_psi),
               c AS (SELECT bucket,
                            count(*) FILTER (WHERE half = 'a') AS na,
                            count(*) FILTER (WHERE half = 'b') AS nb
                     FROM b GROUP BY bucket),
               t AS (SELECT sum(na) AS ta, sum(nb) AS tb, count(*) AS nbuckets FROM c),
               s AS (SELECT bucket, na, nb,
                            (na + 0.5) / (ta + 0.5 * nbuckets) AS pa,
                            (nb + 0.5) / (tb + 0.5 * nbuckets) AS pb
                     FROM c CROSS JOIN t)
               SELECT bucket, na, nb,
                      round((pa - pb) * ln(pa / pb), 6) AS contrib,
                      round(sum((pa - pb) * ln(pa / pb)) OVER (), 6) AS psi_total
               FROM s""")
    },
    Some("""WITH b AS (SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                   THEN 'a' ELSE 'b' END AS half,
                              CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bucket
                       FROM events),
            c AS (SELECT bucket,
                         count(*) FILTER (WHERE half = 'a') AS na,
                         count(*) FILTER (WHERE half = 'b') AS nb
                  FROM b GROUP BY bucket),
            t AS (SELECT sum(na) AS ta, sum(nb) AS tb, count(*) AS nbuckets FROM c),
            s AS (SELECT bucket, na, nb,
                         (na + 0.5) / (ta + 0.5 * nbuckets) AS pa,
                         (nb + 0.5) / (tb + 0.5 * nbuckets) AS pb
                  FROM c CROSS JOIN t)
            SELECT bucket, na, nb,
                   round((pa - pb) * ln(pa / pb), 6) AS contrib,
                   round(sum((pa - pb) * ln(pa / pb)) OVER (), 6) AS psi_total
            FROM s""")
  )

  /** q215 — 2-D SKYLINE (Pareto front): parts no other part beats on
    * BOTH price and size — the multi-objective shortlist shape (cheapest
    * tradeoff curve, best quality-vs-cost corpus slice). The naive
    * formulation is an O(n²) dominance anti-join — the oracle runs
    * exactly that (NOT EXISTS) as ground truth — but the engine plan is
    * the O(n log n) sort-based algorithm: collapse to per-price minimum
    * size (one map-side-combined groupBy — the only pass over the full
    * data), then a running strict-prefix minimum over the DISTINCT-price
    * table ordered by price (rows frame ending at -1 = strictly
    * cheaper, since each row is a distinct price), and a part survives
    * iff it holds its price group's min size AND that min undercuts
    * every cheaper group's. Same-price-same-size duplicates all survive
    * (dominance requires a strict edge), which the `=` on group-min
    * preserves. The single-partition window runs over distinct prices
    * only — cardinality ≪ rows at 100 TB (and the sort could be
    * range-partitioned with a carried-prefix pass, the q98 two-phase
    * discipline, if the price domain itself ever got huge). Join back
    * is on the exact double read from parquet — both sides the same
    * column, so equality is bit-safe.
    */
  val skyline = Q(
    "q215_skyline",
    (s, d) => {
      val part = Tables.part(s, d)
      val pg = part.groupBy("p_retailprice").agg(min(col("p_size")).as("min_size"))
      val w = Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
      val pm = pg.withColumn("prev_min", min(col("min_size")).over(w))
      part.join(pm, "p_retailprice")
        .where(col("p_size") === col("min_size") &&
          (col("prev_min").isNull || col("min_size") < col("prev_min")))
        .select("p_partkey", "p_retailprice", "p_size")
    },
    Some("""SELECT p.p_partkey, p.p_retailprice, p.p_size
            FROM part p
            WHERE NOT EXISTS (
              SELECT 1 FROM part q
              WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
                AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))""")
  )

  /** q216 — BITWISE AGGREGATES (`bit_or` / `bit_and` / `bit_xor`): the
    * bitmask-rollup shape — per-row capability flags folded to a
    * per-group mask in one pass. `bit_or` is the "any row set this bit"
    * union (which user cohorts ever touched this event type), `bit_and`
    * the "every row agrees" intersection (seeded with a constant base
    * mask so the invariant bits survive), `bit_xor` the parity
    * fingerprint (the content-audit trick: XOR of per-row hashes detects
    * a changed row without ordering). All three are commutative +
    * associative, so they combine map-side and shuffle 8 bytes per
    * group — the cheapest possible 100 TB rollup, and the reason flag
    * sets beat exploded boolean columns at scale. Shift derives the
    * bit position from data (`1 << user_id % 7`); both engines compute
    * it in exact integer arithmetic, cast BIGINT to pin one output type.
    */
  val bitMasks = Q(
    "q216_bit_masks",
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_bits")
      s.sql("""SELECT event_type,
                      CAST(bit_or(shiftleft(1, CAST(user_id % 7 AS INT))) AS BIGINT) AS mask_any,
                      CAST(bit_and(3 | shiftleft(1, CAST(user_id % 7 AS INT))) AS BIGINT) AS mask_all,
                      CAST(bit_xor(shiftleft(1, CAST(user_id % 7 AS INT))) AS BIGINT) AS mask_parity
               FROM events_bits GROUP BY event_type""")
    },
    Some("""SELECT event_type,
                   CAST(bit_or(1 << CAST(user_id % 7 AS INT)) AS BIGINT) AS mask_any,
                   CAST(bit_and(3 | (1 << CAST(user_id % 7 AS INT))) AS BIGINT) AS mask_all,
                   CAST(bit_xor(1 << CAST(user_id % 7 AS INT)) AS BIGINT) AS mask_parity
            FROM events GROUP BY event_type""")
  )

  /** q217 — DETERMINISTIC MODE: the most frequent value per group —
    * the categorical summary statistic (dominant quantity per return
    * class, dominant event type per user cohort) that percentiles
    * can't express. Spark's `mode(expr, true)` pins tie-breaking to the
    * LOWEST value among equally-frequent candidates — without that flag
    * the result is whichever candidate the merge order surfaces, i.e.
    * nondeterministic across partitionings, unacceptable in a verified
    * pipeline. DuckDB's `mode` documents no tie rule, so the oracle
    * replays the deterministic definition relationally: count per
    * (group, value), keep the max count, take the MIN value among the
    * argmax set — the engine feature checked against its spec, not
    * another engine's tie-break accident (the q212 discipline). Mode is
    * holistic (needs the full per-group value histogram), so the plan is
    * a two-level aggregate — count by (group, value) with map-side
    * combine, then argmax per group — never a per-group sort.
    */
  val modeAgg = Q(
    "q217_mode",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_mode")
      Tables.events(s, d).createOrReplaceTempView("events_mode")
      s.sql("""SELECT 'qty_by_flag' AS family, l_returnflag AS grp,
                      CAST(mode(l_quantity, true) AS STRING) AS mode_val
               FROM lineitem_mode GROUP BY l_returnflag
               UNION ALL
               SELECT 'type_by_cohort', CAST(user_id % 10 AS STRING),
                      mode(event_type, true)
               FROM events_mode GROUP BY user_id % 10""")
    },
    Some("""WITH c1 AS (SELECT l_returnflag AS grp, l_quantity AS v, count(*) AS n
                        FROM lineitem GROUP BY 1, 2),
            r1 AS (SELECT grp, v, n, max(n) OVER (PARTITION BY grp) AS mx FROM c1),
            m1 AS (SELECT grp, min(v) AS mode_v FROM r1 WHERE n = mx GROUP BY grp),
            c2 AS (SELECT CAST(user_id % 10 AS VARCHAR) AS grp, event_type AS v,
                          count(*) AS n
                   FROM events GROUP BY 1, 2),
            r2 AS (SELECT grp, v, n, max(n) OVER (PARTITION BY grp) AS mx FROM c2),
            m2 AS (SELECT grp, min(v) AS mode_v FROM r2 WHERE n = mx GROUP BY grp)
            SELECT 'qty_by_flag' AS family, grp, CAST(mode_v AS VARCHAR) AS mode_val FROM m1
            UNION ALL
            SELECT 'type_by_cohort', grp, mode_v FROM m2""")
  )

  /** q218 — GRID-BUCKETED RADIUS JOIN: all (customer, supplier) pairs
    * within euclidean distance r in a derived 2-D coordinate space —
    * the spatial-join shape (geo proximity, embedding-2D UMAP
    * neighborhoods) whose naive form is the O(n·m) cross join the
    * oracle runs as ground truth. The engine plan is the classic grid
    * decomposition: cell side = r, so any pair within r lands in the
    * same or an adjacent cell — replicate the SMALL side into its 3×3
    * neighborhood (9 rows each, the bounded dual of exploding the big
    * side), broadcast it, and equi-join on the cell key; only
    * co-cell candidates pay the exact distance test. Each customer
    * lives in exactly ONE cell and the 9 replicas carry distinct cell
    * keys, so no pair can match twice — no dedup pass. Coordinates and
    * the distance test are exact integer arithmetic (dist² ≤ r², no
    * sqrt), so the boundary is bit-exact on both engines. At 100 TB the
    * cross join is impossible and this plan is O(n · local density)
    * with zero shuffle on the big side (broadcast hash join —
    * `PlanSpec`-gated).
    */
  val gridRadiusJoin = Q(
    "q218_grid_radius_join",
    (s, d) => {
      val r2 = 1600L // r = 40, cell side = 40
      val cust = Tables.customer(s, d).select(
        col("c_custkey"),
        (col("c_custkey") * 37 % 1000).as("cx"),
        (col("c_custkey") * 91 % 1000).as("cy"))
        .withColumn("cellx", expr("CAST(cx AS BIGINT) div 40"))
        .withColumn("celly", expr("CAST(cy AS BIGINT) div 40"))
      val supp = Tables.supplier(s, d).select(
        col("s_suppkey"),
        (col("s_suppkey") * 53 % 1000).as("sx"),
        (col("s_suppkey") * 17 % 1000).as("sy"))
        .withColumn("off", explode(expr(
          "array(-1L, 0L, 1L)")))
        .withColumn("offy", explode(expr("array(-1L, 0L, 1L)")))
        .withColumn("cellx", expr("CAST(sx AS BIGINT) div 40") + col("off"))
        .withColumn("celly", expr("CAST(sy AS BIGINT) div 40") + col("offy"))
        .drop("off", "offy")
      cust.join(broadcast(supp), Seq("cellx", "celly"))
        .withColumn("dist2",
          (col("cx") - col("sx")) * (col("cx") - col("sx")) +
            (col("cy") - col("sy")) * (col("cy") - col("sy")))
        .where(col("dist2") <= r2)
        .select("c_custkey", "s_suppkey", "dist2")
    },
    Some("""SELECT c_custkey, s_suppkey,
                   (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
            FROM (SELECT c_custkey, c_custkey * 37 % 1000 AS cx,
                         c_custkey * 91 % 1000 AS cy FROM customer),
                 (SELECT s_suppkey, s_suppkey * 53 % 1000 AS sx,
                         s_suppkey * 17 % 1000 AS sy FROM supplier)
            WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 1600""")
  )

  /** q221 — GROUPING / GROUPING_ID disambiguation: the rollup-consumer
    * correctness detail q13/q38 leave open — in a rollup result, a NULL
    * group column is ambiguous between "this row is a subtotal" and
    * "the data value itself was NULL", and any dashboard that renders
    * subtotal rows by `IS NULL` silently merges the two. `grouping(col)`
    * (1 = aggregated-away) and `grouping_id(...)` (the bit vector over
    * all rollup columns) are the engine's disambiguators; here the
    * orderstatus column is REWRITTEN to carry a genuine data NULL
    * ('P' → NULL on both sides) so the fixture contains both kinds of
    * NULL in one result and only grouping() separates them. The labeled
    * projection (`total` / `subtotal` / `detail`) is what a consumer
    * actually branches on. Same one-pass expanded aggregate as q13 —
    * grouping flags are free metadata riding the rollup, no extra pass.
    */
  val groupingIdQ = Q(
    "q221_grouping_id",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gid")
      s.sql("""WITH o AS (SELECT o_orderpriority,
                            CASE WHEN o_orderstatus = 'P' THEN NULL
                                 ELSE o_orderstatus END AS status
                          FROM orders_gid)
               SELECT o_orderpriority, status,
                      CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
                      CAST(grouping(status) AS BIGINT) AS g_status,
                      CAST(grouping_id(o_orderpriority, status) AS BIGINT) AS gid,
                      CASE WHEN grouping_id(o_orderpriority, status) = 3 THEN 'total'
                           WHEN grouping(status) = 1 THEN 'subtotal'
                           ELSE 'detail' END AS row_kind,
                      count(*) AS n
               FROM o GROUP BY ROLLUP(o_orderpriority, status)""")
    },
    Some("""WITH o AS (SELECT o_orderpriority,
                         CASE WHEN o_orderstatus = 'P' THEN NULL
                              ELSE o_orderstatus END AS status
                       FROM orders)
            SELECT o_orderpriority, status,
                   CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
                   CAST(grouping(status) AS BIGINT) AS g_status,
                   CAST(grouping_id(o_orderpriority, status) AS BIGINT) AS gid,
                   CASE WHEN grouping_id(o_orderpriority, status) = 3 THEN 'total'
                        WHEN grouping(status) = 1 THEN 'subtotal'
                        ELSE 'detail' END AS row_kind,
                   count(*) AS n
            FROM o GROUP BY ROLLUP(o_orderpriority, status)""")
  )

  /** q222 — ARGMAX AGGREGATES (`max_by` / `min_by`): "which row holds
    * the extreme", the lookup q89's struct-min keeper idiom expresses
    * manually — here as the first-class aggregate, one pass, map-side
    * combined, no window and no self-join back (the two shapes this
    * replaces, both of which re-shuffle or re-scan at 100 TB). The
    * ordering key is deliberately a STRUCT with the row key as
    * tie-breaker: bare `max_by(k, price)` is nondeterministic whenever
    * two rows tie on price — the same merge-order trap q217's mode flag
    * exists for — and struct comparison is lexicographic in BOTH
    * engines (the q89 portability fact), so `max_by(k, (price, k))`
    * pins a unique winner. DuckDB's `arg_max` doesn't take struct
    * ordering keys, so the oracle replays the definition through the
    * portable struct-extremum (q89's `max(struct_pack(...))` fact) and
    * extracts the key field — the same deterministic winner.
    */
  val argmaxAgg = Q(
    "q222_argmax",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_argmax")
      s.sql("""SELECT o_orderpriority,
                      max_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS top_order,
                      min_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS bottom_order,
                      max(o_totalprice) AS top_price
               FROM orders_argmax GROUP BY o_orderpriority""")
    },
    Some("""WITH m AS (SELECT o_orderpriority,
                         max(struct_pack(p := o_totalprice, k := o_orderkey)) AS mx,
                         min(struct_pack(p := o_totalprice, k := o_orderkey)) AS mn,
                         max(o_totalprice) AS top_price
                       FROM orders GROUP BY o_orderpriority)
            SELECT o_orderpriority, mx.k AS top_order, mn.k AS bottom_order, top_price
            FROM m""")
  )

  /** q228 — HIGHER STATISTICAL MOMENTS (`skewness` / `kurtosis`):
    * completes q53's moment family (mean/variance/corr/covar) with the
    * third and fourth — the distribution-shape summary a quality
    * pipeline reads before trusting a mean (a skewed latency or
    * heavy-tailed score distribution invalidates ±σ reasoning). Both
    * are algebraic over the first four power sums, so the plan is the
    * same two-phase map-side-partial aggregate as every moment before
    * them. The DEFINITION is the checked thing (q212/q217 discipline):
    * Spark computes POPULATION moments (skew = √n·M₃/M₂^1.5, kurt =
    * n·M₄/M₂² − 3, excess), while DuckDB's builtins are
    * bias-corrected SAMPLE statistics — numerically different answers
    * on the same data — so the oracle replays Spark's spec literally
    * as a two-pass centered-sum computation (no `pow`: literal
    * multiplication chains, the portable form). Rounded to 6 (the one-
    * pass-vs-two-pass low-bit difference, q53's rule).
    */
  val higherMoments = Q(
    "q228_higher_moments",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(skewness(col("l_quantity")), 6).as("skew_qty"),
          round(kurtosis(col("l_quantity")), 6).as("kurt_qty"),
          round(skewness(col("l_extendedprice")), 6).as("skew_price"),
          round(kurtosis(col("l_extendedprice")), 6).as("kurt_price")),
    Some("""WITH m AS (SELECT l_returnflag g, avg(l_quantity) mu_q,
                              avg(l_extendedprice) mu_p
                       FROM lineitem GROUP BY 1),
            s AS (SELECT l.l_returnflag g, count(*) n,
                    sum((l_quantity-mu_q)*(l_quantity-mu_q)) q2,
                    sum((l_quantity-mu_q)*(l_quantity-mu_q)*(l_quantity-mu_q)) q3,
                    sum((l_quantity-mu_q)*(l_quantity-mu_q)*(l_quantity-mu_q)*(l_quantity-mu_q)) q4,
                    sum((l_extendedprice-mu_p)*(l_extendedprice-mu_p)) p2,
                    sum((l_extendedprice-mu_p)*(l_extendedprice-mu_p)*(l_extendedprice-mu_p)) p3,
                    sum((l_extendedprice-mu_p)*(l_extendedprice-mu_p)*(l_extendedprice-mu_p)*(l_extendedprice-mu_p)) p4
                  FROM lineitem l JOIN m ON l.l_returnflag = m.g GROUP BY 1)
            SELECT g AS l_returnflag,
                   round(sqrt(n)*q3/(q2*sqrt(q2)), 6) AS skew_qty,
                   round(n*q4/(q2*q2) - 3.0, 6) AS kurt_qty,
                   round(sqrt(n)*p3/(p2*sqrt(p2)), 6) AS skew_price,
                   round(n*p4/(p2*p2) - 3.0, 6) AS kurt_price
            FROM s""")
  )

  /** q230 — WEIGHTED MEDIAN (cumulative-weight scan): the quantile the
    * builtin percentile family (q40 cont, q49 approx, q212 disc)
    * cannot express — each row counts with a WEIGHT, the shape of
    * every token-weighted corpus statistic ("the median document BY
    * TOKEN MASS", which a plain median over documents badly misstates
    * when lengths are skewed). Definition: smallest v whose cumulative
    * weight reaches half the total — computed distributedly as a
    * per-group value-ordered running weight sum (ROWS frame) against a
    * per-group total, then `min(v)` over qualifying rows: no collect,
    * no per-group sort beyond the window's, and ties on (v, wt) can't
    * change the answer (the boundary row's v is the same v whatever
    * the intra-tie order — why the frame is safe despite ROWS). Both
    * engines run the IDENTICAL formula — integer weights, exact
    * cumulative sums, `cw·2 ≥ tw` in integers — so the oracle is
    * bit-exact with no rounding at all.
    */
  val weightedMedian = Q(
    "q230_weighted_median",
    (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("documents_wm")
      s.sql("""WITH w AS (SELECT source, n_chars AS v,
                            CAST(1 + doc_id % 5 AS BIGINT) AS wt
                          FROM documents_wm),
               c AS (SELECT source, v, wt,
                       sum(wt) OVER (PARTITION BY source ORDER BY v, wt
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cw,
                       sum(wt) OVER (PARTITION BY source) AS tw
                     FROM w)
               SELECT source, min(v) AS wmedian
               FROM c WHERE cw * 2 >= tw GROUP BY source""")
    },
    Some("""WITH w AS (SELECT source, n_chars AS v,
                         CAST(1 + doc_id % 5 AS BIGINT) AS wt
                       FROM documents),
            c AS (SELECT source, v, wt,
                    sum(wt) OVER (PARTITION BY source ORDER BY v, wt
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cw,
                    sum(wt) OVER (PARTITION BY source) AS tw
                  FROM w)
            SELECT source, min(v) AS wmedian
            FROM c WHERE CAST(cw AS BIGINT) * 2 >= CAST(tw AS BIGINT)
            GROUP BY source""")
  )

  /** q232 — SQL `TRANSFORM` (external script pipe): rows streamed
    * through an ARBITRARY external process (`ScriptTransformationExec`
    * — here `tr a-z A-Z`) and parsed back under a declared schema — the
    * engine's escape hatch to tools that will never be JVM functions
    * (legacy scorers, C++ tokenizers, vendored binaries), Hive's
    * TRANSFORM contract without Hive. Semantics under test: the engine
    * tab-serializes the projected columns to the child's stdin, one
    * process per TASK (not per row — the pipe amortizes fork cost over
    * the partition, which is what makes this usable at 100 TB), and
    * deserializes stdout rows under the AS schema. The script here is
    * order-preserving 1:1, and the downstream aggregate is
    * order-insensitive anyway — the shape an external scorer must have
    * to be replayable. Oracle replays the uppercase in SQL; the count
    * pins row-for-row delivery through the pipe (no dropped/duplicated
    * rows across process boundaries).
    */
  val scriptTransform = Q(
    "q232_script_transform",
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_st")
      s.sql("""WITH piped AS (
                 SELECT TRANSFORM (event_type)
                   USING 'tr a-z A-Z'
                   AS (upper_type STRING)
                 FROM events_st)
               SELECT upper_type, count(*) AS n
               FROM piped GROUP BY upper_type""")
    },
    Some("""SELECT upper(event_type) AS upper_type, count(*) AS n
            FROM events GROUP BY 1""")
  )

  /** q234 — TIMESTAMP_NTZ vs session-local TIMESTAMP: the two timestamp
    * SEMANTICS Spark 3.4+ carries and every multi-region 100 TB
    * deployment eventually trips over. `TIMESTAMP` (LTZ) stores an
    * instant and renders it through the SESSION time zone — the same
    * stored microseconds answer `hour()` differently in UTC and
    * New York, so a report moved between clusters silently shifts.
    * `TIMESTAMP_NTZ` stores the WALL-CLOCK fields themselves —
    * renders identically everywhere. The fixture proves both halves
    * end-to-end through parquet (NTZ persists as
    * isAdjustedToUTC=false and reads back as NTZ): a UTC session
    * writes (ts, ts AS NTZ, hour-in-UTC); a New-York session reads the
    * SAME file and re-extracts hours — the LTZ hour must shift by
    * exactly the January NY offset (−5, no DST ambiguity in the data's
    * month) on EVERY row, the NTZ hour must equal the UTC hour on
    * every row. Folded to per-type `bool_and` flags (q172 discipline);
    * the session-tz isolation is `newSession` per leg (q92). Hour
    * extraction is a narrow projection — the semantics change the
    * rendering function, never the plan.
    */
  val timestampNtz = Q(
    "q234_timestamp_ntz",
    (s0, d) => {
      val sUtc = child(s0, "spark.sql.session.timeZone" -> "UTC")
      val store = graft.sources.Sources.write(Tables.events(sUtc, d)
        .select(col("event_id"), col("event_type"), col("ts"),
          col("ts").cast("timestamp_ntz").as("tsn"),
          hour(col("ts")).as("h_utc")),
        graft.sources.Sources.scratchLeaf(d, "ntz_store"))
      val sNy = child(s0, "spark.sql.session.timeZone" -> "America/New_York")
      store.read(sNy)
        .select(col("event_type"), col("h_utc"),
          hour(col("ts")).as("h_ny"), hour(col("tsn")).as("h_ntz"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          every((col("h_ny") - col("h_utc") + 24) % 24 === 19).as("ltz_shifts"),
          every(col("h_ntz") === col("h_utc")).as("ntz_invariant"))
    },
    Some("""SELECT event_type, count(*) AS n,
                   TRUE AS ltz_shifts, TRUE AS ntz_invariant
            FROM events GROUP BY event_type""")
  )

  /** q236 — INTERSECT ALL (multiplicity-preserving intersection): the
    * last uncovered multi-set operator (q16 has the DISTINCT set pair,
    * q55 EXCEPT ALL). Bag semantics: a key appearing a times on the
    * left and b on the right survives min(a,b) times — the contract
    * that matters when rows ARE the quantity ("how many F-orders does
    * each customer have that are MATCHED one-to-one by an O-order"),
    * where the DISTINCT variant collapses exactly the information
    * asked for. The engine plans it as a counted aggregate + generate
    * (never a pairwise join); the registered result re-groups the bag
    * to (key, multiplicity) — which also makes the min(a,b) law
    * directly visible to the oracle, spelled as the law itself:
    * LEAST of the two per-key counts.
    */
  val intersectAll = Q(
    "q236_intersect_all",
    (s, d) => {
      val o = Tables.orders(s, d)
      val f = o.where(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      val op = o.where(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      f.intersectAll(op)
        .groupBy("custkey").agg(count(lit(1)).as("n_matched"))
    },
    Some("""WITH f AS (SELECT o_custkey k, count(*) a FROM orders
                       WHERE o_orderstatus = 'F' GROUP BY 1),
            o AS (SELECT o_custkey k, count(*) b FROM orders
                  WHERE o_orderstatus = 'O' GROUP BY 1)
            SELECT f.k AS custkey, CAST(least(f.a, o.b) AS BIGINT) AS n_matched
            FROM f JOIN o ON f.k = o.k""")
  )

  /** q237 — MULTI-AGGREGATE PIVOT: q39's pivot with ONE measure per
    * cell is the textbook case; real report matrices carry several
    * (orders AND revenue per status) and the engine's column-naming
    * contract — `{pivotValue}_{aggAlias}` — is exactly what a consumer
    * schema-binds against, so it's the thing to pin. One pass, one
    * shuffle: the pivot is a grouped aggregate over (row key) with
    * per-pivot-value conditional aggregates — the same plan as writing
    * six FILTER aggregates by hand, which is precisely how the oracle
    * spells it (names matched column-for-column). Explicit pivot
    * values as always (an unlisted-values pivot needs a distinct-scan
    * pre-pass — the 100 TB surprise the explicit list avoids).
    */
  val pivotMulti = Q(
    "q237_pivot_multi",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("rev")),
    Some(s"""SELECT o_orderpriority,
                    count(*) FILTER (WHERE o_orderstatus = 'F') AS "F_n",
                    ${sqlSum2("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS "F_rev",
                    count(*) FILTER (WHERE o_orderstatus = 'O') AS "O_n",
                    ${sqlSum2("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS "O_rev",
                    count(*) FILTER (WHERE o_orderstatus = 'P') AS "P_n",
                    ${sqlSum2("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS "P_rev"
             FROM orders GROUP BY o_orderpriority""")
  )

  /** q240 — K-ANONYMITY release: the privacy-preserving publication
    * operator (the aggregate-release counterpart of q97's PII redaction
    * and q155's GDPR delete). Quasi-identifier cells
    * (c_nationkey, c_mktsegment) with fewer than k = 10 members are
    * SUPPRESSED — both QI columns generalized to '*' — so no published
    * row describes a group an attacker could narrow below k; cells at or
    * above k release their true values. The output is the released
    * aggregate (cell → member count + balance mass) plus the residual
    * `anonymous` audit bit: the pooled '*' cell can itself still be
    * under k, and a real release gate checks exactly that before
    * publishing.
    *
    * Scale: two-phase, not a window — cell sizes are a tiny aggregate
    * (|QI| cells, here 125) broadcast back onto the fact table, so the
    * only data-sized shuffles are the two aggregations; a
    * `count over (partition by QI)` window would shuffle-sort the full
    * table to learn 125 numbers.
    */
  val kAnonymity = Q(
    "q240_k_anonymity",
    (s, d) => {
      val k = 10
      val cust = Tables.customer(s, d)
      val cells = cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("cell_n"))
      cust.join(broadcast(cells), Seq("c_nationkey", "c_mktsegment"))
        .select(
          when(col("cell_n") >= k, col("c_nationkey").cast("string"))
            .otherwise(lit("*")).as("nat_rel"),
          when(col("cell_n") >= k, col("c_mktsegment"))
            .otherwise(lit("*")).as("seg_rel"),
          col("c_acctbal"))
        .groupBy("nat_rel", "seg_rel")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"))
        .withColumn("anonymous", col("n") >= k)
    },
    Some(s"""WITH cells AS (
               SELECT c_nationkey, c_mktsegment, count(*) AS cell_n
               FROM customer GROUP BY 1, 2),
             released AS (
               SELECT CASE WHEN cell_n >= 10 THEN CAST(c.c_nationkey AS VARCHAR)
                           ELSE '*' END AS nat_rel,
                      CASE WHEN cell_n >= 10 THEN c.c_mktsegment
                           ELSE '*' END AS seg_rel,
                      c.c_acctbal
               FROM customer c
               JOIN cells USING (c_nationkey, c_mktsegment))
             SELECT nat_rel, seg_rel, count(*) AS n,
                    ${sqlSum2("c_acctbal")} AS sum_bal,
                    count(*) >= 10 AS anonymous
             FROM released GROUP BY 1, 2""")
  )

  /** q246 — SQL PIPE SYNTAX (`|>`): Spark 4's linear query form — each
    * stage consumes the previous stage's relation, so transformations
    * read top-to-bottom like the DataFrame API but stay pure SQL
    * (`FROM … |> WHERE … |> EXTEND … |> AGGREGATE … GROUP BY …`).
    * Exercised stages: WHERE (pre-agg), EXTEND with a LATERAL column
    * alias (the second EXTEND references the first's `tax` — resolution
    * within the growing row, SQL:2023's lateral alias rule), AGGREGATE
    * with GROUP BY, post-aggregate WHERE (the HAVING position), ORDER
    * BY. Pipe stages are pure parser surface: Catalyst sees the SAME
    * logical plan as the classic form, so every optimization
    * (pushdown, partial agg) applies unchanged — the oracle IS the
    * classic spelling.
    */
  val sqlPipe = Q(
    "q246_sql_pipe",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql(s"""FROM orders_v
                |> WHERE o_orderstatus <> 'P'
                |> EXTEND o_totalprice * 0.1 AS tax
                |> EXTEND tax * 0.5 AS half_tax
                |> AGGREGATE count(*) AS n, ${sqlSum4("tax")} AS sum_tax,
                     ${sqlSum4("half_tax")} AS sum_half
                   GROUP BY o_orderpriority, o_orderstatus
                |> WHERE n > 5
                |> ORDER BY o_orderpriority, o_orderstatus""")
    },
    Some(s"""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
                    ${sqlSum4("o_totalprice * 0.1")} AS sum_tax,
                    ${sqlSum4("o_totalprice * 0.1 * 0.5")} AS sum_half
             FROM orders
             WHERE o_orderstatus <> 'P'
             GROUP BY o_orderpriority, o_orderstatus
             HAVING count(*) > 5""")
  )

  /** q247 — NOT IN three-valued logic: the SQL-semantics trap every
    * migration hits once. Three legs over the same intent ("orders whose
    * customer is not in the BUILDING segment"): (1) `NOT IN` against a
    * null-free subquery — behaves like an anti join; (2) `NOT IN`
    * against the SAME subquery with one NULL poisoned in — `x NOT IN
    * (…, NULL)` is never TRUE (x <> NULL is UNKNOWN), so the leg is
    * provably EMPTY; (3) `NOT EXISTS` — the null-immune spelling that
    * keeps the anti-join answer regardless. The count triple is the
    * whole lesson in one row each. Scale note: a nullable NOT IN forces
    * Spark to plan a NULL-AWARE anti join (BroadcastNestedLoopJoin —
    * the subquery must broadcast whole), while NOT EXISTS plans a hash
    * anti join that shuffles and scales; semantics and plan both say
    * "spell it NOT EXISTS".
    */
  val notInNulls = Q(
    "q247_not_in_nulls",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""SELECT 'not_in_clean' AS leg, count(*) AS n FROM orders_v
               WHERE o_custkey NOT IN
                 (SELECT c_custkey FROM customer_v WHERE c_mktsegment = 'BUILDING')
               UNION ALL
               SELECT 'not_in_null_poisoned', count(*) FROM orders_v
               WHERE o_custkey NOT IN
                 (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END
                  FROM customer_v WHERE c_mktsegment = 'BUILDING')
               UNION ALL
               SELECT 'not_exists', count(*) FROM orders_v o
               WHERE NOT EXISTS
                 (SELECT 1 FROM customer_v c
                  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')""")
    },
    Some("""SELECT 'not_in_clean' AS leg, count(*) AS n FROM orders
            WHERE o_custkey NOT IN
              (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
            UNION ALL
            SELECT 'not_in_null_poisoned', count(*) FROM orders
            WHERE o_custkey NOT IN
              (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END
               FROM customer WHERE c_mktsegment = 'BUILDING')
            UNION ALL
            SELECT 'not_exists', count(*) FROM orders o
            WHERE NOT EXISTS
              (SELECT 1 FROM customer c
               WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')""")
  )

  /** Decimal-exact portable moments (q03/dsum2 discipline lifted to
    * avg/stddev): mean = exact decimal sum ÷ count, sd = sqrt(E[x²]−µ²)
    * with x² summed at scale 4 — every step is the same IEEE op sequence
    * in Spark and DuckDB, so iterated comparisons on the results can
    * never diverge. x² at scale 4 is exact: the double's half-ulp error
    * (≤3e-5 at the table's magnitudes) is under the 5e-5 decimal-grid
    * boundary, so both engines' double→decimal casts recover the true
    * 4-decimal value.
    */
  private def muExpr(x: String) =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / count(*)"

  /** sd is QUANTIZED to a 1e-4 grid with the portable floor(x+0.5) idiom:
    * the exact decimal sum of squares exceeds 2^53 units at this table's
    * magnitudes, so the two engines' decimal→double casts can differ by
    * an ulp (observed 4e-10 in sd) — below the grid step by 5 orders,
    * so both engines snap to the SAME double and the iteration state
    * (which feeds the next pass's filter bounds) stays bit-identical.
    */
  private def sdExpr(x: String) =
    s"""floor(sqrt(CAST(SUM(CAST($x * $x AS DECIMAL(30,4))) AS DOUBLE) / count(*)
                   - (${muExpr(x)}) * (${muExpr(x)})) * 10000 + 0.5) / 10000.0"""

  /** q248 — SQL SCRIPTING (`BEGIN … END`, Spark 4): procedural control
    * flow executed by the ENGINE — DECLARE'd variables, a compound
    * `SET (mu, sd, n) = (subquery)`, and a WHILE loop — no driver-side
    * Scala steering the iteration. The workload is iterated σ-TRIMMING
    * (each pass recomputes mean/stddev over rows within the PREVIOUS
    * pass's µ±σ — the classic robust-statistics clean-up): 4 passes,
    * seeded with (0, 1e15) so pass 1 sees every row. Each pass is one
    * distributed aggregate; the script is orchestration, not data
    * path — exactly how a 100 TB deployment should use scripting.
    * Oracle unrolls the loop as 4 CTE layers over the same
    * decimal-exact moment expressions, so even the doubles match
    * bit-for-bit.
    */
  val sqlScripting = Q(
    "q248_sql_scripting",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql(s"""BEGIN
                  DECLARE mu DOUBLE DEFAULT 0.0;
                  DECLARE sd DOUBLE DEFAULT 1e15;
                  DECLARE n BIGINT DEFAULT 0;
                  DECLARE i INT DEFAULT 0;
                  WHILE i < 4 DO
                    SET (mu, sd, n) =
                      (SELECT ${muExpr("o_totalprice")}, ${sdExpr("o_totalprice")}, count(*)
                       FROM orders_v
                       WHERE o_totalprice BETWEEN mu - sd AND mu + sd);
                    SET i = i + 1;
                  END WHILE;
                  SELECT i AS iters, n AS n_kept, mu, sd;
                END""")
    },
    Some(s"""WITH s1 AS (SELECT ${muExpr("o_totalprice")} AS mu, ${sdExpr("o_totalprice")} AS sd,
                                count(*) AS n FROM orders),
                  f2 AS (SELECT o_totalprice FROM orders, s1
                         WHERE o_totalprice BETWEEN s1.mu - s1.sd AND s1.mu + s1.sd),
                  s2 AS (SELECT ${muExpr("o_totalprice")} AS mu, ${sdExpr("o_totalprice")} AS sd,
                                count(*) AS n FROM f2),
                  f3 AS (SELECT o_totalprice FROM orders, s2
                         WHERE o_totalprice BETWEEN s2.mu - s2.sd AND s2.mu + s2.sd),
                  s3 AS (SELECT ${muExpr("o_totalprice")} AS mu, ${sdExpr("o_totalprice")} AS sd,
                                count(*) AS n FROM f3),
                  f4 AS (SELECT o_totalprice FROM orders, s3
                         WHERE o_totalprice BETWEEN s3.mu - s3.sd AND s3.mu + s3.sd),
                  s4 AS (SELECT ${muExpr("o_totalprice")} AS mu, ${sdExpr("o_totalprice")} AS sd,
                                count(*) AS n FROM f4)
             SELECT 4 AS iters, n AS n_kept, mu, sd FROM s4""")
  )

  /** q249 — PARAMETERIZED SQL + SESSION VARIABLES: the two injection-safe
    * ways a value enters a query. Leg 1 binds NAMED PARAMETER MARKERS
    * (`:status`, `:floor`) through `spark.sql(text, args)` — typed
    * literals substituted by the PARSER, the API that kills
    * string-concatenated SQL. Leg 2 DECLAREs a session variable, SETs it
    * from a scalar subquery (the F-segment average price — decimal-exact
    * so the threshold is the same double in the oracle), and reads it
    * from a second statement: state that lives in the SESSION, the
    * multi-statement dependency pattern (compute a threshold once, use
    * it everywhere) without a driver round-trip of the value through
    * Scala. Oracle inlines the parameters and recomputes the variable as
    * a scalar subquery.
    */
  val parameterizedSql = Q(
    "q249_parameterized_sql",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      val leg1 = s.sql(
        s"""SELECT 'param' AS leg, o_orderpriority AS k, count(*) AS n,
                   ${sqlSum2("o_totalprice")} AS rev
            FROM orders_v
            WHERE o_orderstatus = :status AND o_totalprice > :floor
            GROUP BY o_orderpriority""",
        Map("status" -> "F", "floor" -> 100000))
      s.sql("DECLARE OR REPLACE VARIABLE f_avg_price DOUBLE")
      s.sql(s"""SET VAR f_avg_price =
                (SELECT ${muExpr("o_totalprice")} FROM orders_v WHERE o_orderstatus = 'F')""")
      val leg2 = s.sql(
        s"""SELECT 'session_var' AS leg, 'ALL' AS k, count(*) AS n,
                   ${sqlSum2("o_totalprice")} AS rev
            FROM orders_v WHERE o_totalprice > f_avg_price""")
      leg1.unionByName(leg2)
    },
    Some(s"""SELECT 'param' AS leg, o_orderpriority AS k, count(*) AS n,
                    ${sqlSum2("o_totalprice")} AS rev
             FROM orders
             WHERE o_orderstatus = 'F' AND o_totalprice > 100000
             GROUP BY o_orderpriority
             UNION ALL
             SELECT 'session_var' AS leg, 'ALL' AS k, count(*) AS n,
                    ${sqlSum2("o_totalprice")} AS rev
             FROM orders
             WHERE o_totalprice > (SELECT ${muExpr("o_totalprice")} FROM orders
                                   WHERE o_orderstatus = 'F')""")
  )

  /** q263 — aggregate FILTER clause: the ANSI conditional-aggregation
    * surface (SQL:2003) that turns the "metrics cube" — many metrics,
    * each over its own row subset, in ONE pass — from CASE-wrapping
    * folklore into first-class syntax. Two legs prove two things:
    * (1) the FILTER spelling and the CASE spelling of the same plain
    * aggregates are computed in the same single scan and agree
    * column-for-column (both legs in the output, equality visible to
    * the oracle hash); (2) the case CASE cannot express cleanly:
    * `count(DISTINCT x) FILTER (WHERE …)` — a per-condition distinct —
    * where the CASE equivalent must smuggle NULLs through the distinct
    * set and silently miscounts when x itself can be NULL. All
    * aggregates decimal-exact (q03 discipline); one shuffle on the
    * group key, conditional evaluation map-side.
    */
  val filterClause = Q(
    "q263_filter_clause",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_fc")
      s.sql(s"""SELECT o_orderstatus,
                       count(*) AS n_all,
                       count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                            FILTER (WHERE o_totalprice > 200000) AS DOUBLE)
                         AS rev_big,
                       count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                         AS cust_big,
                       count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_big_case,
                       CAST(SUM(CASE WHEN o_totalprice > 200000
                                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                            AS DOUBLE) AS rev_big_case
                FROM orders_fc GROUP BY o_orderstatus""")
    },
    Some(s"""SELECT o_orderstatus,
                    count(*) AS n_all,
                    count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                         FILTER (WHERE o_totalprice > 200000) AS DOUBLE)
                      AS rev_big,
                    count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                      AS cust_big,
                    count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_big_case,
                    CAST(SUM(CASE WHEN o_totalprice > 200000
                                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                         AS DOUBLE) AS rev_big_case
             FROM orders GROUP BY o_orderstatus""")
  )

  /** q265 — FLOAT SPECIAL-VALUE SEMANTICS pinned as data (the q247
    * discipline, applied to IEEE 754's two famous troublemakers): what
    * do GROUP BY, DISTINCT, equality joins and comparisons do with NaN
    * and −0.0? Both engines implement the SAME non-IEEE answer — NaN
    * equals NaN and sorts greatest, −0.0 groups and joins with 0.0 —
    * because hash-based grouping/joining REQUIRES an equivalence
    * relation and IEEE equality isn't one (NaN ≠ NaN breaks
    * reflexivity; −0.0 = 0.0 with distinct bit patterns breaks
    * hash-consistency; Spark's NormalizeFloatingNumbers rule exists
    * for exactly this). Legs: distinct-value count (3, not 4), the
    * zero group absorbing −0.0, NaN = NaN driving a join match, −0.0
    * joining 0.0, and `v < NaN` true for every non-NaN value. Special
    * values are derived from table rows via CASE (q247's
    * poisoned-subquery move); NaN never reaches an output column (the
    * compare-hazard rule) — every leg reduces to a count.
    */
  val floatSemantics = Q(
    "q265_float_semantics",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_fs")
      s.sql(floatSemanticsSql("orders_fs"))
    },
    Some(floatSemanticsSql("orders"))
  )

  /** One SQL text, two engines — the legs ARE the spec. */
  private def floatSemanticsSql(tbl: String): String =
    s"""WITH f AS (SELECT CASE CAST(o_orderkey % 4 AS INT)
                     WHEN 0 THEN CAST(0.0 AS DOUBLE)
                     WHEN 1 THEN -CAST(0.0 AS DOUBLE)
                     WHEN 2 THEN CAST('NaN' AS DOUBLE)
                     ELSE CAST(1.5 AS DOUBLE) END AS v
            FROM $tbl)
        SELECT 'distinct_values' AS leg, CAST(count(DISTINCT v) AS BIGINT) AS n
        FROM f
        UNION ALL
        SELECT 'zero_absorbs_negzero', CAST(count(*) AS BIGINT)
        FROM f WHERE v = CAST(0.0 AS DOUBLE)
        UNION ALL
        SELECT 'nan_eq_nan_join', CAST(count(*) AS BIGINT)
        FROM (SELECT DISTINCT v FROM f WHERE isnan(v)) a
        JOIN (SELECT DISTINCT v FROM f WHERE isnan(v)) b ON a.v = b.v
        UNION ALL
        SELECT 'negzero_joins_zero', CAST(count(*) AS BIGINT)
        FROM (SELECT DISTINCT v FROM f WHERE CAST(v AS STRING) = '-0.0') a
        JOIN (SELECT DISTINCT v FROM f WHERE CAST(v AS STRING) = '0.0') b
          ON a.v = b.v
        UNION ALL
        SELECT 'lt_nan', CAST(count(*) AS BIGINT)
        FROM f WHERE v < CAST('NaN' AS DOUBLE)"""

  /** q266 — AQE REBALANCE: the write-skew / small-files cure the hint
    * family (q209) and AQE coalescing gate (q232) don't cover. Writing
    * a table clustered by a skewed column with `repartition(col)` makes
    * ONE task per value — the hot value's task writes a giant file
    * (and runs as long as its share of the data), cold values write
    * crumbs: the classic skewed-writer stall plus the small-files
    * problem in one plan. `/*+ REBALANCE(col) */` keeps same-value
    * rows CLUSTERED (what downstream scans want from the layout) but
    * lets AQE split oversized partitions and merge undersized ones at
    * runtime against the advisory size — per-task output is bounded
    * regardless of key skew. The registered run pushes the events
    * table through a rebalanced shuffle (tight advisory size on an
    * isolated session so the split actually happens at test scale),
    * writes it, and reads back per-type counts — the oracle proves no
    * row was lost or duplicated by the runtime re-planning.
    * `RebalanceSpec` gates the physics on a PLANTED 80%-hot fixture
    * large enough to exceed AQE's byte thresholds (the sf0.001 events
    * table compresses below every threshold, where AQE rightly just
    * coalesces): rebalanced max partition row-count is a fraction of
    * the hot key's total, the `repartition(col)` counterfactual
    * concentrates it in one partition, and the executed plan shows
    * AQEShuffleRead over a REBALANCE_PARTITIONS exchange.
    */
  private[graft] def rebalanceSession(s0: org.apache.spark.sql.SparkSession) =
    child(s0, "spark.sql.adaptive.enabled" -> "true",
      // tight advisory so the hot partition splits at test scale (the
      // whole sf0.001 table is ~40 KB — anything larger coalesces to one
      // partition); at 100 TB the default 64 MB advisory plays the same
      // role
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048",
      "spark.sql.adaptive.rebalancePartitionsSmallPartitionFactor" -> "0.2")

  private[graft] def rebalanced(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // many upstream map tasks: AQE splits an oversized reduce partition
    // at MAP-OUTPUT-BLOCK granularity, so a single-mapper input (one
    // small file) would leave the hot key unsplittable — at production
    // scale the upstream task count is naturally large
    Tables.events(s, d)
      .select("event_id", "event_type", "user_id", "value")
      .repartition(8)
      .createOrReplaceTempView("events_rb")
    s.sql("SELECT /*+ REBALANCE(event_type) */ event_id, event_type, user_id, value FROM events_rb")
  }

  val rebalanceWrite = Q(
    "q266_rebalance_write",
    (s0, d) => {
      val s = rebalanceSession(s0)
      graft.sources.Sources.write(rebalanced(s, d),
        graft.sources.Sources.scratchLeaf(d, "rebalanced_events")).read(s)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
    },
    Some(s"""SELECT event_type, count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM events GROUP BY event_type""")
  )

  /** q268 — AQE RUNTIME JOIN DEMOTION (SMJ → broadcast): the adaptive
    * feature q201 (skew split) and q266 (rebalance) leave uncovered.
    * Static planning sizes a join side by FILE bytes — it cannot see
    * that a selective filter will shrink the build side to a few KB,
    * so it plans a full sort-merge join (two shuffles, two sorts). AQE
    * re-reads the actual size from the finished shuffle stage and
    * DEMOTES the join to broadcast-hash at runtime
    * (`spark.sql.adaptive.autoBroadcastJoinThreshold` — a separate
    * knob from the static one precisely so runtime can say yes after
    * static said no), replacing the probe side's exchange with a local
    * read. At 100 TB this is the difference between shuffling the fact
    * table to join 200 surviving dimension rows and not. The session
    * isolates the demonstration: static threshold −1 (static planner
    * can NEVER broadcast — the honest counterfactual), adaptive
    * threshold 10 MB. Oracle = the plain join aggregate;
    * `AqeDemotionSpec` gates the physics: initial plan SortMergeJoin,
    * final plan BroadcastHashJoin, and with AQE off the SMJ persists.
    */
  private[graft] def demotionSession(s0: org.apache.spark.sql.SparkSession) =
    child(s0, "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760")

  private[graft] def demotedJoin(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // the filter survives ~1/5 of customers — a shrink static stats
    // can't see (file-size estimate) but the runtime shuffle can
    val dim = Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_mktsegment")
    Tables.orders(s, d)
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("revenue"))
  }

  val aqeJoinDemotion = Q(
    "q268_aqe_join_demotion",
    (s0, d) => demotedJoin(demotionSession(s0), d),
    Some(s"""SELECT c_mktsegment, count(*) AS n,
                    ${sqlSum2("o_totalprice")} AS revenue
             FROM orders JOIN customer ON o_custkey = c_custkey
             WHERE c_mktsegment = 'BUILDING'
             GROUP BY c_mktsegment""")
  )

  /** q274 — GROUP BY ALL / ORDER BY ALL: the analyst-ergonomics SQL
    * surface (Spark 4 and DuckDB both adopted it from the same
    * lineage) — every non-aggregate select item becomes a grouping
    * key, every select item an ordering key, IN SELECT-LIST ORDER.
    * Small syntax, real semantics under test: ALL must resolve
    * AFTER aliases and expressions (year(...) AS yr groups by the
    * computed year, not the raw timestamp) and must NOT capture the
    * aggregate columns; the oracle runs the IDENTICAL text, so any
    * divergence in what "ALL" binds to hash-fails. Deterministic by
    * construction: ORDER BY ALL totally orders the output since every
    * non-aggregate column participates; decimal-exact revenue (q03).
    */
  val groupByAll = Q(
    "q274_group_by_all",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gba")
      s.sql(s"""SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS yr,
                       o_orderpriority,
                       count(*) AS n, ${Q.sqlSum2("o_totalprice")} AS revenue
                FROM orders_gba
                GROUP BY ALL
                ORDER BY ALL""")
    },
    Some(s"""SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS yr,
                    o_orderpriority,
                    count(*) AS n, ${Q.sqlSum2("o_totalprice")} AS revenue
             FROM orders
             GROUP BY ALL
             ORDER BY ALL""")
  )

  /** q260 — KEYSET (cursor) PAGINATION, and why OFFSET isn't it: the
    * export/API pattern for walking a huge sorted result in pages.
    * `OFFSET n LIMIT k` re-sorts and DISCARDS n rows every page —
    * O(pages²·k) total work, and page n's cost grows without bound
    * (the classic deep-pagination outage). Keyset keeps a CURSOR (the
    * last row's full sort key) and asks for `(sort) > cursor LIMIT k`:
    * every page is one `TakeOrderedAndProject` over a PREDICATE-PRUNED
    * scan — the strict-inequality page condition pushes to the parquet
    * reader (`PushedFilters`, row-group min/max skipping), so page
    * 1000 costs the same as page 1. Requirements the query encodes:
    * the sort key is made TOTAL by appending the unique id
    * (o_totalprice DESC, o_orderkey) — without it a page boundary
    * inside a tie duplicates or drops rows — and the cursor predicate
    * is the strict lexicographic successor: price < p ∨ (price = p ∧
    * key > k). The cursor itself is O(1) driver state — pagination's
    * inherent handle, not a data-sized collect. Oracle = row_number
    * pages; `PaginationSpec` proves keyset ≡ OFFSET row-for-row,
    * disjoint exact-k pages, and the pushed page predicate.
    */
  private[graft] val PageSize = 100
  private[graft] val Pages = 3

  /** One keyset page after (optionally) a cursor. Factored for the spec. */
  private[graft] def keysetPage(s: org.apache.spark.sql.SparkSession, d: String,
      cursor: Option[(Double, Long)]): org.apache.spark.sql.DataFrame = {
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val paged = cursor match {
      case None => base
      case Some((p, k)) =>
        base.where(col("o_totalprice") < p ||
          (col("o_totalprice") === p && col("o_orderkey") > k))
    }
    paged.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(PageSize)
  }

  val keysetPagination = Q(
    "q260_keyset_pagination",
    (s, d) => {
      import s.implicits._
      // each page materializes PageSize rows at the driver — that IS
      // the pattern (an export API ships the page and keeps only the
      // cursor); bounded by pages × k, never data-sized. An empty page
      // means the table is exhausted (fewer than Pages×PageSize rows,
      // or exactly a page multiple) — stop before touching pg.last.
      var cursor: Option[(Double, Long)] = None
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var page = 1
      var exhausted = false
      while (page <= Pages && !exhausted) {
        val pg = keysetPage(s, d, cursor).collect()
        if (pg.isEmpty) exhausted = true
        else {
          cursor = Some((pg.last.getDouble(1), pg.last.getLong(0)))
          rows ++= pg.map(r => (page.toLong, r.getLong(0), r.getDouble(1)))
          page += 1
        }
      }
      rows.toSeq.toDF("page", "o_orderkey", "o_totalprice")
    },
    Some(s"""WITH r AS (SELECT o_orderkey, o_totalprice,
                          row_number() OVER (ORDER BY o_totalprice DESC,
                                             o_orderkey) AS rn
                        FROM orders)
             SELECT CAST((rn - 1) // $PageSize + 1 AS BIGINT) AS page,
                    o_orderkey, o_totalprice
             FROM r WHERE rn <= ${Pages * PageSize}""")
  )

  /** q282 — MARKET-BASKET CO-OCCURRENCE with LIFT (association-rule
    * mining's level-2 candidates, the Apriori/FP-growth front door):
    * part pairs ordered together, with per-pair support and
    * lift = P(a,b)/(P(a)·P(b)) — lift > 1 is "bought together more
    * than chance", the recommender / store-layout signal. Same data
    * shape as collaborative filtering's item-item co-occurrence.
    *
    * Scale design: the pair generator is a SELF-JOIN ON THE BASKET KEY
    * (co-partitioned shuffle on orderkey; never a cross join) and its
    * fan-out is C(basket,2) with baskets bounded (≤13 items here; a
    * df-cap on item frequency is the q73 guard if baskets were
    * unbounded). Support counts and item marginals are map-side-
    * combined; the support ≥ 2 cut happens BEFORE the marginal joins
    * so only surviving pairs (a tiny fraction) join back; lift is one
    * exact-integer ratio — `support·n_orders / (cnt_a·cnt_b)` in ONE
    * IEEE division, portable with no rounding.
    */
  val marketBasket = Q(
    "q282_market_basket",
    (s, d) => {
      // Pair generation from GROUPED BASKETS (optimization r18, guide
      // §2.4): the original shape was distinct() → self-join on the
      // basket key — an exchange on (ok, pk) plus a sort-merge self-join
      // re-shuffling both sides by ok before any pair exists. One
      // groupBy(ok).collect_set does the dedup AND the co-location in a
      // single exchange, and C(basket,2) pairs then generate IN-TASK
      // from the sorted array (posexplode × slice keeps pa < pb and
      // each pair exactly once — identical to the join's predicate), so
      // the only remaining corpus-sized shuffle is the pair-support
      // aggregation itself. Basket size stays the bounded fan-out
      // guard (≤13 items here; the q73 df-cap is the answer if baskets
      // were unbounded).
      val baskets = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
      val items = baskets.select(col("ok"), explode(col("pks")).as("pk"))
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val sup = items.groupBy("pk").agg(count(lit(1)).as("cnt"))
      val pairs = baskets
        .select(posexplode(col("pks")).as(Seq("i", "pa")), col("pks"))
        .select(col("pa"),
          explode(expr("slice(pks, i + 2, size(pks))")).as("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
      pairs
        .join(sup.select(col("pk").as("pa"), col("cnt").as("cnt_a")), "pa")
        .join(sup.select(col("pk").as("pb"), col("cnt").as("cnt_b")), "pb")
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("support"), col("cnt_a"), col("cnt_b"),
          ((col("support") * col("n_orders")).cast("double")
            / (col("cnt_a") * col("cnt_b")).cast("double")).as("lift"))
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                           FROM lineitem),
            n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
            sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
            pairs AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS support
                      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
                      GROUP BY 1, 2),
            top AS (SELECT * FROM pairs WHERE support >= 2)
            SELECT t.pa, t.pb, t.support, sa.cnt AS cnt_a, sb.cnt AS cnt_b,
                   CAST(t.support * n.n_orders AS DOUBLE)
                     / CAST(sa.cnt * sb.cnt AS DOUBLE) AS lift
            FROM top t JOIN sup sa ON sa.pk = t.pa
                       JOIN sup sb ON sb.pk = t.pb CROSS JOIN n""")
  )

  /** q316 — APRIORI LEVEL-3 FREQUENT ITEMSETS: extend q282's frequent
    * pairs to frequent TRIPLES through the Apriori candidate
    * generate-and-prune step (Agrawal & Srikant 1994) — the part of
    * frequent-itemset mining that is an ALGORITHM rather than a
    * groupBy, and the classic demonstration of the downward-closure
    * principle: a triple can only be frequent if ALL THREE of its
    * pairs are, so candidates are generated by joining L2 pairs
    * sharing their first item ((a,b) ⋈ (a,c), b < c) and pruned by
    * requiring (b,c) ∈ L2 — BEFORE any support counting touches the
    * basket data. The support count then extends only L2-restricted
    * basket-pair occurrences by a third in-basket item that itself
    * pair-qualifies with both — at 100 TB this pruning is the
    * difference between counting |L2-candidates| triples and the
    * combinatorial all-triples blowup no cluster survives (the df-cap
    * family's argument, expressed as an anti-monotone bound instead
    * of a cap).
    *
    * Exactness: supports are integers end-to-end; ordering columns
    * (pa < pb < pc) make each triple canonical; output is every
    * surviving triple with its support — no doubles anywhere.
    *
    * Scale shape: the basket-pair relation is q282's self-join
    * restricted to L2 survivors (support ≥ 2 — a small fraction);
    * the third-item extension is one equi-join on the basket key with
    * two broadcast-sized L2 semi-joins; the final count is map-side-
    * combined on the canonical triple.
    */
  /** Staged Apriori builders, exposed so AprioriSpec can pin that the
    * downward-closure prunes sit ON THE DATA SIDE, before any per-
    * basket self-join — the property that bounds a viral basket's
    * cost. Lossless by anti-monotonicity: a frequent pair's items are
    * frequent (L1 prune before the pair count), and a triple-bearing
    * pair occurrence uses only L2-member items (membership prune
    * before the basket-pair join).
    */
  object Apriori {
    import org.apache.spark.sql.DataFrame

    /** items with support ≥ 2 (L1) — semi-join input to the pair count. */
    def l1Items(items: DataFrame): DataFrame =
      items.groupBy("pk").agg(count(lit(1)).as("sup1"))
        .where(col("sup1") >= 2).select("pk")

    def items1(items: DataFrame): DataFrame =
      items.join(l1Items(items), Seq("pk"), "left_semi")

    /** frequent pairs, counted over the L1-pruned items only. */
    def l2(items: DataFrame): DataFrame = {
      val it1 = items1(items)
      it1.as("a")
        .join(it1.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
        .agg(count(lit(1)).as("sup2"))
        .where(col("sup2") >= 2)
        .select("pa", "pb")
    }

    /** items that participate in ANY L2 pair — semi-join input to the
      * basket-pair join; a viral one-off basket contributes 0 rows here.
      */
    def items2(items: DataFrame, l2f: DataFrame): DataFrame =
      items.join(
        l2f.select(col("pa").as("pk")).union(l2f.select(col("pb").as("pk"))).distinct(),
        Seq("pk"), "left_semi")

    def triples(items: DataFrame): DataFrame =
      triplesFrom(l2(items), items2(items, l2(items)))

    /** The extension+count half, over any (L2, pruned-items) pair —
      * factored so the registered query can feed MATERIALIZED level
      * artifacts (classic Apriori persists each L_k; left lazy, the
      * L2 pipeline re-executes once per downstream reference — 4×
      * measured) while the spec drives it with in-memory fixtures.
      */
    def triplesFrom(l2f: DataFrame, it2: DataFrame): DataFrame = {
      // basket occurrences of L2 pairs, over L2-member items only — the
      // prune runs BEFORE the |basket|² pair join, not after it
      val bp = it2.as("a")
        .join(it2.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.ok").as("ok"), col("a.pk").as("pa"), col("b.pk").as("pb"))
        .join(l2f, Seq("pa", "pb"))
      // extend by a third in-basket item c > b, requiring (a,c) and
      // (b,c) frequent — downward closure, enforced pre-count
      val tri = bp.as("bp")
        .join(it2.as("c"), col("c.ok") === col("bp.ok") && col("c.pk") > col("bp.pb"))
        .select(col("bp.ok").as("ok"), col("bp.pa").as("pa"),
          col("bp.pb").as("pb"), col("c.pk").as("pc"))
        .join(l2f.select(col("pa"), col("pb").as("pc")), Seq("pa", "pc"))
        .join(l2f.select(col("pa").as("pb"), col("pb").as("pc")), Seq("pb", "pc"))
      tri.groupBy("pa", "pb", "pc")
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
    }
  }

  /** q316's L2 pair table and L2-pruned transaction set, materialized to
    * scratch parquet ONCE per data dir (the q151/`minhashPairsArtifact`
    * discipline — and here it is also the ALGORITHM's own structure:
    * Apriori persists each level L_k before mining the next; left lazy
    * the L2 pipeline re-executed once per downstream reference, 4× per
    * run). Oracles unchanged — the CTEs describe the same relations.
    */
  // Two-path artifact through Sources.artifactOnce (fingerprint-keyed,
  // single-writer): the L2 store is the memoized root and the pruned
  // items2 store hangs off it as a sibling dir — both build in the one
  // locked `build` call and memoize together, so consumers can never
  // observe one without the other.
  private def aprioriArtifacts(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (l2, it2) = graft.sources.Sources.artifactOnce(d, "apriori_l2") { a =>
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val l2 = graft.sources.Sources.write(Apriori.l2(items), a)
      (l2, graft.sources.Sources.write(Apriori.items2(items, l2.read(s)), a + "_items2"))
    }
    (l2.read(s), it2.read(s))
  }

  val aprioriTriples = Q(
    "q316_apriori_triples",
    (s, d) => {
      val (l2f, it2) = aprioriArtifacts(s, d)
      Apriori.triplesFrom(l2f, it2)
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                           FROM lineitem),
            l2 AS (SELECT pa, pb FROM (
                     SELECT a.pk AS pa, b.pk AS pb, count(*) AS sup2
                     FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
                     GROUP BY 1, 2) t
                   WHERE sup2 >= 2),
            bp AS (SELECT a.ok, a.pk AS pa, b.pk AS pb
                   FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
                   JOIN l2 ON l2.pa = a.pk AND l2.pb = b.pk),
            tri AS (SELECT bp.ok, bp.pa, bp.pb, c.pk AS pc
                    FROM bp JOIN items c ON c.ok = bp.ok AND c.pk > bp.pb
                    JOIN l2 x ON x.pa = bp.pa AND x.pb = c.pk
                    JOIN l2 y ON y.pa = bp.pb AND y.pb = c.pk)
            SELECT pa, pb, pc, CAST(count(*) AS BIGINT) AS support
            FROM tri GROUP BY 1, 2, 3
            HAVING count(*) >= 2""")
  )

  /** q283 — `Dataset.transpose` (Spark 4's new first-class API): rows
    * become columns keyed by an index column — the "metrics wide ↔
    * long" flip analysts do to eyeball a per-group summary, previously
    * hand-rolled with stack/pivot (q39/q68/q101). The engine semantics
    * under test: non-index values surface as STRINGS when source
    * columns disagree on type (least-common-type is string here), new
    * column names come from the index column's values, and column
    * order follows the index's sorted order. Input is the bounded
    * per-returnflag summary (3 rows → 3 value columns); the oracle
    * replays the flip as a UNION ALL of per-metric rows with
    * conditional aggregation — the portable spelling of a transpose.
    *
    * Scale note: transpose MATERIALIZES row keys as schema, so its
    * input must be a bounded aggregate (here 3×4) — the right tool for
    * summary flips, never for data-sized relations; the heavy work
    * (the lineitem aggregate feeding it) stays a map-side-combined
    * groupBy that this operator consumes without another shuffle.
    */
  val transposeQ = Q(
    "q283_transpose",
    (s, d) => {
      val summary = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
          countDistinct(col("l_suppkey")).as("n_supp"))
        .select(col("flag"), col("n_rows").cast("string"),
          col("sum_qty").cast("string"), col("n_supp").cast("string"))
      summary.transpose(col("flag"))
        .withColumnRenamed("key", "metric")
    },
    Some("""WITH s AS (SELECT l_returnflag AS flag,
                              CAST(count(*) AS BIGINT) AS n_rows,
                              sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                              CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
                       FROM lineitem GROUP BY 1)
            SELECT 'n_rows' AS metric,
                   CAST(max(CASE WHEN flag = 'A' THEN n_rows END) AS STRING) AS "A",
                   CAST(max(CASE WHEN flag = 'N' THEN n_rows END) AS STRING) AS "N",
                   CAST(max(CASE WHEN flag = 'R' THEN n_rows END) AS STRING) AS "R"
            FROM s
            UNION ALL
            SELECT 'sum_qty',
                   CAST(max(CASE WHEN flag = 'A' THEN sum_qty END) AS STRING),
                   CAST(max(CASE WHEN flag = 'N' THEN sum_qty END) AS STRING),
                   CAST(max(CASE WHEN flag = 'R' THEN sum_qty END) AS STRING)
            FROM s
            UNION ALL
            SELECT 'n_supp',
                   CAST(max(CASE WHEN flag = 'A' THEN n_supp END) AS STRING),
                   CAST(max(CASE WHEN flag = 'N' THEN n_supp END) AS STRING),
                   CAST(max(CASE WHEN flag = 'R' THEN n_supp END) AS STRING)
            FROM s""")
  )

  /** q305 — QUANTILE NORMALIZATION across groups: replace each value
    * with the POOLED distribution's value at the equivalent rank —
    * after the transform every event_type has (up to rank rounding)
    * the SAME marginal distribution, which is the property batch-
    * effect correction needs and the one q134's z-score cannot give
    * (z-scoring matches mean/variance but keeps each group's shape;
    * quantile normalization matches the whole curve — the
    * bioinformatics/feature-preprocessing classic). Rank-defined and
    * division-free: target rank = ⌈r·N/n_g⌉ computed as
    * (r·N + n_g − 1) div n_g in BIGINTs, and the normalized value is
    * an existing cent-integer SELECTED from the pooled order (q133's
    * no-interpolation discipline) — the whole query is exact.
    *
    * Scale shape: the pooled enumeration is the q98 two-phase
    * range-repartition + zipWithIndex (O(partitions) driver state —
    * never a partitionless window); within-group ranks are windows
    * over event_type partitions (q133/q134's per-group frame); the
    * rank→value mapping is an equi-join on the computed target rank.
    */
  val quantileNorm = Q(
    "q305_quantile_norm",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val ref = s.createDataset(
          ev.select(col("cents"), col("event_id")).as[(Long, Long)]
            .repartitionByRange(col("cents"), col("event_id"))
            .sortWithinPartitions(col("cents"), col("event_id"))
            .rdd.zipWithIndex()
            .map { case ((c, _), i) => (i + 1L, c) })
        .toDF("pos", "ref_cents")
      val total = ref.agg(max(col("pos")).as("n"))
      val ng = ev.groupBy("event_type").agg(count(lit(1)).as("n_g"))
      val wg = Window.partitionBy("event_type").orderBy("cents", "event_id")
      ev.withColumn("r", row_number().over(wg).cast("long"))
        .join(ng, Seq("event_type"))
        .crossJoin(broadcast(total))
        .withColumn("target", expr("(r * n + n_g - 1) div n_g"))
        .join(ref, col("target") === col("pos"))
        .select(col("event_id"), col("event_type"), col("cents"),
          col("ref_cents").as("norm_cents"))
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            ref AS (SELECT cents AS ref_cents,
                           CAST(row_number() OVER (ORDER BY cents, event_id)
                                AS BIGINT) AS pos
                    FROM ev),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
            grp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_g
                    FROM ev GROUP BY 1),
            rk AS (SELECT event_id, event_type, cents,
                          CAST(row_number() OVER (PARTITION BY event_type
                                                  ORDER BY cents, event_id)
                               AS BIGINT) AS r
                   FROM ev)
            SELECT rk.event_id, rk.event_type, rk.cents,
                   ref.ref_cents AS norm_cents
            FROM rk JOIN grp USING (event_type) CROSS JOIN tot
            JOIN ref ON ref.pos = (rk.r * tot.n + grp.n_g - 1) // grp.n_g""")
  )

  /** q308 — BITEMPORAL RESTATEMENT AUDIT (valid time × transaction
    * time): q163's SCD2 tracks what an attribute was WHEN; this adds
    * the second axis — what we BELIEVED at each ingest point — the
    * regulator's question ("what did the dashboard say after batch 1")
    * that a single-axis table cannot answer once late corrections
    * restate history. Fixture: three deterministic transaction
    * batches — originals, then batch-1 corrections (+1.00 for
    * event_id % 5 = 0), then batch-2 corrections (+2.00 for
    * event_id % 7 = 0; an event divisible by both carries three
    * versions). For each as-of batch B, every event's believed value
    * is its LATEST version with batch ≤ B (max(struct) keeper — the
    * q89 skew-immune idiom, no window over version history), rolled
    * up to (asof_batch, event_type, day) cent-sums with a corrected-
    * row count. Restatement is visible as the SAME (type, day) cell
    * changing across as-of batches — the audit trail itself.
    *
    * Scale shape: the version relation is events + delta-sized
    * correction batches (never a rewritten corpus — exactly how a
    * lakehouse accrues restatements); the ×3 as-of expansion is
    * bounded by the number of audit points, not the data; everything
    * downstream is map-side-combined integer aggregation. Exact
    * cent/count arithmetic end-to-end — full hash oracle.
    */
  val bitemporalAsof = Q(
    "q308_bitemporal_asof",
    (s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("event_id"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val versions = base.select(col("event_type"), col("day"), col("event_id"),
          lit(0L).as("batch"), col("cents"))
        .unionAll(base.where(col("event_id") % 5 === 0)
          .select(col("event_type"), col("day"), col("event_id"),
            lit(1L).as("batch"), (col("cents") + 100L).as("cents")))
        .unionAll(base.where(col("event_id") % 7 === 0)
          .select(col("event_type"), col("day"), col("event_id"),
            lit(2L).as("batch"), (col("cents") + 200L).as("cents")))
      versions
        .crossJoin(broadcast(s.range(0, 3).select(col("id").as("asof_batch"))))
        .where(col("batch") <= col("asof_batch"))
        .groupBy("asof_batch", "event_type", "day", "event_id")
        .agg(max(struct(col("batch"), col("cents"))).as("m"))
        .groupBy("asof_batch", "event_type", "day")
        .agg(count(lit(1)).as("n_events"),
          sum(col("m.cents")).as("centsum"),
          sum(when(col("m.batch") >= 1, 1L).otherwise(0L)).as("n_corrected"))
    },
    Some("""WITH base AS (SELECT event_type, CAST(ts AS DATE) AS day, event_id,
                                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                          FROM events),
            versions AS (
              SELECT event_type, day, event_id, 0 AS batch, cents FROM base
              UNION ALL
              SELECT event_type, day, event_id, 1, cents + 100 FROM base
              WHERE event_id % 5 = 0
              UNION ALL
              SELECT event_type, day, event_id, 2, cents + 200 FROM base
              WHERE event_id % 7 = 0),
            asofb AS (SELECT unnest(generate_series(0, 2)) AS asof_batch),
            believed AS (
              SELECT a.asof_batch, v.event_type, v.day, v.event_id,
                     max(struct_pack(batch := v.batch, cents := v.cents)) AS m
              FROM versions v JOIN asofb a ON v.batch <= a.asof_batch
              GROUP BY 1, 2, 3, 4)
            SELECT CAST(asof_batch AS BIGINT) AS asof_batch, event_type, day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum((m).cents) AS BIGINT) AS centsum,
                   CAST(sum(CASE WHEN (m).batch >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_corrected
            FROM believed GROUP BY 1, 2, 3""")
  )

  /** q311 — CDC NET-EFFECT COMPACTION: fold a change-data-capture op
    * log (INSERT/UPDATE/DELETE per key, ordered by sequence number)
    * into the NET action per key versus the initial snapshot — the
    * "net changes" mode every lakehouse change feed (Delta CDF,
    * Iceberg changelogs, Debezium compaction) offers so a downstream
    * MERGE applies one row per key instead of replaying every
    * intermediate op. q88 applies a single-batch upsert and q130
    * diffs two fixed versions; this nets an arbitrary op SEQUENCE —
    * delete-then-reinsert collapses to an update, update-after-delete
    * is a no-op, touched-but-identical nets to unchanged.
    *
    * The fold is CLOSED-FORM, not sequential: presence after the log =
    * (last INSERT seq) > (last DELETE seq) — the initial snapshot rides
    * as INSERT@0, a DELETE-free key defaults to −1 — and the final
    * value is the max-(seq)-struct over value-carrying ops AFTER the
    * last delete (an UPDATE on an absent row is automatically
    * overridden: any later re-INSERT has a higher seq, and with no
    * re-INSERT presence is false so the value is never read). Two
    * skew-immune aggregates replace a per-key ordered replay — the
    * q89/q308 keeper idiom, no window over op history.
    *
    * Fixture (deterministic from orders): U@1 sets cents+100 on
    * key%10, D@2 drops key%17, U@3 sets cents+200 on key%13 (a no-op
    * for already-deleted %221 keys), I@4 re-inserts key%34 at 50,
    * I@5 inserts BRAND-NEW keys (key+10^9 for key%23) at 75 — every
    * net class is populated, including the delete+reinsert collapse.
    *
    * Scale shape: the op log is delta-sized (how a change feed
    * actually arrives — never a rewritten corpus); both aggregates
    * are map-side-combined on the key; the snapshot join is
    * one equi-join; the rollup output is 4 rows of exact integers.
    */
  val cdcNetEffect = Q(
    "q311_cdc_net_effect",
    (s, d) => {
      val snap = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("base"))
      val ops = snap.select(col("k"), lit(0L).as("seq"), lit("I").as("op"), col("base").as("cents"))
        .unionAll(snap.where(col("k") % 10 === 0)
          .select(col("k"), lit(1L).as("seq"), lit("U").as("op"), (col("base") + 100L).as("cents")))
        .unionAll(snap.where(col("k") % 17 === 0)
          .select(col("k"), lit(2L).as("seq"), lit("D").as("op"), lit(0L).as("cents")))
        .unionAll(snap.where(col("k") % 13 === 0)
          .select(col("k"), lit(3L).as("seq"), lit("U").as("op"), (col("base") + 200L).as("cents")))
        .unionAll(snap.where(col("k") % 34 === 0)
          .select(col("k"), lit(4L).as("seq"), lit("I").as("op"), lit(50L).as("cents")))
        .unionAll(snap.where(col("k") % 23 === 0)
          .select((col("k") + 1000000000L).as("k"), lit(5L).as("seq"), lit("I").as("op"), lit(75L).as("cents")))
      val bounds = ops.groupBy("k").agg(
        max(when(col("op") === "I", col("seq"))).as("mi"),
        coalesce(max(when(col("op") === "D", col("seq"))), lit(-1L)).as("md"))
      val fin = ops.join(bounds, "k")
        .where(col("op") =!= "D" && col("seq") > col("md"))
        .groupBy("k", "mi", "md")
        .agg(max(struct(col("seq"), col("cents"))).as("v"))
        .where(col("mi") > col("md"))
        .select(col("k"), col("v.cents").as("after"))
      snap.join(fin, Seq("k"), "full_outer")
        .select(col("k"), col("base"), col("after"))
        .withColumn("net_action",
          when(col("base").isNotNull && col("after").isNull, "deleted")
            .when(col("base").isNull, "inserted")
            .when(col("base") === col("after"), "unchanged")
            .otherwise("updated"))
        .groupBy("net_action")
        .agg(count(lit(1)).as("n_keys"),
          sum(coalesce(col("after"), lit(0L)) - coalesce(col("base"), lit(0L)))
            .as("net_cents_delta"))
    },
    Some("""WITH snap AS (SELECT o_orderkey AS k,
                                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS base
                          FROM orders),
            ops AS (
              SELECT k, 0 AS seq, 'I' AS op, base AS cents FROM snap
              UNION ALL SELECT k, 1, 'U', base + 100 FROM snap WHERE k % 10 = 0
              UNION ALL SELECT k, 2, 'D', 0 FROM snap WHERE k % 17 = 0
              UNION ALL SELECT k, 3, 'U', base + 200 FROM snap WHERE k % 13 = 0
              UNION ALL SELECT k, 4, 'I', 50 FROM snap WHERE k % 34 = 0
              UNION ALL SELECT k + 1000000000, 5, 'I', 75 FROM snap WHERE k % 23 = 0),
            bounds AS (SELECT k,
                              max(CASE WHEN op = 'I' THEN seq END) AS mi,
                              coalesce(max(CASE WHEN op = 'D' THEN seq END), -1) AS md
                       FROM ops GROUP BY 1),
            fin AS (SELECT o.k,
                           (max(struct_pack(seq := o.seq, cents := o.cents))).cents
                             AS after
                    FROM ops o JOIN bounds b ON b.k = o.k
                    WHERE o.op <> 'D' AND o.seq > b.md AND b.mi > b.md
                    GROUP BY 1),
            net AS (SELECT coalesce(s.k, f.k) AS k, s.base, f.after,
                           CASE WHEN s.base IS NOT NULL AND f.after IS NULL
                                  THEN 'deleted'
                                WHEN s.base IS NULL THEN 'inserted'
                                WHEN s.base = f.after THEN 'unchanged'
                                ELSE 'updated' END AS net_action
                    FROM snap s FULL JOIN fin f ON f.k = s.k)
            SELECT net_action, CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(coalesce(after, 0) - coalesce(base, 0)) AS BIGINT)
                     AS net_cents_delta
            FROM net GROUP BY 1""")
  )

  /** q313 — FELLEGI–SUNTER RECORD-LINKAGE SCORING: probabilistic
    * entity resolution's canonical weight model (Fellegi & Sunter
    * 1969, the engine inside Splink/dedupe.io): each blocked candidate
    * pair gets an AGREEMENT VECTOR over comparison fields, and each
    * field contributes ln(m/u) on agreement or ln((1−m)/(1−u)) on
    * disagreement — m the match-agreement rate (here fixed priors),
    * u the CHANCE agreement rate among non-matches, estimated from
    * the field's value-frequency distribution as Σ n_v²/N² (the
    * standard frequency-based u). The log-likelihood-ratio score is
    * what q144's single-field fuzzy threshold cannot give: a
    * calibrated multi-evidence ranking where a rare-value agreement
    * outweighs a common-value one. Fields: market segment, account-
    * balance bucket (shifted before integer division so negative
    * balances bucket identically on both engines), key last digit.
    *
    * Portability: u is one division of exact integers; each ln weight
    * is quantized to MICRO-UNITS as a BIGINT (the q279 libm rule,
    * then integers all the way); a pair's score is an integer SUM of
    * its three weight micros — order-free by construction — divided
    * once for display. Blocking on (nation, key mod 7) bounds the
    * pair space; ordering on (score desc, keys) is total because the
    * score is an integer in disguise.
    *
    * Scale shape: the u estimation is three map-side-combined
    * value-frequency aggregates; the weight table is a 1-row
    * broadcast artifact (train-once — the q279 mount); candidate
    * generation is the blocked self-join every production linker
    * runs (never all-pairs), and the score is a narrow projection
    * over it.
    */
  val recordLinkage = Q(
    "q313_record_linkage",
    (s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("k"),
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal"))
        .withColumn("balb", expr("(bal + 100000L) div 100000L"))
        .withColumn("dig", col("k") % 10)
        .withColumn("blk", col("k") % 7)
      def uOf(c: String): org.apache.spark.sql.DataFrame =
        cust.groupBy(c).agg(count(lit(1)).as("nv"))
          .agg(sum(col("nv") * col("nv")).as("ss"), sum(col("nv")).as("nn"))
          .select((col("ss").cast("double")
            / (col("nn") * col("nn")).cast("double")).as(s"u_$c"))
      // u clamped below 1.0: a single-valued comparison field has u = 1
      // and ln(mc/(1-u)) would be a divide-by-zero — NULL in Spark
      // (non-ANSI) but inf in DuckDB, a latent oracle divergence.
      def wPair(u0: org.apache.spark.sql.Column, m: Double, mc: Double, tag: String) = {
        val u = least(u0, lit(1.0 - 1e-12))
        Seq(
          floor(log(lit(m) / u) * lit(1e6) + lit(0.5)).cast("long").as(s"wa_$tag"),
          floor(log(lit(mc) / (lit(1.0) - u)) * lit(1e6) + lit(0.5)).cast("long").as(s"wd_$tag"))
      }
      val weights = uOf("seg").crossJoin(uOf("balb")).crossJoin(uOf("dig"))
        .select(wPair(col("u_seg"), 0.95, 0.05, "seg")
          ++ wPair(col("u_balb"), 0.9, 0.1, "bal")
          ++ wPair(col("u_dig"), 0.85, 0.15, "dig"): _*)
      cust.as("x").join(cust.as("y"),
          col("x.nat") === col("y.nat") && col("x.blk") === col("y.blk")
            && col("x.k") < col("y.k"))
        .select(col("x.k").as("key_a"), col("y.k").as("key_b"),
          (col("x.seg") === col("y.seg")).as("ag_seg"),
          (col("x.balb") === col("y.balb")).as("ag_bal"),
          (col("x.dig") === col("y.dig")).as("ag_dig"))
        .crossJoin(broadcast(weights))
        .withColumn("score_u",
          when(col("ag_seg"), col("wa_seg")).otherwise(col("wd_seg"))
            + when(col("ag_bal"), col("wa_bal")).otherwise(col("wd_bal"))
            + when(col("ag_dig"), col("wa_dig")).otherwise(col("wd_dig")))
        .select(col("key_a"), col("key_b"), col("ag_seg"), col("ag_bal"),
          col("ag_dig"), (col("score_u").cast("double") / lit(1e6)).as("score"))
        .orderBy(col("score").desc, col("key_a").asc, col("key_b").asc)
        .limit(50)
    },
    Some("""WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                                 CAST(c_nationkey AS BIGINT) AS nat,
                                 c_mktsegment AS seg,
                                 (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                                  + 100000) // 100000 AS balb,
                                 CAST(c_custkey AS BIGINT) % 10 AS dig,
                                 CAST(c_custkey AS BIGINT) % 7 AS blk
                          FROM customer),
            useg AS (SELECT CAST(sum(nv*nv) AS DOUBLE)
                            / CAST(sum(nv)*sum(nv) AS DOUBLE) AS u
                     FROM (SELECT count(*) AS nv FROM cust GROUP BY seg) t),
            ubal AS (SELECT CAST(sum(nv*nv) AS DOUBLE)
                            / CAST(sum(nv)*sum(nv) AS DOUBLE) AS u
                     FROM (SELECT count(*) AS nv FROM cust GROUP BY balb) t),
            udig AS (SELECT CAST(sum(nv*nv) AS DOUBLE)
                            / CAST(sum(nv)*sum(nv) AS DOUBLE) AS u
                     FROM (SELECT count(*) AS nv FROM cust GROUP BY dig) t),
            uc AS (SELECT least(useg.u, 1 - 1e-12) AS us,
                          least(ubal.u, 1 - 1e-12) AS ub,
                          least(udig.u, 1 - 1e-12) AS ud
                   FROM useg, ubal, udig),
            w AS (SELECT
                    CAST(floor(ln(0.95 / us) * 1e6 + 0.5) AS BIGINT) AS wa_seg,
                    CAST(floor(ln(0.05 / (1.0 - us)) * 1e6 + 0.5) AS BIGINT) AS wd_seg,
                    CAST(floor(ln(0.9 / ub) * 1e6 + 0.5) AS BIGINT) AS wa_bal,
                    CAST(floor(ln(0.1 / (1.0 - ub)) * 1e6 + 0.5) AS BIGINT) AS wd_bal,
                    CAST(floor(ln(0.85 / ud) * 1e6 + 0.5) AS BIGINT) AS wa_dig,
                    CAST(floor(ln(0.15 / (1.0 - ud)) * 1e6 + 0.5) AS BIGINT) AS wd_dig
                  FROM uc)
            SELECT x.k AS key_a, y.k AS key_b,
                   x.seg = y.seg AS ag_seg,
                   x.balb = y.balb AS ag_bal,
                   x.dig = y.dig AS ag_dig,
                   CAST((CASE WHEN x.seg = y.seg THEN w.wa_seg ELSE w.wd_seg END
                       + CASE WHEN x.balb = y.balb THEN w.wa_bal ELSE w.wd_bal END
                       + CASE WHEN x.dig = y.dig THEN w.wa_dig ELSE w.wd_dig END)
                        AS DOUBLE) / 1e6 AS score
            FROM cust x JOIN cust y
              ON y.nat = x.nat AND y.blk = x.blk AND x.k < y.k
            CROSS JOIN w
            ORDER BY score DESC, key_a ASC, key_b ASC LIMIT 50""")
  )

  /** q315 — DIFFERENTIAL-PRIVACY NOISE MECHANISM (deterministic
    * Laplace audit): per-type event counts released through the
    * ε = 1 Laplace mechanism — the other half of the privacy toolkit
    * beside q240 (k-anonymity suppresses small groups; DP perturbs
    * every release with calibrated noise so membership is deniable at
    * ANY group size, the aggregate-release standard from census
    * tables to training-data telemetry). The Laplace draw is the
    * textbook inverse-CDF transform X = −(Δf/ε)·sgn(u−½)·ln(1−2|u−½|)
    * applied to a DETERMINISTIC uniform u = (h + ½)/2⁶⁰ from the
    * seeded 60-bit md5 of the release key (the q79/q152 hash-draw
    * discipline — reproducible across runs and engines, so the
    * mechanism itself is hash-auditable where a true RNG would force
    * rows-only; a production release would swap in a real entropy
    * source and KEEP this exact plan). Sensitivity Δf = 1 (one event
    * changes one count by one). The true count rides beside the
    * noised release as the AUDIT column — this is the mechanism's
    * calibration table, not the public artifact.
    *
    * Portability: h is exact; u is one division by the exact power
    * 2⁶⁰; sgn is a CASE (DuckDB's sign() return type differs — the
    * CASE sidesteps it); ln is quantized to integer micros (q279
    * libm rule); the noised count is exact-count-as-double + quantized
    * noise. Scale shape: one map-side-combined count; the mechanism
    * is a narrow projection at GROUP grain — noise cost is O(releases),
    * independent of corpus size, which is exactly why DP releases
    * scale.
    */
  val dpNoisedCounts = Q(
    "q315_dp_noised_counts",
    (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      counts
        .withColumn("h", expr("CAST(conv(substring(md5(CAST(concat('dp|', " +
          "event_type) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("u", (col("h").cast("double") + lit(0.5))
          / lit(1152921504606846976L))
        .withColumn("sgn", when(col("u") >= 0.5, lit(1.0)).otherwise(lit(-1.0)))
        .withColumn("noise_q", floor(-col("sgn")
          * log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5)))
          * lit(1e6) + lit(0.5)).cast("long"))
        .select(col("event_type"), col("n"), lit(1.0).as("epsilon"),
          (col("noise_q").cast("double") / lit(1e6)).as("noise"),
          (col("n").cast("double") + col("noise_q").cast("double") / lit(1e6))
            .as("noised_count"))
    },
    Some("""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                       FROM events GROUP BY 1),
            h AS (SELECT event_type, n,
                         ('0x' || substr(md5('dp|' || event_type), 1, 15))::BIGINT
                           AS h
                  FROM c),
            u AS (SELECT event_type, n,
                         (CAST(h AS DOUBLE) + 0.5) / 1152921504606846976 AS u
                  FROM h),
            z AS (SELECT event_type, n,
                         CAST(floor(-(CASE WHEN u >= 0.5 THEN CAST(1 AS DOUBLE)
                                           ELSE CAST(-1 AS DOUBLE) END)
                                    * ln(1.0 - 2.0 * abs(u - 0.5))
                                    * 1e6 + 0.5) AS BIGINT) AS noise_q
                  FROM u)
            SELECT event_type, n, CAST(1 AS DOUBLE) AS epsilon,
                   CAST(noise_q AS DOUBLE) / 1e6 AS noise,
                   CAST(n AS DOUBLE) + CAST(noise_q AS DOUBLE) / 1e6
                     AS noised_count
            FROM z""")
  )

  /** q340 — PERSONALIZED PAGERANK (random walk with restart) over the
    * co-purchase graph: the "related items for THESE seeds" recommender
    * primitive — q118's TextRank is GLOBAL PageRank (uniform teleport,
    * one importance score for the whole graph); PPR teleports back to a
    * SEED SET, so mass concentrates in the seeds' neighborhood and the
    * ranking answers a query, not the corpus. Graph = q316's L2
    * frequent-pair artifact (support ≥ 2, symmetrized, unweighted —
    * the co-purchase graph every "bought together" panel walks); seeds
    * = the 4 smallest node ids (a deterministic stand-in for a user's
    * basket); damping 0.85.
    *
    * INTEGER-EXACT iteration: scores are BIGINT micros, each out-edge
    * contribution is (85·r) div (100·deg) — truncating division on
    * both engines, mass loss deterministic and identical — and the
    * teleport re-injects 150000 div |seeds| micros per seed each step;
    * three unrolled steps (the q63/q330 discipline), top-20 by
    * (score desc, node). No float appears anywhere, so the full
    * ranking has a hash oracle — where a double-powered PPR would
    * force a tolerance band.
    *
    * Scale shape: the L2 edges come from the materialized per-dir
    * artifact (built once — q316's train-once discipline); each step
    * is one frontier⋈edges join + a map-side-combined sum at node
    * grain (the q70/q301 frontier shape); top-20 is TakeOrdered.
    */
  val personalizedPagerank = Q(
    "q340_personalized_pagerank",
    (s, d) => {
      val l2f = aprioriArtifacts(s, d)._1
      val edges = l2f.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(l2f.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val seeds = edges.select(col("src").as("node")).distinct()
        .orderBy(col("node").asc).limit(4)
      val r0 = seeds.withColumn("score", lit(250000L))
      def step(r: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val contrib = r.join(edges, r("node") === edges("src"))
          .join(deg, "src")
          .select(col("dst").as("node"),
            expr("(85L * score) div (100L * deg)").as("c"))
          .groupBy("node").agg(sum(col("c")).as("c"))
        seeds.withColumn("t", lit(150000L / 4))
          .join(contrib, Seq("node"), "full")
          .select(col("node"),
            (coalesce(col("t"), lit(0L)) + coalesce(col("c"), lit(0L))).as("score"))
      }
      val r3 = step(step(step(r0)))
      r3.orderBy(col("score").desc, col("node").asc).limit(20)
        .select(col("node"), col("score").as("score_micro"))
    },
    Some {
      def stepSql(k: Int): String =
        s"""c$k AS (SELECT e.dst AS node,
                        CAST(sum((85 * r.score) // (100 * dg.deg)) AS BIGINT) AS c
                 FROM r${k - 1} r
                 JOIN edges e ON e.src = r.node
                 JOIN deg dg ON dg.src = e.src
                 GROUP BY 1),
           r$k AS (SELECT coalesce(s.node, c.node) AS node,
                        CAST(coalesce(s.t, 0) + coalesce(c.c, 0) AS BIGINT) AS score
                 FROM (SELECT node, CAST(37500 AS BIGINT) AS t FROM seeds) s
                 FULL JOIN c$k c ON c.node = s.node)"""
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                         FROM lineitem),
          l2 AS (SELECT pa, pb FROM (
                   SELECT a.pk AS pa, b.pk AS pb, count(*) AS sup2
                   FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2) t
                 WHERE sup2 >= 2),
          edges AS (SELECT pa AS src, pb AS dst FROM l2
                    UNION ALL SELECT pb, pa FROM l2),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM edges GROUP BY 1),
          seeds AS (SELECT DISTINCT src AS node FROM edges
                    ORDER BY src ASC LIMIT 4),
          r0 AS (SELECT node, CAST(250000 AS BIGINT) AS score FROM seeds),
          ${(1 to 3).map(stepSql).mkString(",\n")}
          SELECT node, score AS score_micro FROM r3
          ORDER BY score DESC, node ASC LIMIT 20"""
    }
  )

  val all: Seq[Q] = Seq(personalizedPagerank, groupingSets, pivot, percentiles, jsonExtract, asofJoin,
    rangeJoin, saltedAgg, approxPercentile, arrayFuncs, subqueries, statsAgg,
    rangeFrame, exceptAll, stringTransforms, outerJoin, rankFuncs, unpivotQ,
    mergeUpsert, bloomJoin, saltedJoin, versionDiff, winsorize, zscore, asofNative,
    madOutliers, quarantine, quarantineCsv, scd2, variantExtract, variantShred,
    collatedGroup, lateralTopK, nullSafeJoin, unionByNameDrift, tryCast, aqeSkewJoin,
    sqlUdf, mapFunctions, joinHints, calendarWindows, cachedDim, orderedSetAggs,
    regrTrend, psiDrift, skyline, bitMasks, modeAgg, gridRadiusJoin,
    groupingIdQ, argmaxAgg, higherMoments, weightedMedian, scriptTransform,
    timestampNtz, intersectAll, pivotMulti, kAnonymity, sqlPipe, notInNulls,
    sqlScripting, parameterizedSql, keysetPagination, filterClause,
    floatSemantics, rebalanceWrite, aqeJoinDemotion, groupByAll,
    marketBasket, transposeQ, quantileNorm, bitemporalAsof, cdcNetEffect,
    recordLinkage, dpNoisedCounts, aprioriTriples)
}
