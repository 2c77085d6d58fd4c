package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Data profiling — the `ANALYZE TABLE`-shaped operator every ingest
  * pipeline runs before touching a new drop: per-column null counts,
  * exact distinct cardinality, and min/max, emitted as one narrow
  * (column, stats) relation.
  */
object Profiling {

  private val Cols = Seq("doc_id", "lang", "source", "n_chars", "text")

  /** q101 — ONE-PASS column profile of `documents`: every per-column
    * statistic is an aggregate column of a SINGLE aggregation over a
    * single scan (Catalyst plans the multiple exact count-distincts via
    * one Expand), and the 1-row result pivots to long form with `stack`
    * — row-count work never repeats per column, where the naive
    * per-column loop would scan the table five times. At 100 TB the
    * exact distincts swap for `approx_count_distinct` (q19's HLL++
    * sketch) and the Expand disappears — that variant is REGISTERED as
    * q105 below; min/max/null counts are already
    * plain single-pass aggregates. Min/max surface as strings so one
    * schema covers every column type; numeric casts are engine-portable
    * (integer-to-string only).
    */
  val profile = Q(
    "q101_profile",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val aggs = Cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
          countDistinct(col(c)).as(s"dist_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))
      } :+ count(lit(1)).as("n_rows")
      val one = docs.agg(aggs.head, aggs.tail: _*)
      one.select(
        expr(s"""stack(${Cols.size},
                 ${Cols.map(c => s"'$c', null_$c, dist_$c, min_$c, max_$c").mkString(", ")})
                 AS (col_name, n_null, n_distinct, min_str, max_str)"""),
        col("n_rows"))
    },
    Some {
      val selects = Cols.map { c =>
        s"""SELECT '$c' AS col_name,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   count(DISTINCT $c) AS n_distinct,
                   CAST(min($c) AS VARCHAR) AS min_str,
                   CAST(max($c) AS VARCHAR) AS max_str,
                   count(*) AS n_rows
            FROM documents"""
      }
      selects.mkString("\n UNION ALL \n")
    }
  )

  /** q105 — the 100 TB variant q101's scaladoc promises: the SAME
    * one-pass long-form profile with the count-distincts served by
    * `approx_count_distinct` (HLL++, the q19 sketch) — every sketched
    * statistic is a plain streaming aggregate, so the production profile
    * is one true scan with no row multiplication at any corpus size.
    * HASH-GATED via the audit-boolean discipline (q103/q126, round-15
    * verdict task 1): the HLL estimate is engine-specific, so the query
    * emits the exact distincts (the q101 companions — an audit runs both
    * paths; production runs the sketch alone) plus a per-column `hll_ok`
    * boolean the oracle expects TRUE — estimate within 15% (3·rsd at the
    * default rsd=0.05, integer form) of exact, with ±1 absolute slack so
    * tiny cardinalities (where HLL++'s sparse mode is exact anyway)
    * don't demand a sub-unit band. `ProfilingHllSpec` additionally pins
    * the estimates against q101's exacts in-engine.
    */
  val profileHll = Q(
    "q105_profile_hll",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val aggs = Cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
          countDistinct(col(c)).as(s"dist_$c"),
          approx_count_distinct(col(c)).as(s"hll_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))
      } :+ count(lit(1)).as("n_rows")
      val one = docs.agg(aggs.head, aggs.tail: _*)
      one.select(
        expr(s"""stack(${Cols.size},
                 ${Cols.map(c => s"'$c', null_$c, dist_$c, " +
            s"abs(hll_$c - dist_$c) * 20 <= dist_$c * 3 OR abs(hll_$c - dist_$c) <= 1, " +
            s"min_$c, max_$c").mkString(", ")})
                 AS (col_name, n_null, n_distinct_exact, hll_ok, min_str, max_str)"""),
        col("n_rows"))
    },
    Some {
      val selects = Cols.map { c =>
        s"""SELECT '$c' AS col_name,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   count(DISTINCT $c) AS n_distinct_exact,
                   TRUE AS hll_ok,
                   CAST(min($c) AS VARCHAR) AS min_str,
                   CAST(max($c) AS VARCHAR) AS max_str,
                   count(*) AS n_rows
            FROM documents"""
      }
      selects.mkString("\n UNION ALL \n")
    }
  )

  /** q129 — MATERIALIZED-AGGREGATE MAINTENANCE: refresh per-source
    * corpus statistics from a stored base aggregate plus a delta batch,
    * WITHOUT rescanning the base corpus — the daily-stats-refresh shape
    * of a living 100 TB dataset (q101 profiles a drop from scratch; q129
    * keeps the profile current as drops arrive). The base partition
    * (doc_id % 10 ≠ 0, "yesterday's corpus") is aggregated ONCE and
    * written to scratch parquet (the materialized view — q76/q99's
    * train-once discipline); the refresh reads that artifact, aggregates
    * only the DELTA (doc_id % 10 = 0), and MERGES by summing partials —
    * sound because count/sum are algebraic (partials compose), which is
    * the same property map-side combine rests on. The oracle recomputes
    * from the full table: equality proves the merge is exact, not
    * approximately right.
    *
    * Scale shape: the refresh touches |delta| rows + a source-cardinality
    * artifact; nothing else. Token counts are integers (the q127
    * counter); null sources coalesce (q94's rule) so the merge join
    * never drops a group.
    */
  val statsMaintenance = Q(
    "q129_stats_maintenance",
    (s, d) => {
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .select(coalesce(col("source"), lit("unknown")).as("source"),
          size(filter(split(col("text"), " "), t => t =!= ""))
            .cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      val docs = Tables.documents(s, d)
      val base = _root_.graft.sources.Sources.write(
        partials(docs.where(col("doc_id") % 10 =!= 0)),
        _root_.graft.sources.Sources.scratchLeaf(d, "stats_base")).read(s)
      base.unionAll(partials(docs.where(col("doc_id") % 10 === 0)))
        .groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("total_tokens").as("total_tokens"))
    },
    Some("""SELECT coalesce(source, 'unknown') AS source,
                   count(*) AS n_docs,
                   CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                        AS BIGINT) AS total_tokens
            FROM documents GROUP BY coalesce(source, 'unknown')""")
  )

  /** q146 — CONSTRAINT-SUITE data-quality audit (the dbt-test /
    * Great-Expectations shape): a staged load of the star schema is
    * checked against five constraint classes — FK orphans (two edges of
    * the star), primary-key duplicates, a range rule, and a not-null
    * rule — emitting one (constraint, violated, checked) row each. The
    * staged load is deterministically dirtied in closed form (the q93
    * reconstruction move: every 97th order's custkey breaks, every
    * 131st order vanishes so its lineitems orphan, a slice of customers
    * double-loads, every 101st quantity negates, every 89th order
    * priority nulls out) so both engines audit byte-identical inputs
    * and every class actually fires — an all-zeros audit over clean
    * synthetic tables would prove nothing.
    *
    * Scale shape: each FK check is a LEFT ANTI join on the key (the
    * planner broadcasts the distinct-key side only if it is small —
    * no forced hint; at 100 TB both sides shuffle-partition by the
    * key); PK duplicates and the range/null rules are map-side-combined
    * aggregates — the scan-heavy rules on one table COULD fuse into a
    * single pass, but each constraint is an independent tiny result, so
    * the audit parallelizes per constraint instead (a failed rule's
    * lineage stays isolated). The result is a handful of rows at any
    * corpus size.
    */
  val constraintAudit = Q(
    "q146_constraint_audit",
    (s, d) => {
      val customerRaw = Tables.customer(s, d)
      val ordersRaw = Tables.orders(s, d)
      val lineitem = Tables.lineitem(s, d)
      // staged load, dirtied in closed form
      val customer = customerRaw.unionAll(
        customerRaw.where(col("c_custkey") % 500 === 0)) // double-load slice
      val orders = ordersRaw
        .where(col("o_orderkey") % 131 =!= 0)            // dropped parents
        .withColumn("o_custkey",
          when(col("o_orderkey") % 97 === 0, col("o_custkey") + lit(1000000000L))
            .otherwise(col("o_custkey")))                // broken FK
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 89 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")))          // nulled field
      val li = lineitem.withColumn("l_quantity",
        when((col("l_orderkey") + col("l_linenumber")) % 101 === 0,
          -col("l_quantity")).otherwise(col("l_quantity"))) // range breaker

      def row(name: String, violated: org.apache.spark.sql.DataFrame,
          checked: org.apache.spark.sql.DataFrame) =
        violated.agg(count(lit(1)).as("violated"))
          .crossJoin(checked.agg(count(lit(1)).as("checked")))
          .select(lit(name).as("rule"), col("violated"), col("checked"))

      val fkOrders = row("orders.o_custkey->customer",
        orders.join(customer.select(col("c_custkey").as("o_custkey")).distinct(),
          Seq("o_custkey"), "left_anti"), orders)
      val fkLineitem = row("lineitem.l_orderkey->orders",
        li.join(orders.select(col("o_orderkey").as("l_orderkey")).distinct(),
          Seq("l_orderkey"), "left_anti"), li)
      val pkDup = customer.groupBy("c_custkey").agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .agg(coalesce(sum(col("n") - 1), lit(0L)).cast("long").as("violated"))
        .crossJoin(customer.agg(count(lit(1)).as("checked")))
        .select(lit("customer.c_custkey_unique").as("rule"),
          col("violated"), col("checked"))
      val range = row("lineitem.l_quantity_range",
        li.where(col("l_quantity") < 1 || col("l_quantity") > 50), li)
      val nn = row("orders.o_orderpriority_not_null",
        orders.where(col("o_orderpriority").isNull), orders)
      Seq(fkOrders, fkLineitem, pkDup, range, nn).reduce(_ unionAll _)
    },
    Some("""WITH customer_s AS (
              SELECT * FROM customer
              UNION ALL SELECT * FROM customer WHERE c_custkey % 500 = 0),
            orders_s AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 97 = 0
                          THEN o_custkey + 1000000000 ELSE o_custkey END AS o_custkey,
                     CASE WHEN o_orderkey % 89 = 0
                          THEN NULL ELSE o_orderpriority END AS o_orderpriority
              FROM orders WHERE o_orderkey % 131 <> 0),
            li_s AS (
              SELECT l_orderkey, l_linenumber,
                     CASE WHEN (l_orderkey + l_linenumber) % 101 = 0
                          THEN -l_quantity ELSE l_quantity END AS l_quantity
              FROM lineitem)
            SELECT 'orders.o_custkey->customer' AS rule,
                   CAST((SELECT count(*) FROM orders_s o
                         WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer_s))
                        AS BIGINT) AS violated,
                   CAST((SELECT count(*) FROM orders_s) AS BIGINT) AS checked
            UNION ALL
            SELECT 'lineitem.l_orderkey->orders',
                   CAST((SELECT count(*) FROM li_s l
                         WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders_s))
                        AS BIGINT),
                   CAST((SELECT count(*) FROM li_s) AS BIGINT)
            UNION ALL
            SELECT 'customer.c_custkey_unique',
                   CAST((SELECT coalesce(sum(n - 1), 0) FROM (
                           SELECT count(*) AS n FROM customer_s
                           GROUP BY c_custkey HAVING count(*) > 1) t)
                        AS BIGINT),
                   CAST((SELECT count(*) FROM customer_s) AS BIGINT)
            UNION ALL
            SELECT 'lineitem.l_quantity_range',
                   CAST((SELECT count(*) FROM li_s
                         WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
                   CAST((SELECT count(*) FROM li_s) AS BIGINT)
            UNION ALL
            SELECT 'orders.o_orderpriority_not_null',
                   CAST((SELECT count(*) FROM orders_s
                         WHERE o_orderpriority IS NULL) AS BIGINT),
                   CAST((SELECT count(*) FROM orders_s) AS BIGINT)""")
  )

  private val DriftDim = 64

  /** q156 — EMBEDDING CENTROID DRIFT MONITOR: per-label centroids of a
    * reference window (`vec_id % 2 = 0` — "yesterday's snapshot") vs a
    * fresh batch (`% 2 = 1`), compared by centroid cosine and L2 shift —
    * the embedding-space health check an MLOps pipeline runs on every
    * ingest (a re-trained or silently-updated encoder moves whole label
    * clusters; cosine near 1 and small shift = healthy, anything else =
    * investigate before the batch pollutes the index). Non-finite
    * vectors are excluded exactly as q63's sample (one NaN poisons a
    * mean); centroids use q63's bit-exact discipline — vec_id-ordered
    * fold per (label, window), dims folded in index order via the native
    * [[graft.functions.SeqDot]] — so cosine and shift hash exactly.
    * Outputs are 6-digit-rounded (cross-engine cosine class).
    *
    * Scale: groups are (|labels| × 2) with bounded 64-float state per
    * group AFTER the fold; the ordered `collect_list` fold is the
    * oracle-parity audit form (exact/sketch twin discipline, q120/q126)
    * — the production twin sums components unordered map-side (drift
    * thresholds tolerate last-bit noise even though the hash oracle
    * cannot).
    */
  val embeddingDrift = Q(
    "q156_embedding_drift",
    (s, d) => {
      import graft.functions.SeqDot
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .where(expr("NOT exists(v, x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))"))
      val cents = e
        .groupBy(col("label"), (col("vec_id") % 2).as("win"))
        .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("vs"))
        .select(col("label"), col("win"), size(col("vs")).cast("long").as("n"),
          expr(s"""transform(sequence(1, $DriftDim), i ->
                   aggregate(vs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v[i-1])
                   / size(vs))""").as("c"))
      val ref = cents.where(col("win") === 0)
        .select(col("label"), col("n").as("n_ref"), col("c").as("ca"))
      val fresh = cents.where(col("win") === 1)
        .select(col("label"), col("n").as("n_new"), col("c").as("cb"))
      ref.join(fresh, "label")
        .select(col("label").cast("long").as("label"), col("n_ref"), col("n_new"),
          round(SeqDot(col("ca"), col("cb"))
            / (sqrt(SeqDot(col("ca"), col("ca"))) * sqrt(SeqDot(col("cb"), col("cb")))), 6)
            .as("cos_drift"),
          round(sqrt(expr(
            """aggregate(zip_with(ca, cb, (x, y) -> (x - y) * (x - y)),
               CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)""")), 6).as("l2_shift"))
    },
    Some(s"""WITH e AS (
              SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
              WHERE len(list_filter(embedding::DOUBLE[],
                        x -> isnan(x) OR isinf(x))) = 0),
            g AS (SELECT label, vec_id % 2 AS win,
                         list(v ORDER BY vec_id) AS vs
                  FROM e GROUP BY label, vec_id % 2),
            c AS (SELECT label, win, len(vs) AS n,
                         list_transform(generate_series(1, $DriftDim),
                           i -> list_aggregate(list_transform(vs, x -> x[i]), 'sum')
                                / len(vs)) AS c
                  FROM g)
            SELECT CAST(r.label AS BIGINT) AS label,
                   CAST(r.n AS BIGINT) AS n_ref, CAST(w.n AS BIGINT) AS n_new,
                   round(list_aggregate(list_transform(generate_series(1, $DriftDim),
                           i -> r.c[i] * w.c[i]), 'sum')
                         / (sqrt(list_aggregate(list_transform(generate_series(1, $DriftDim),
                              i -> r.c[i] * r.c[i]), 'sum'))
                            * sqrt(list_aggregate(list_transform(generate_series(1, $DriftDim),
                                i -> w.c[i] * w.c[i]), 'sum'))), 6) AS cos_drift,
                   round(sqrt(list_aggregate(list_transform(generate_series(1, $DriftDim),
                           i -> (r.c[i] - w.c[i]) * (r.c[i] - w.c[i])), 'sum')), 6)
                     AS l2_shift
            FROM c r JOIN c w ON r.label = w.label AND r.win = 0 AND w.win = 1""")
  )

  /** q158 — JOIN-KEY SKEW AUDIT: the measurement step BEFORE choosing a
    * skew cure (q48 salted agg / q128 salted join / AQE skew splits are
    * the treatments; q158 is the diagnosis a pipeline runs when a stage
    * straggles). Per-key multiplicities of `events.user_id` reduce to a
    * COUNT-OF-COUNTS histogram — the scale move: quantiles of the key-
    * frequency distribution come from a cumulative walk over the
    * histogram (distinct multiplicity values are ≤ √(2·rows) by a sum
    * bound, so the one partitionless window runs over a provably tiny
    * relation — never over the keys). Output is one row: key count, row
    * count, max/p50/p99 multiplicity (rank-selected integers), mean and
    * max/mean skew ratio (single IEEE divisions), an integer
    * `salt_hint = ceil(max/p50)` — the replication factor q128 would
    * want — and the top-8 hottest keys via orderBy+limit
    * (TakeOrderedAndProject, q85's discipline).
    */
  val skewAudit = Q(
    "q158_skew_audit",
    (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val hist = counts.groupBy("cnt").agg(count(lit(1)).as("k"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("cnt").rowsBetween(Long.MinValue, 0)
      val cum = hist.withColumn("cum", sum(col("k")).over(w))
      val totals = hist.agg(
        sum(col("k")).as("n_keys"),
        sum(col("cnt") * col("k")).as("total_rows"),
        max(col("cnt")).as("max_cnt"))
      val stats = cum.crossJoin(broadcast(totals))
        .agg(
          first(col("n_keys")).as("n_keys"),
          first(col("total_rows")).as("total_rows"),
          first(col("max_cnt")).as("max_cnt"),
          min(when(col("cum") >= expr("(n_keys + 1) DIV 2"), col("cnt"))).as("p50_cnt"),
          min(when(col("cum") >= expr("(99 * n_keys + 99) DIV 100"), col("cnt"))).as("p99_cnt"))
      val top = counts.orderBy(col("cnt").desc, col("user_id")).limit(8)
        .select(concat(col("user_id"), lit(":"), col("cnt")).as("kc"))
        .agg(array_join(sort_array(collect_list(col("kc"))), ",").as("top_keys"))
      stats.crossJoin(top)
        .select(col("n_keys"), col("total_rows"), col("max_cnt"),
          col("p50_cnt"), col("p99_cnt"),
          (col("total_rows").cast("double") / col("n_keys").cast("double")).as("mean_cnt"),
          (col("max_cnt").cast("double")
            / (col("total_rows").cast("double") / col("n_keys").cast("double")))
            .as("skew_ratio"),
          expr("(max_cnt + p50_cnt - 1) DIV p50_cnt").as("salt_hint"),
          col("top_keys"))
    },
    Some("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
            h AS (SELECT cnt, count(*) AS k FROM c GROUP BY cnt),
            cu AS (SELECT cnt, k,
                          sum(k) OVER (ORDER BY cnt
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                   FROM h),
            t AS (SELECT CAST(sum(k) AS BIGINT) AS n_keys,
                         CAST(sum(cnt * k) AS BIGINT) AS total_rows,
                         max(cnt) AS max_cnt
                  FROM h),
            st AS (SELECT t.n_keys, t.total_rows, t.max_cnt,
                          min(CASE WHEN cu.cum >= (t.n_keys + 1) // 2
                                   THEN cu.cnt END) AS p50_cnt,
                          min(CASE WHEN cu.cum >= (99 * t.n_keys + 99) // 100
                                   THEN cu.cnt END) AS p99_cnt
                   FROM cu, t GROUP BY t.n_keys, t.total_rows, t.max_cnt),
            tk AS (SELECT array_to_string(list(kc ORDER BY kc), ',') AS top_keys
                   FROM (SELECT user_id || ':' || cnt AS kc FROM c
                         ORDER BY cnt DESC, user_id LIMIT 8) x)
            SELECT st.n_keys, st.total_rows, st.max_cnt, st.p50_cnt, st.p99_cnt,
                   CAST(st.total_rows AS DOUBLE) / CAST(st.n_keys AS DOUBLE) AS mean_cnt,
                   CAST(st.max_cnt AS DOUBLE)
                     / (CAST(st.total_rows AS DOUBLE) / CAST(st.n_keys AS DOUBLE))
                     AS skew_ratio,
                   (st.max_cnt + st.p50_cnt - 1) // st.p50_cnt AS salt_hint,
                   tk.top_keys
            FROM st, tk""")
  )

  /** q194 — OBSERVED METRICS (`Dataset.observe`): data-quality counters
    * instrumented INSIDE a gating pass, at both ends of the gate — rows
    * and characters arriving, empty-text anomalies, rows and characters
    * surviving — harvested from the `Observation` handles after one
    * `noop`-sink execution. This is the production telemetry shape: at
    * 100 TB the naive audit ("run the pipeline, then run COUNT queries
    * on input and output") pays one or two EXTRA full scans per metric
    * set; `observe` attaches an `AggregatingAccumulator` to the
    * operators already executing, so every counter rides the same scan
    * for free and arrives at the driver with task completion — zero
    * additional jobs, zero extra reads (ObserveSpec pins both
    * `CollectMetrics` operators into the single-scan plan). The
    * pipeline output goes to the `noop` sink (executors consume it;
    * nothing collects) — the registered RESULT is the metrics row
    * itself, which is what an ingest monitor stores per batch.
    *
    * All counters are integer counts/sums — exact, order-independent,
    * so the closed-form oracle matches bit-for-bit.
    */
  val observedIngest = Q(
    "q194_observe_metrics",
    (s, d) => {
      import s.implicits._
      val obsIn = org.apache.spark.sql.Observation("ingest_in")
      val obsOut = org.apache.spark.sql.Observation("ingest_out")
      Tables.documents(s, d)
        .observe(obsIn,
          count(lit(1)).as("rows_in"),
          sum(when(col("text") === "", 1L).otherwise(0L)).as("empty_texts"),
          sum(col("n_chars").cast("long")).as("chars_in"))
        .where(col("n_chars") >= 200)
        .observe(obsOut,
          count(lit(1)).as("rows_kept"),
          sum(col("n_chars").cast("long")).as("chars_kept"))
        .write.format("noop").mode("overwrite").save()
      val m = obsIn.get ++ obsOut.get
      Seq((m("rows_in").asInstanceOf[Long], m("empty_texts").asInstanceOf[Long],
        m("chars_in").asInstanceOf[Long], m("rows_kept").asInstanceOf[Long],
        m("chars_kept").asInstanceOf[Long]))
        .toDF("rows_in", "empty_texts", "chars_in", "rows_kept", "chars_kept")
    },
    Some("""SELECT count(*) AS rows_in,
                   CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_texts,
                   CAST(sum(n_chars) AS BIGINT) AS chars_in,
                   CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS rows_kept,
                   CAST(sum(CASE WHEN n_chars >= 200 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
            FROM documents""")
  )

  /** q269 — two-sample KOLMOGOROV–SMIRNOV drift test, EXACT: the
    * distribution-shape alarm that complements q214's PSI (PSI needs a
    * binning choice and goes blind to within-bin shifts; KS is
    * binning-free — the supremum gap between the two empirical CDFs —
    * and is THE classic two-sample drift test). D = sup_x |F₁(x) −
    * F₂(x)| over purchase vs click values.
    *
    * Scale shape: the naive spelling is a global `sum() OVER (ORDER BY
    * value)` window — the q98/q153 single-task anti-pattern. This
    * implementation rolls up to DISTINCT values (one map-side-combined
    * shuffle), then runs the q153 two-phase distributed scan with TWO
    * measures at once (both sides' cumulative counts in one pass:
    * range-repartition by value, O(partitions) driver offsets, local
    * rescan), and takes one max — no global window anywhere, wall-clock
    * O(rows/partitions). Exactness: cumulative counts are integers;
    * each candidate |ca/n₁ − cb/n₂| is the same IEEE division of the
    * same integers in both engines, so even the unrounded D matches
    * bit-for-bit — a full hash oracle over a statistical test. The
    * oracle replays the definition as the global window it would
    * naively be (fine at oracle scale).
    */
  /** Distinct-value counts of the two compared samples: (v, na, nb). */
  private def twoSampleCounts(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("value").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("ia"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("ib"))
      .groupBy("v")
      .agg(sum("ia").as("na"), sum("ib").as("nb"))

  /** The q153 two-phase scan with TWO measures: per distinct value in
    * ascending order, both samples' INCLUSIVE cumulative counts.
    * Returns (rows (v, na, nb, ca, cb), n1, n2). Shared by q269 (KS)
    * and q271 (Mann–Whitney) — one scan discipline, two statistics.
    */
  /** Bounds cumScan2's pinned cached runs at one (see CachePin). */
  private val cumScanPin = new graft.operators.CachePin

  private[graft] def cumScan2(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.rdd.RDD[(Double, Long, Long, Long, Long)], Long, Long) = {
    import s.implicits._
    val sorted = df
      .repartitionByRange(8, col("v"))
      .sortWithinPartitions("v")
      .as[(Double, Long, Long)]
    val rdd = sorted.rdd
    // two jobs read it (partition totals, rescan) — q255's cache note;
    // the pin bounds pinned runs at one across bench reps / spec calls
    cumScanPin.pin(rdd)
    val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      var a = 0L; var b = 0L
      it.foreach { r => a += r._2; b += r._3 }
      Iterator((i, a, b))
    }.collect().sortBy(_._1)
    val offs = partTotals.scanLeft((0L, 0L)) { case ((a, b), (_, pa, pb)) =>
      (a + pa, b + pb)
    }
    val (n1, n2) = offs.last
    val bc = s.sparkContext.broadcast(offs.dropRight(1))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var (ca, cb) = bc.value(i)
      it.map { case (v, na, nb) =>
        ca += na; cb += nb
        (v, na, nb, ca, cb)
      }
    }
    (out, n1, n2)
  }

  val ksTest = Q(
    "q269_ks_test",
    (s, d) => {
      import s.implicits._
      val (rows, n1, n2) = cumScan2(s, twoSampleCounts(s, d))
      val gaps = rows.map { case (_, _, _, ca, cb) =>
        math.abs(ca.toDouble / n1.toDouble - cb.toDouble / n2.toDouble)
      }
      val dStat = if (gaps.isEmpty()) 0.0 else gaps.max()
      Seq((n1, n2, dStat)).toDF("n1", "n2", "d_stat")
    },
    Some("""WITH f AS (SELECT value AS v,
                         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
                         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
                       FROM events WHERE event_type IN ('purchase', 'click')),
            g AS (SELECT v, CAST(sum(ia) AS BIGINT) AS na,
                         CAST(sum(ib) AS BIGINT) AS nb
                  FROM f GROUP BY v),
            t AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
                         CAST(sum(nb) AS BIGINT) AS n2 FROM g),
            c AS (SELECT sum(na) OVER (ORDER BY v) AS ca,
                         sum(nb) OVER (ORDER BY v) AS cb
                  FROM g)
            SELECT t.n1, t.n2,
                   (SELECT max(abs(CAST(ca AS DOUBLE) / CAST(t.n1 AS DOUBLE)
                                 - CAST(cb AS DOUBLE) / CAST(t.n2 AS DOUBLE)))
                    FROM c) AS d_stat
            FROM t""")
  )

  /** q271 — MANN–WHITNEY U (Wilcoxon rank-sum), exact with
    * average-rank tie handling: KS (q269) asks "are the SHAPES
    * different"; Mann–Whitney asks the dashboard's actual question —
    * "does one population run systematically HIGHER" — and is the
    * nonparametric answer when t-test normality can't be assumed.
    * Ranks come free from the SAME q269 scan (`cumScan2`): a tie
    * group's average rank is cum-before + (count+1)/2, so U needs no
    * sort beyond the distinct-value scan. Exactness discipline: ranks
    * live on the half-integer grid ⇒ na·rank is exact in
    * DECIMAL(28,1) (the q03 trick at rank scale) ⇒ R₁, U₁, U₂ are
    * bit-identical across engines with NO rounding; only the
    * tie-corrected z (one sqrt chain, spelled identically both sides)
    * is rounded 6dp. Tie correction Σ(t³−t) is an exact integer
    * aggregate. Oracle replays the definition as the window it would
    * naively be.
    */
  val mannWhitney = Q(
    "q271_mann_whitney",
    (s, d) => {
      import s.implicits._
      val (rows, n1, n2) = cumScan2(s, twoSampleCounts(s, d))
      val perValue = rows.toDF("v", "na", "nb", "ca", "cb")
        .withColumn("cnt", col("na") + col("nb"))
        .withColumn("bef", (col("ca") - col("na")) + (col("cb") - col("nb")))
        .withColumn("ar",
          col("bef").cast("double")
            + (col("cnt") + 1).cast("double") / lit(2).cast("double"))
      val agg = perValue.agg(
        sum((col("na").cast("double") * col("ar")).cast("decimal(28,1)"))
          .cast("double").as("r1"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tsum"))
      val n1d = lit(n1).cast("double")
      val n2d = lit(n2).cast("double")
      val nn = n1 + n2
      val nnd = lit(nn).cast("double")
      val u1 = col("r1") - n1d * lit(n1 + 1).cast("double") / lit(2).cast("double")
      val z = (u1 - n1d * n2d / lit(2).cast("double")) /
        sqrt(n1d * n2d / lit(12).cast("double") *
          (lit(nn + 1).cast("double")
            - col("tsum").cast("double") / (nnd * lit(nn - 1).cast("double"))))
      agg.select(
        lit(n1).as("n1"), lit(n2).as("n2"),
        u1.as("u1"),
        (n1d * n2d - u1).as("u2"),
        round(z, 6).as("z"))
    },
    Some("""WITH f AS (SELECT value AS v,
                         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
                         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
                       FROM events WHERE event_type IN ('purchase', 'click')),
            g AS (SELECT v, CAST(sum(ia) AS BIGINT) AS na,
                         CAST(sum(ib) AS BIGINT) AS nb
                  FROM f GROUP BY v),
            t AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
                         CAST(sum(nb) AS BIGINT) AS n2 FROM g),
            c AS (SELECT v, na, nb, na + nb AS cnt,
                         coalesce(sum(na + nb) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS bef
                  FROM g),
            r AS (SELECT na, cnt,
                         CAST(bef AS DOUBLE)
                           + CAST(cnt + 1 AS DOUBLE) / CAST(2 AS DOUBLE) AS ar
                  FROM c),
            a AS (SELECT CAST(sum(CAST(CAST(na AS DOUBLE) * ar AS DECIMAL(28,1)))
                              AS DOUBLE) AS r1,
                         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
                  FROM r)
            SELECT t.n1, t.n2,
                   a.r1 - CAST(t.n1 AS DOUBLE) * CAST(t.n1 + 1 AS DOUBLE)
                     / CAST(2 AS DOUBLE) AS u1,
                   CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)
                     - (a.r1 - CAST(t.n1 AS DOUBLE) * CAST(t.n1 + 1 AS DOUBLE)
                        / CAST(2 AS DOUBLE)) AS u2,
                   round(
                     ((a.r1 - CAST(t.n1 AS DOUBLE) * CAST(t.n1 + 1 AS DOUBLE)
                       / CAST(2 AS DOUBLE))
                      - CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)
                        / CAST(2 AS DOUBLE))
                     / sqrt(CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)
                            / CAST(12 AS DOUBLE)
                            * (CAST(t.n1 + t.n2 + 1 AS DOUBLE)
                               - CAST(a.tsum AS DOUBLE)
                                 / (CAST(t.n1 + t.n2 AS DOUBLE)
                                    * CAST(t.n1 + t.n2 - 1 AS DOUBLE)))),
                     6) AS z
            FROM t, a""")
  )

  /** q272 — BENFORD first-digit audit: the forensic screen for
    * fabricated or mis-merged numeric columns (real-world multiplicative
    * quantities put digit d first with probability log₁₀(1 + 1/d) —
    * invoices, populations, file sizes; fabricated or uniformly
    * generated numbers don't, which is exactly what this synthetic
    * price column will loudly show). Per digit: observed count/share,
    * the Benford expectation, and the χ² contribution; the total χ²
    * rides every row (1-row broadcast mount). Portability discipline:
    * the first SIGNIFICANT digit comes from the string form
    * (`regexp_extract('[1-9]')` — numeric extraction needs log/loop;
    * both engines print these magnitudes plainly), expectations share
    * one `log10` call on identical doubles, and the χ² sum — 9
    * order-sensitive double terms — goes through DECIMAL(20,6)
    * per-term quantization so the cross-engine sum is exact (the q03
    * trick applied to irrational terms). Narrow scan → 9-group
    * aggregate; nothing data-sized leaves the map side.
    */
  val benfordAudit = Q(
    "q272_benford_audit",
    (s, d) => {
      // a price with no nonzero digit (0 / NULL) extracts '' — Spark
      // casts '' to NULL but DuckDB errors on CAST('' AS BIGINT), so
      // both engines FILTER the no-digit rows before the cast
      val digits = Tables.orders(s, d)
        .select(regexp_extract(col("o_totalprice").cast("string"), "[1-9]", 0)
          .as("ds"))
        .where(col("ds").isNotNull && col("ds") =!= "")
        .select(col("ds").cast("long").as("digit"))
      val obs = digits.groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum(col("n")).as("nn"))
      val p = log10(lit(1).cast("double")
        + lit(1).cast("double") / col("digit").cast("double"))
      val dev = col("n").cast("double") - col("nn").cast("double") * p
      val scored = obs.crossJoin(broadcast(tot))
        .withColumn("exp_frac", round(p, 6))
        .withColumn("obs_frac",
          round(col("n").cast("double") / col("nn").cast("double"), 6))
        .withColumn("term",
          (dev * dev / (col("nn").cast("double") * p)).cast("decimal(20,6)"))
      val chi2 = scored.agg(sum(col("term")).cast("double").as("chi2"))
      scored.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n"), col("obs_frac"), col("exp_frac"),
          col("term").cast("double").as("chi2_term"), col("chi2"))
    },
    Some("""WITH ds AS (SELECT nullif(regexp_extract(CAST(o_totalprice AS STRING),
                                 '[1-9]', 0), '') AS ds
                        FROM orders),
            digits AS (SELECT CAST(ds AS BIGINT) AS digit
                       FROM ds WHERE ds IS NOT NULL),
            obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
                    FROM digits GROUP BY digit),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM obs),
            scored AS (SELECT digit, n,
                         round(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS obs_frac,
                         round(log10(CAST(1 AS DOUBLE)
                           + CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6) AS exp_frac,
                         CAST((CAST(n AS DOUBLE) - CAST(nn AS DOUBLE)
                               * log10(CAST(1 AS DOUBLE)
                                 + CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)))
                              * (CAST(n AS DOUBLE) - CAST(nn AS DOUBLE)
                                 * log10(CAST(1 AS DOUBLE)
                                   + CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)))
                              / (CAST(nn AS DOUBLE)
                                 * log10(CAST(1 AS DOUBLE)
                                   + CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)))
                              AS DECIMAL(20,6)) AS term
                       FROM obs, tot),
            c AS (SELECT CAST(sum(term) AS DOUBLE) AS chi2 FROM scored)
            SELECT digit, n, obs_frac, exp_frac,
                   CAST(term AS DOUBLE) AS chi2_term, c.chi2
            FROM scored, c""")
  )

  /** q278 — GINI CONCENTRATION audit: per market segment, how unequally
    * customer spend is distributed — the revenue-concentration /
    * "whale-dependence" metric finance and abuse teams both track (and
    * the same statistic data-mixing uses to audit source balance,
    * q94's dual). Computed by the exact rank formula on ascending
    * spend: G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) — tie-safe (equal x
    * values contribute x·Σi however ranks land within the tie).
    *
    * Scale shape: per-customer spend is a map-side-combined decimal
    * aggregate; the rank is a per-SEGMENT window (bounded partitions —
    * 1/|segments| of customers each; the q98 two-phase global-order
    * form is the swap-in if one group ever dominates); the final
    * reduction is |segments| groups. Exactness: spend sums and both
    * rank-weighted sums stay DECIMAL end-to-end (order-independent),
    * and the single division happens once, in double, on identical
    * numerator/denominator — no rounding needed anywhere.
    */
  val giniAudit = Q(
    "q278_gini_concentration",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
      val seg = spend.join(
        Tables.customer(s, d).select(col("c_custkey").as("ck"),
          col("c_mktsegment").as("segment")), "ck")
      val w = Window.partitionBy("segment").orderBy(col("x").asc, col("ck").asc)
      seg.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"),
          sum(col("i") * col("x")).as("s1"),
          sum(col("x")).as("s2"))
        .select(col("segment"), col("n"),
          col("s2").cast("double").as("total_spend"),
          ((lit(2) * col("s1") - (col("n") + lit(1)) * col("s2")).cast("double")
            / (col("n") * col("s2")).cast("double")).as("gini"))
    },
    Some("""WITH spend AS (SELECT o_custkey AS ck,
                                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
                           FROM orders GROUP BY 1),
            seg AS (SELECT c.c_mktsegment AS segment, s.ck, s.x
                    FROM spend s JOIN customer c ON c.c_custkey = s.ck),
            r AS (SELECT segment, x,
                         CAST(row_number() OVER (PARTITION BY segment
                              ORDER BY x, ck) AS BIGINT) AS i
                  FROM seg),
            g AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
                         sum(i * x) AS s1, sum(x) AS s2
                  FROM r GROUP BY 1)
            SELECT segment, n, CAST(s2 AS DOUBLE) AS total_spend,
                   CAST(2*s1 - (n+1)*s2 AS DOUBLE) / CAST(n*s2 AS DOUBLE) AS gini
            FROM g""")
  )

  /** q279 — MUTUAL-INFORMATION feature screen between two categorical
    * columns (segment × nation): the model-free dependence measure
    * feature selection ranks candidate features by, and the
    * leakage/redundancy screen run before training (MI ≈ 0 → the
    * feature is noise for this target; MI ≈ H → it's a duplicate).
    * Per cell: PMI = ln(c_xy·n / (c_x·c_y)) and its MI contribution
    * p_xy·PMI, plus the table-total MI on every row.
    *
    * Scale shape: one map-side-combined (x, y) count; marginals are
    * re-aggregations of the CELL table (|X|·|Y| rows — never a second
    * corpus scan); total rides as a 1-row broadcast (the q272 mount).
    * Portability: every ratio is exact-integer ÷ exact-integer (one
    * IEEE division — `c_xy·n / (c_x·c_y)` keeps it to ONE op rather
    * than dividing probabilities), ln outputs are quantized
    * floor(x·1e6+0.5)/1e6 (libm rule), the per-cell term is quantized
    * at 1e-9, and the total is an exact integer sum of the quantized
    * terms — order-independent on both engines.
    */
  val mutualInfo = Q(
    "q279_mutual_information",
    (s, d) => {
      val cxy = Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"))
        .agg(count(lit(1)).as("cxy"))
      val cx = cxy.groupBy("seg").agg(sum(col("cxy")).as("cx"))
      val cy = cxy.groupBy("nat").agg(sum(col("cxy")).as("cy"))
      val n = cxy.agg(sum(col("cxy")).as("n"))
      val pmi = floor(log((col("cxy") * col("n")).cast("double")
        / (col("cx") * col("cy")).cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6)
      val cells = cxy.join(cx, "seg").join(cy, "nat").crossJoin(broadcast(n))
        .withColumn("pmi", pmi)
        .withColumn("term_q",
          floor((col("cxy").cast("double") / col("n").cast("double"))
            * col("pmi") * lit(1e9) + lit(0.5)).cast("long"))
      val tot = cells.agg((sum(col("term_q")).cast("double") / lit(1e9)).as("mi_total"))
      cells.crossJoin(broadcast(tot))
        .select(col("seg"), col("nat"), col("cxy"), col("cx"), col("cy"),
          col("pmi"), (col("term_q").cast("double") / lit(1e9)).as("mi_term"),
          col("mi_total"))
    },
    Some("""WITH cxy AS (SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
                                CAST(count(*) AS BIGINT) AS cxy
                         FROM customer GROUP BY 1, 2),
            cx AS (SELECT seg, CAST(sum(cxy) AS BIGINT) AS cx FROM cxy GROUP BY 1),
            cy AS (SELECT nat, CAST(sum(cxy) AS BIGINT) AS cy FROM cxy GROUP BY 1),
            nn AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cxy),
            cells AS (SELECT seg, nat, cxy.cxy, cx.cx, cy.cy, nn.n,
                             floor(ln(CAST(cxy.cxy * nn.n AS DOUBLE)
                                      / CAST(cx.cx * cy.cy AS DOUBLE)) * 1e6 + 0.5)
                               / 1e6 AS pmi
                      FROM cxy JOIN cx USING (seg) JOIN cy USING (nat) CROSS JOIN nn),
            q AS (SELECT *, CAST(floor((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))
                                       * pmi * 1e9 + 0.5) AS BIGINT) AS term_q
                  FROM cells),
            tot AS (SELECT CAST(sum(term_q) AS DOUBLE) / 1e9 AS mi_total FROM q)
            SELECT seg, nat, cxy, cx, cy, pmi,
                   CAST(term_q AS DOUBLE) / 1e9 AS mi_term, tot.mi_total
            FROM q, tot""")
  )

  /** q280 — KAPLAN–MEIER survival curve over user activity lifetimes:
    * the censoring-aware retention estimator (the statistic behind
    * every "how long do users stay" chart that doesn't lie about
    * still-active users). Lifetime t = a user's count of distinct
    * active days; users still active on the corpus's final day are
    * CENSORED (they leave the risk set without counting as churn) —
    * dropping them, or counting them as churned, are the two classic
    * biases KM exists to avoid. Ŝ(t) = Π_{s≤t}(1 − d_s/n_s) over
    * event times, served per distinct lifetime with its risk-set size.
    *
    * Scale shape: per-user lifetime is one map-side-combined aggregate;
    * everything after lives at LIFETIME grain (≤ days-in-corpus rows —
    * the q227 move: windows only over already-tiny relations; horizon
    * is a 1-row broadcast). Portability of the running product: each
    * ln(1−d/n) factor is computed from exact integers, quantized at
    * 1e-9 to an INTEGER, prefix-summed EXACTLY (order-free), and
    * exp'd once per row with the result quantized at 1e-6 (the q116
    * exp/ln discipline — never a raw running product of doubles).
    */
  val kaplanMeier = Q(
    "q280_kaplan_meier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(countDistinct(to_date(col("ts"))).as("dur"),
          max(to_date(col("ts"))).as("last_day"))
      val horizon = u.agg(max(col("last_day")).as("horizon"))
      val lif = u.crossJoin(broadcast(horizon))
        .select(col("dur"),
          when(col("last_day") < col("horizon"), lit(1L)).otherwise(lit(0L)).as("ev"))
      val dt = lif.groupBy(col("dur").as("t"))
        .agg(sum(col("ev")).as("d"), count(lit(1)).as("c"))
      val nTotal = dt.agg(sum(col("c")).as("n_total"))
      val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
      dt.crossJoin(broadcast(nTotal))
        .withColumn("n_risk", col("n_total") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
        .withColumn("lq",
          // d == n_risk (the final risk set fully churns) would be
          // ln(0): Spark log(0) is NULL (silently dropped from the
          // cumulative sum), DuckDB ln(0) is -inf (cast error) — pin
          // the factor to a finite ln-space sentinel (-46 ⇒ exp ≈
          // 1e-20 ⇒ survival quantizes to exactly 0) on BOTH engines
          when(col("d") === 0, lit(0L))
            .when(col("d") === col("n_risk"), lit(-46000000000L))
            .otherwise(floor(log((col("n_risk") - col("d")).cast("double")
              / col("n_risk").cast("double")) * lit(1e9) + lit(0.5)).cast("long")))
        .withColumn("survival",
          floor(exp(sum(col("lq")).over(wCum).cast("double") / lit(1e9))
            * lit(1e6) + lit(0.5)) / lit(1e6))
        .select(col("t"), col("n_risk"), col("d"), col("c"), col("survival"))
    },
    Some("""WITH u AS (SELECT user_id,
                              CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS dur,
                              CAST(max(ts) AS DATE) AS last_day
                       FROM events GROUP BY 1),
            mx AS (SELECT max(last_day) AS horizon FROM u),
            lif AS (SELECT dur, CASE WHEN last_day < horizon THEN 1 ELSE 0 END AS ev
                    FROM u CROSS JOIN mx),
            dt AS (SELECT dur AS t, CAST(sum(ev) AS BIGINT) AS d,
                          CAST(count(*) AS BIGINT) AS c
                   FROM lif GROUP BY 1),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM dt),
            km AS (SELECT t, d, c,
                          CAST(n_total - coalesce(sum(c) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS n_risk
                   FROM dt CROSS JOIN tot),
            lg AS (SELECT t, d, c, n_risk,
                          CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
                               WHEN d = n_risk THEN CAST(-46000000000 AS BIGINT)
                               ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE)
                                      / CAST(n_risk AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
                          END AS lq
                   FROM km)
            SELECT t, n_risk, d, c,
                   floor(exp(CAST(sum(lq) OVER (ORDER BY t) AS DOUBLE) / 1e9)
                         * 1e6 + 0.5) / 1e6 AS survival
            FROM lg""")
  )

  /** q281 — MAXIMUM DRAWDOWN per series: the worst peak-to-trough drop
    * of the daily value total — the risk statistic SLO/finance
    * dashboards pin next to the mean (two series with equal averages
    * and wildly different drawdowns are NOT interchangeable). Running
    * peak via a cumulative-max window, drawdown = (peak − v)/peak, and
    * the champion day via the q89 struct-extremum keeper
    * (longest-drop-then-EARLIEST-day in one aggregate — no second
    * window or self-join).
    *
    * Scale shape: the corpus collapses to (series, day) grain in one
    * map-side-combined decimal aggregate before any window; the
    * cumulative max runs over per-series day streams (≤ days rows
    * each); peaks and deltas stay DECIMAL (exact), with the one
    * division per row in double on identical inputs — portable with
    * no rounding.
    */
  val maxDrawdown = Q(
    "q281_max_drawdown",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
      val wPeak = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      daily.withColumn("peak", max(col("v")).over(wPeak))
        .withColumn("dd", (col("peak") - col("v")).cast("double")
          / col("peak").cast("double"))
        .groupBy("event_type")
        .agg(
          max(struct(col("dd").as("dd"),
            (-datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
              .as("negday"))).as("best"),
          max(col("peak")).cast("double").as("peak_value"))
        .select(col("event_type"), col("best.dd").as("max_drawdown"),
          date_add(to_date(lit("1970-01-01")),
            (-col("best.negday")).cast("int")).as("dd_day"),
          col("peak_value"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                                  sum(CAST(value AS DECIMAL(18,2))) AS v
                           FROM events GROUP BY 1, 2),
            pk AS (SELECT event_type, day, v,
                          max(v) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
                   FROM daily),
            dd AS (SELECT event_type, day,
                          CAST(peak - v AS DOUBLE) / CAST(peak AS DOUBLE) AS dd,
                          peak
                   FROM pk),
            k AS (SELECT event_type,
                         max(struct_pack(dd := dd,
                           negday := -date_diff('day', DATE '1970-01-01', day))) AS best,
                         CAST(max(peak) AS DOUBLE) AS peak_value
                  FROM dd GROUP BY 1)
            SELECT event_type, best.dd AS max_drawdown,
                   DATE '1970-01-01' + CAST(-best.negday AS INTEGER) AS dd_day,
                   peak_value
            FROM k""")
  )

  /** q284 — CROSS-CORRELATION MATRIX between daily series: pairwise
    * Pearson correlation of each event type's daily value total against
    * every other — the co-movement screen (capacity planning: which
    * loads spike together; metrics triage: which KPI mirrors which)
    * and the redundancy filter feature selection runs beside q279's MI
    * (corr sees linear co-movement of NUMERIC series; MI saw arbitrary
    * categorical dependence). Upper triangle only (ta < tb).
    *
    * Scale shape: q241's two-level discipline — the only corpus-sized
    * pass is the decimal-exact daily rollup; the pair expansion is a
    * self-join ON DAY of the daily table (|types|² · days rows — tiny),
    * and `corr` is a map-side-combinable algebraic aggregate, so no
    * window and no sort anywhere. Exact daily sums mean both engines
    * feed corr IDENTICAL doubles; corr's internal accumulation order is
    * the one cross-engine divergence — rounded 6dp (q241's rule).
    */
  val crossCorr = Q(
    "q284_cross_correlation",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(graft.Q.dsum2(col("value")).as("v"))
      daily.as("a")
        .join(daily.as("b"),
          col("a.day") === col("b.day") && col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
        .agg(count(lit(1)).as("n_days"),
          round(corr(col("a.v"), col("b.v")), 6).as("xcorr"))
    },
    Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                                   ${graft.Q.sqlSum2("value")} AS v
                            FROM events GROUP BY 1, 2)
             SELECT a.event_type AS ta, b.event_type AS tb,
                    CAST(count(*) AS BIGINT) AS n_days,
                    round(corr(a.v, b.v), 6) AS xcorr
             FROM daily a JOIN daily b
               ON a.day = b.day AND a.event_type < b.event_type
             GROUP BY 1, 2""")
  )

  /** q285 — TWO-PROPORTION Z-TEST (pooled), the canonical A/B-test
    * readout: does variant B convert better than variant A, and is the
    * difference larger than chance? Completes the hypothesis-test shelf
    * — KS q269 (distribution shape), Mann–Whitney q271 (location),
    * bootstrap q152 (any statistic, resampled) — with the one test
    * product experiments actually quote. Variant = user_id parity (the
    * deterministic hash split q79 uses); the tested proportion is
    * "heavy purchaser" — purchases exceed 20% of the user's events, an
    * exact INTEGER predicate (np·5 > ne) chosen because it
    * discriminates at every scale factor ("ever purchased" saturates
    * to 100% on this dense fixture — a degenerate pooled variance,
    * which ANSI mode rightly turns into a loud divide-by-zero). The
    * degenerate case is still pinned to z = 0 by an exact-zero guard
    * on BOTH engines (the NaN-output hazard, q265's rule). z = (p₁−p₀)/√(p̄(1−p̄)(1/n₀+1/n₁)) with the pooled
    * rate p̄ under H₀: equal proportions.
    *
    * Scale shape: one map-side-combined per-user reduction (two exact
    * counts), one 4-long aggregate; everything after is
    * driver-free scalar arithmetic riding a 1-row frame. Portability:
    * counts are exact longs, every division/product is written in the
    * IDENTICAL textual order on both engines, and √ is IEEE-exact —
    * so the z value matches bit-for-bit with NO rounding (the sqrt
    * rule); the 1.96 significance gate compares identical doubles.
    */
  val abTest = Q(
    "q285_ab_proportion_test",
    (s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", lit(1L))
          .otherwise(lit(0L))).as("np"), count(lit(1)).as("ne"))
        .select(col("user_id"),
          when(col("np") * 5 > col("ne"), lit(1L)).otherwise(lit(0L)).as("conv"))
        .withColumn("variant", (col("user_id") % 2).cast("long"))
      val agg = users.groupBy()
        .agg(
          sum(when(col("variant") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
          sum(when(col("variant") === 0, col("conv")).otherwise(lit(0L))).as("c0"),
          sum(when(col("variant") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
          sum(when(col("variant") === 1, col("conv")).otherwise(lit(0L))).as("c1"))
      val p0 = col("c0").cast("double") / col("n0").cast("double")
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val pp = (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      val z = when(pp * (lit(1.0) - pp) === lit(0.0), lit(0.0))
        .otherwise((p1 - p0) /
          sqrt((pp * (lit(1.0) - pp))
            * (lit(1.0) / col("n0").cast("double")
               + lit(1.0) / col("n1").cast("double"))))
      agg.select(col("n0"), col("c0"), col("n1"), col("c1"),
        p0.as("p0"), p1.as("p1"), z.as("z"),
        (abs(z) > lit(1.96)).as("significant"))
    },
    Some("""WITH u0 AS (SELECT user_id,
                               sum(CASE WHEN event_type = 'purchase'
                                        THEN 1 ELSE 0 END) AS np,
                               count(*) AS ne
                        FROM events GROUP BY user_id),
            u AS (SELECT user_id,
                         CASE WHEN np * 5 > ne THEN 1 ELSE 0 END AS conv,
                         user_id % 2 AS variant
                  FROM u0),
            a AS (SELECT
                    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
                    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
                  FROM u),
            s AS (SELECT n0, c0, n1, c1,
                         CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
                         CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
                         CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
                  FROM a),
            z AS (SELECT *,
                         CASE WHEN pp * (CAST(1.0 AS DOUBLE) - pp)
                                   = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
                              ELSE (p1 - p0) / sqrt((pp * (CAST(1.0 AS DOUBLE) - pp))
                                * (CAST(1.0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                                   + CAST(1.0 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                         END AS z
                  FROM s)
            SELECT n0, c0, n1, c1, p0, p1, z,
                   abs(z) > CAST(1.96 AS DOUBLE) AS significant
            FROM z""")
  )

  /** q306 — COLUMN-LEVEL LINEAGE of a representative warehouse query
    * ([[graft.plans.ColumnLineage]]): every output column mapped to
    * the (source table, source column) leaves it transitively derives
    * from, extracted by folding the ANALYZED Catalyst plan itself —
    * the governance/compliance primitive (PII propagation maps,
    * drop-impact analysis) that external tools (OpenLineage, Spline)
    * re-derive by walking the same trees from outside; doing it on
    * the optimizer's own plan means aliases, aggregates, windows, and
    * joins resolve exactly as execution does. The target query spans
    * the cases that matter: a join (both sides contribute), an
    * aggregate alias (revenue ← o_totalprice), a DERIVED column whose
    * ancestry resolves through two alias hops and drops the
    * count-only input (avg_order = revenue / n_orders ⇒ just
    * o_totalprice), a window function inheriting its order key's
    * lineage, and a pure literal (total relation via '-'). The
    * oracle is the hand-derived ground-truth edge list — the plan
    * fold must land on it exactly.
    *
    * Scale shape: metadata-plane by nature — the walk is O(plan) on
    * the driver and NOTHING executes (the target query is analyzed,
    * never run); lineage of a 100 TB pipeline costs the same as at
    * sf0.001.
    */
  val columnLineage = Q(
    "q306_column_lineage",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val target = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .where(col("c_acctbal") > 0)
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        // bounded window: one row per market segment
        .withColumn("rev_rank", rank().over(Window.orderBy(col("revenue").desc)))
        .select(col("c_mktsegment").as("segment"), col("revenue"),
          (col("revenue") / col("n_orders")).as("avg_order"),
          col("rev_rank"), lit(1L).as("audit_flag"))
      graft.plans.ColumnLineage.lineage(target)
        .toDF("out_col", "src_table", "src_col")
    },
    Some("""SELECT * FROM (VALUES
              ('audit_flag', '-', '-'),
              ('avg_order', 'orders', 'o_totalprice'),
              ('rev_rank', 'orders', 'o_totalprice'),
              ('revenue', 'orders', 'o_totalprice'),
              ('segment', 'customer', 'c_mktsegment'))
            AS t(out_col, src_table, src_col)""")
  )

  /** q314 — CHI-SQUARE INDEPENDENCE TEST between two categorical
    * columns (documents' lang × source): the classic contingency-table
    * statistic completing the hypothesis-test family — q269 (KS,
    * continuous two-sample), q271 (Mann–Whitney, ordinal), q285
    * (two-proportion z) — for the categorical×categorical case, and
    * the frequentist sibling of q279's MI on the same table shape
    * (MI measures dependence in nats; χ² scores it against a null).
    * Emits χ², degrees of freedom, and Cramér's V (the [0,1]
    * effect-size normalization that makes χ² comparable across table
    * sizes — the feature-screen number). The cell grid is the FULL
    * |lang|×|source| cross product, zero-observed cells included
    * (dropping structural zeros understates the statistic — the
    * textbook mistake): each term (O − E)²/E is computed
    * division-late as (N·O − R·C)² / (N·R·C) — one IEEE division of
    * exact BIGINTs per cell (the q302 multiply-through discipline;
    * at 100 TB row counts the numerator would promote to
    * DECIMAL(38,0), noted here because (N·O)² overflows int64 past
    * N ≈ 3·10⁹) — then quantized to an INTEGER at 1e-9 and summed
    * order-free (the q279 rule; never a raw double sum across cells).
    *
    * Scale shape: one map-side-combined (lang, source) count is the
    * only corpus-sized pass; marginals, the zero-filled grid (a
    * dims-sized cross join), and the statistic all live at
    * contingency-table grain.
    */
  val chiSquare = Q(
    "q314_chi_square",
    (s, d) => {
      val cells = Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val rTot = cells.groupBy("lang").agg(sum(col("o")).as("r"))
      val cTot = cells.groupBy("source").agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("lang")).as("nl"),
        countDistinct(col("source")).as("ns"))
      val grid = rTot.select("lang").crossJoin(cTot.select("source"))
        .join(cells, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"), coalesce(col("o"), lit(0L)).as("o"))
      val termQ = floor(
        ((col("n") * col("o") - col("r") * col("c"))
          * (col("n") * col("o") - col("r") * col("c"))).cast("double")
          / (col("n") * col("r") * col("c")).cast("double") * lit(1e9) + lit(0.5))
        .cast("long")
      grid.join(rTot, "lang").join(cTot, "source").crossJoin(broadcast(n))
        .withColumn("term_q", termQ)
        .groupBy(col("n"), col("nl"), col("ns"))
        .agg((sum(col("term_q")).cast("double") / lit(1e9)).as("chi2"))
        .select(col("n"), col("nl"), col("ns"),
          ((col("nl") - 1L) * (col("ns") - 1L)).as("dof"), col("chi2"),
          sqrt(col("chi2") / (col("n") * (least(col("nl"), col("ns")) - 1L))
            .cast("double")).as("cramers_v"))
    },
    Some("""WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                           FROM documents GROUP BY 1, 2),
            rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
            ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
            nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                          CAST(count(DISTINCT lang) AS BIGINT) AS nl,
                          CAST(count(DISTINCT source) AS BIGINT) AS ns
                   FROM cells),
            grid AS (SELECT rt.lang, ct.source, coalesce(cells.o, 0) AS o, rt.r, ct.c
                     FROM rt CROSS JOIN ct
                     LEFT JOIN cells ON cells.lang = rt.lang
                                    AND cells.source = ct.source),
            q AS (SELECT CAST(floor(
                           CAST((nn.n * g.o - g.r * g.c) * (nn.n * g.o - g.r * g.c)
                                AS DOUBLE)
                           / CAST(nn.n * g.r * g.c AS DOUBLE) * 1e9 + 0.5)
                         AS BIGINT) AS term_q, nn.n, nn.nl, nn.ns
                  FROM grid g CROSS JOIN nn)
            SELECT n, nl, ns, (nl - 1) * (ns - 1) AS dof,
                   CAST(sum(term_q) AS DOUBLE) / 1e9 AS chi2,
                   sqrt((CAST(sum(term_q) AS DOUBLE) / 1e9)
                        / CAST(n * (least(nl, ns) - 1) AS DOUBLE)) AS cramers_v
            FROM q GROUP BY 1, 2, 3""")
  )

  /** q319 — JOIN-CARDINALITY AUDIT (explosion pre-flight): before
    * paying for a join, profile both key columns and compute the
    * EXACT output size it would produce — Σ over matched keys of
    * n_left·n_right — plus the per-side fanout profile and the
    * inferred relationship class (1:1 / 1:N / N:1 / N:M). This is the
    * audit every pipeline that ever melted on an unexpected N:M join
    * runs first (dbt test + relationship assertions, Deequ
    * uniqueness): at 100 TB a key whose duplication quietly drifted
    * from 1:N to N:M turns a join into a row bomb, and the multiset
    * profile — two map-side-combined counts plus a key-grain join —
    * costs a tiny fraction of the join it predicts (the q226 theme:
    * plan from evidence, not hope; this is the join-shaped ANALYZE).
    * Audited pair: orders.o_custkey → customer.c_custkey across the
    * full key union — also surfacing unmatched keys on both sides
    * (the referential-integrity counts q146's constraints check
    * per-row).
    *
    * Exactness: everything is counts and products of counts — BIGINT
    * end-to-end (the predicted row count is summed in DECIMAL(38,0):
    * per-key products bound by max_fanout², but the SUM is
    * corpus-scale²/keys and must not trust int64 at 100 TB).
    */
  val joinCardinalityAudit = Q(
    "q319_join_cardinality_audit",
    (s, d) => {
      val l = Tables.orders(s, d).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("nl"))
      val r = Tables.customer(s, d).groupBy(col("c_custkey").as("k"))
        .agg(count(lit(1)).as("nr"))
      l.join(r, Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("nl"), lit(0L)).as("nl"),
          coalesce(col("nr"), lit(0L)).as("nr"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("nl") > 0 && col("nr") > 0, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("nl") > 0 && col("nr") === 0, 1L).otherwise(0L)).as("n_left_only"),
          sum(when(col("nl") === 0 && col("nr") > 0, 1L).otherwise(0L)).as("n_right_only"),
          max(col("nl")).as("max_left_fanout"),
          max(col("nr")).as("max_right_fanout"),
          sum((col("nl") * col("nr")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("predicted_rows"))
        .select(col("n_keys"), col("n_matched"), col("n_left_only"),
          col("n_right_only"), col("max_left_fanout"), col("max_right_fanout"),
          col("predicted_rows").cast("double").as("predicted_join_rows"),
          when(col("max_left_fanout") <= 1 && col("max_right_fanout") <= 1, "1:1")
            .when(col("max_right_fanout") <= 1, "N:1")
            .when(col("max_left_fanout") <= 1, "1:N")
            .otherwise("N:M").as("relationship"))
    },
    Some("""WITH l AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS nl
                       FROM orders GROUP BY 1),
            r AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS nr
                  FROM customer GROUP BY 1),
            u AS (SELECT coalesce(l.k, r.k) AS k,
                         coalesce(nl, 0) AS nl, coalesce(nr, 0) AS nr
                  FROM l FULL JOIN r ON r.k = l.k),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                         CAST(sum(CASE WHEN nl > 0 AND nr > 0 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_matched,
                         CAST(sum(CASE WHEN nl > 0 AND nr = 0 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_left_only,
                         CAST(sum(CASE WHEN nl = 0 AND nr > 0 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_right_only,
                         CAST(max(nl) AS BIGINT) AS max_left_fanout,
                         CAST(max(nr) AS BIGINT) AS max_right_fanout,
                         CAST(sum(nl * nr) AS DOUBLE) AS predicted_join_rows
                  FROM u)
            SELECT n_keys, n_matched, n_left_only, n_right_only,
                   max_left_fanout, max_right_fanout, predicted_join_rows,
                   CASE WHEN max_left_fanout <= 1 AND max_right_fanout <= 1 THEN '1:1'
                        WHEN max_right_fanout <= 1 THEN 'N:1'
                        WHEN max_left_fanout <= 1 THEN '1:N'
                        ELSE 'N:M' END AS relationship
            FROM a""")
  )

  /** q321 — QQ VENTILE TABLE (quantile–quantile comparison): the
    * CURVE behind q269's single number — KS reports the maximum CDF
    * gap between two samples; a QQ table shows WHERE the
    * distributions diverge (a heavy right tail, a shifted median, a
    * truncated floor look identical to KS-significance but opposite
    * for remediation). For each ventile q = 1..19, both groups' rank-
    * SELECTED values at rank ⌈q·n/20⌉ — integers picked from the
    * actual data (q120/q305/q312's no-interpolation rule, integer
    * rank formula (q·n+19) div 20) — side by side with their exact
    * difference. Everything is BIGINT; there are no doubles at all.
    *
    * Scale shape: per-group rank windows (the q305/q133 per-group
    * frame; at extreme scale the q98 two-phase enumeration swaps in);
    * the 19 probe ranks ride as a broadcast relation against the
    * ranked rows (a 19-way comparison per row, map-side, no extra
    * shuffle); output is 19 rows.
    */
  val qqVentiles = Q(
    "q321_qq_ventiles",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .where(col("event_type").isin("view", "purchase"))
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val ng = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("cents", "event_id")
      val ranked = ev.withColumn("rn", row_number().over(w).cast("long"))
        .join(ng, "event_type")
      val qs = s.range(1, 20).select(col("id").as("q"))
      val sel = ranked.join(broadcast(qs), col("rn") === expr("(q * n + 19L) div 20L"))
      sel.where(col("event_type") === "view")
        .select(col("q"), col("n").as("n_view"), col("cents").as("v_view"))
        .join(sel.where(col("event_type") === "purchase")
          .select(col("q"), col("n").as("n_purchase"), col("cents").as("v_purchase")),
          "q")
        .select(col("q"), col("n_view"), col("n_purchase"), col("v_view"),
          col("v_purchase"), (col("v_purchase") - col("v_view")).as("qq_diff"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events WHERE event_type IN ('view', 'purchase')),
            ng AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                   FROM ev GROUP BY 1),
            rk AS (SELECT e.event_type, e.cents, ng.n,
                          CAST(row_number() OVER (PARTITION BY e.event_type
                               ORDER BY e.cents, e.event_id) AS BIGINT) AS rn
                   FROM ev e JOIN ng USING (event_type)),
            qs AS (SELECT unnest(generate_series(1, 19)) AS q),
            sel AS (SELECT rk.event_type, CAST(qs.q AS BIGINT) AS q, rk.n, rk.cents
                    FROM rk JOIN qs ON rk.rn = (qs.q * rk.n + 19) // 20)
            SELECT a.q, a.n AS n_view, b.n AS n_purchase,
                   a.cents AS v_view, b.cents AS v_purchase,
                   b.cents - a.cents AS qq_diff
            FROM sel a JOIN sel b ON b.q = a.q
            WHERE a.event_type = 'view' AND b.event_type = 'purchase'""")
  )

  /** q322 — TRIMMED MEAN: the third classic robust location estimate
    * completing q157 (MAD flags outliers) and q133 (winsorize CLAMPS
    * them) — trimming DROPS the extreme 10 % on each side entirely,
    * the estimator of choice when tails are corrupt rather than
    * merely heavy (judging panels, latency SLOs, crowd labels). Kept
    * range is rank-defined in integers (lo = n div 10, keep
    * lo < rn ≤ n − lo — symmetric by construction), the kept sum is
    * exact cents, and the untrimmed mean rides beside it so the
    * output quantifies exactly what the tails were doing to the
    * estimate. Two divisions of exact integers are the only doubles.
    *
    * Scale shape: one per-type rank window over the q305/q133
    * per-group frame, one map-side-combined aggregate; output is
    * type-grain.
    */
  val trimmedMean = Q(
    "q322_trimmed_mean",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val ng = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("cents", "event_id")
      ev.withColumn("rn", row_number().over(w).cast("long"))
        .join(ng, "event_type")
        .withColumn("lo", expr("n div 10L"))
        .groupBy(col("event_type"), col("n"))
        .agg(
          sum(when(col("rn") > col("lo") && col("rn") <= col("n") - col("lo"), 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > col("lo") && col("rn") <= col("n") - col("lo"),
            col("cents")).otherwise(0L)).as("kept_cents"),
          sum(col("cents")).as("all_cents"))
        .select(col("event_type"), col("n"), col("n_kept"),
          (col("kept_cents").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean_cents"),
          (col("all_cents").cast("double") / col("n").cast("double"))
            .as("raw_mean_cents"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            ng AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                   FROM ev GROUP BY 1),
            rk AS (SELECT e.event_type, e.cents, ng.n, ng.n // 10 AS lo,
                          CAST(row_number() OVER (PARTITION BY e.event_type
                               ORDER BY e.cents, e.event_id) AS BIGINT) AS rn
                   FROM ev e JOIN ng USING (event_type))
            SELECT event_type, n,
                   CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN cents
                                 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN 1 ELSE 0 END)
                            AS DOUBLE) AS trimmed_mean_cents,
                   CAST(sum(cents) AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean_cents
            FROM rk GROUP BY 1, 2""")
  )

  /** q327 — DIFFERENCE-IN-DIFFERENCES: the panel causal estimator the
    * test family still lacked — q285 compares two arms at one time
    * (assumes randomization), DiD compares each arm's CHANGE across a
    * treatment boundary, differencing out both the stable arm gap and
    * the common time shock (the parallel-trends workhorse of launch
    * retrospectives where randomization never happened). Assignment is
    * the deterministic user_id parity (a stand-in for the rollout
    * cohort, hash-joinable like q79's split); the boundary is the
    * panel midpoint. Output is the full 2×2 cell table (n, exact cent
    * sums, means) plus the DiD estimate — the cells ride along so a
    * reviewer can see WHICH difference moved, not just the headline.
    *
    * Exactness: cents and counts are exact integers; the four means and
    * the estimate are the only doubles, computed with the identical
    * IEEE op sequence on both engines (division of exact longs, then
    * three subtractions). Scale shape: one map-side-combined aggregate
    * on a 4-row key space; the date arithmetic rides one 1-row
    * broadcast. 100 TB cost = one scan.
    */
  val didEstimator = Q(
    "q327_did_estimator",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val tz = ev.agg(min(col("day")).as("t0"), max(col("day")).as("t1"))
      val cells = ev.crossJoin(broadcast(tz))
        .withColumn("treat", (col("user_id") % 2).cast("long"))
        .withColumn("post",
          when(datediff(col("day"), col("t0")) * 2
            >= datediff(col("t1"), col("t0")) + 1, 1L).otherwise(0L))
        .groupBy("treat", "post")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("mean_cents", col("cents").cast("double") / col("n").cast("double"))
      val wide = cells.groupBy()
        .agg(
          max(when(col("treat") === 1 && col("post") === 1, col("mean_cents"))).as("m11"),
          max(when(col("treat") === 1 && col("post") === 0, col("mean_cents"))).as("m10"),
          max(when(col("treat") === 0 && col("post") === 1, col("mean_cents"))).as("m01"),
          max(when(col("treat") === 0 && col("post") === 0, col("mean_cents"))).as("m00"))
        .select(((col("m11") - col("m10")) - (col("m01") - col("m00"))).as("did_cents"))
      cells.crossJoin(broadcast(wide))
        .select(col("treat"), col("post"), col("n"), col("cents"),
          col("mean_cents"), col("did_cents"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            tz AS (SELECT min(day) AS t0, max(day) AS t1 FROM ev),
            c AS (SELECT CAST(user_id % 2 AS BIGINT) AS treat,
                         CASE WHEN date_diff('day', tz.t0, ev.day) * 2
                                   >= date_diff('day', tz.t0, tz.t1) + 1
                              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                         END AS post,
                         CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(cents) AS BIGINT) AS cents
                  FROM ev CROSS JOIN tz GROUP BY 1, 2),
            m AS (SELECT treat, post, n, cents,
                         CAST(cents AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents
                  FROM c),
            w AS (SELECT (max(CASE WHEN treat = 1 AND post = 1 THEN mean_cents END)
                        - max(CASE WHEN treat = 1 AND post = 0 THEN mean_cents END))
                        - (max(CASE WHEN treat = 0 AND post = 1 THEN mean_cents END)
                        - max(CASE WHEN treat = 0 AND post = 0 THEN mean_cents END))
                          AS did_cents
                  FROM m)
            SELECT m.treat, m.post, m.n, m.cents, m.mean_cents, w.did_cents
            FROM m CROSS JOIN w""")
  )

  /** q328 — CUPED VARIANCE REDUCTION: the experimentation-platform
    * adjustment (Deng et al. 2013) that shrinks an A/B metric's variance
    * using each user's PRE-EXPERIMENT covariate — θ = cov(X,Y)/var(X)
    * fitted pooled, adjusted metric Ŷ = Y − θ·(X − X̄); same expectation,
    * (1 − ρ²)× the variance, which is why every large platform runs it
    * (q285 tests proportions; this is the continuous-metric pipeline).
    * X = a user's pre-period cents (days 0–13), Y = outcome-period
    * cents (days 14–20) — q324's windows, so the covariate is
    * leakage-free by the same structural argument.
    *
    * Exactness discipline: θ's numerator n·Σxy − Σx·Σy and denominator
    * n·Σx² − (Σx)² are computed in DECIMAL(38,0) from exact cent
    * integers (products reach ~1e16 per user at these magnitudes and
    * overflow is a data bug at 100 TB — the q319 rule), then cast to
    * double for ONE division; each arm's adjusted mean applies the
    * identical op sequence on both engines. OVERFLOW BOUND (the two
    * engines fail DIFFERENTLY past it — Spark decimal(38,0) goes NULL
    * under non-ANSI while DuckDB HUGEINT hard-errors near 1.7e38, the
    * divergence class the q319 rule precludes): with per-user 21-day
    * cents |x|,|y| ≤ B, the largest term is n·Σxy ≤ n²·B², so
    * decimal(38,0) is exact while n·B < 1e19 — at B = 1e9 cents
    * ($10M/day for 21 days) that is n < 1e10 users, comfortably past
    * any real experiment. Past that bound, center x at user grain
    * first (Σ(x−x̄)(y−ȳ) keeps magnitudes at variance scale) before
    * widening types. Scale shape: one user-grain
    * aggregate (two date-pruned windows), one 1-row pooled-moment
    * broadcast, one 2-row arm aggregate.
    */
  val cuped = Q(
    "q328_cuped",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val t0 = ev.agg(min(col("day")).as("t0"))
      val ux = ev.crossJoin(broadcast(t0))
        .withColumn("off", datediff(col("day"), col("t0")).cast("long"))
        .where(col("off") >= 0 && col("off") < 21)
        .groupBy("user_id")
        .agg(sum(when(col("off") < 14, col("cents")).otherwise(0L)).as("x"),
          sum(when(col("off") >= 14, col("cents")).otherwise(0L)).as("y"))
        .withColumn("treat", (col("user_id") % 2).cast("long"))
      val dec = "decimal(19,0)"
      val mom = ux.groupBy().agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"))
        .select(col("n"), col("sx"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("theta"))
      ux.crossJoin(broadcast(mom))
        .groupBy("treat")
        .agg(count(lit(1)).as("n_users"),
          sum(col("y")).as("y_cents"), sum(col("x")).as("x_cents"),
          max(col("theta")).as("theta"),
          max(col("sx").cast("double") / col("n").cast("double")).as("x_bar_all"))
        .select(col("treat"), col("n_users"), col("y_cents"), col("x_cents"),
          col("theta"), col("x_bar_all"),
          (col("y_cents").cast("double") / col("n_users").cast("double")
            - col("theta") * (col("x_cents").cast("double")
              / col("n_users").cast("double") - col("x_bar_all")))
            .as("adj_mean_cents"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            tz AS (SELECT min(day) AS t0 FROM ev),
            ux AS (SELECT user_id,
                          CAST(sum(CASE WHEN date_diff('day', tz.t0, day) < 14
                                        THEN cents ELSE 0 END) AS BIGINT) AS x,
                          CAST(sum(CASE WHEN date_diff('day', tz.t0, day) >= 14
                                        THEN cents ELSE 0 END) AS BIGINT) AS y
                   FROM ev CROSS JOIN tz
                   WHERE date_diff('day', tz.t0, day) >= 0
                     AND date_diff('day', tz.t0, day) < 21
                   GROUP BY 1),
            uxt AS (SELECT user_id, x, y, CAST(user_id % 2 AS BIGINT) AS treat
                    FROM ux),
            m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         sum(CAST(x AS HUGEINT)) AS sx,
                         sum(CAST(y AS HUGEINT)) AS sy,
                         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                  FROM uxt),
            th AS (SELECT n, sx,
                          CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE) AS theta
                   FROM m)
            SELECT u.treat, CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(u.y) AS BIGINT) AS y_cents,
                   CAST(sum(u.x) AS BIGINT) AS x_cents,
                   max(th.theta) AS theta,
                   max(CAST(th.sx AS DOUBLE) / CAST(th.n AS DOUBLE)) AS x_bar_all,
                   CAST(sum(u.y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     - max(th.theta) * (CAST(sum(u.x) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE)
                       - max(CAST(th.sx AS DOUBLE) / CAST(th.n AS DOUBLE)))
                     AS adj_mean_cents
            FROM uxt u CROSS JOIN th
            GROUP BY 1""")
  )

  /** q332 — WILSON-INTERVAL SLICE SCORECARD: per-slice pass rates WITH
    * their uncertainty — the eval-dashboard table where a 100 %-pass
    * slice of 3 documents must NOT outrank a 95 %-pass slice of 3 000
    * (the small-n delusion a bare rate invites; Wilson's score interval
    * stays inside [0,1] and behaves at p near 0/1 where the normal
    * interval q285 uses collapses). Slices are (lang, source); the
    * audited predicate is the q122-family length gate (n_chars ≥ 200).
    * Every per-slice bound is computed from exact integers (k, n) by a
    * fixed IEEE op sequence — z = 1.96 as an explicit double literal on
    * both engines (a bare 1.96 is DECIMAL in DuckDB — the q118 literal
    * rule), sqrt is IEEE-exact and portable (the q94 rule), so the
    * whole scorecard carries a full hash oracle with no rounding.
    *
    * Scale shape: one map-side-combined aggregate on the slice key
    * space; the interval arithmetic is a narrow projection at slice
    * grain. One scan, no joins, no windows.
    */
  val wilsonScorecard = Q(
    "q332_wilson_scorecard",
    (s, d) => {
      val z2 = lit(1.96) * lit(1.96)
      val agg = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 200, 1L).otherwise(0L)).as("k"))
      val nD = col("n").cast("double")
      val p = col("k").cast("double") / nD
      val center = (p + z2 / (lit(2.0) * nD)) / (lit(1.0) + z2 / nD)
      val half = (lit(1.96) * sqrt(p * (lit(1.0) - p) / nD
        + z2 / (lit(4.0) * nD * nD))) / (lit(1.0) + z2 / nD)
      agg.select(col("lang"), col("source"), col("n"), col("k"),
        p.as("pass_rate"), (center - half).as("wilson_lo"),
        (center + half).as("wilson_hi"))
    },
    Some("""WITH a AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
                              CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
                                   AS BIGINT) AS k
                       FROM documents GROUP BY 1, 2),
            b AS (SELECT lang, source, n, k,
                         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                         CAST(n AS DOUBLE) AS nd,
                         CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
                  FROM a)
            SELECT lang, source, n, k, p AS pass_rate,
                   (p + z2 / (CAST(2.0 AS DOUBLE) * nd)) / (CAST(1.0 AS DOUBLE) + z2 / nd)
                     - (CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / nd
                          + z2 / (CAST(4.0 AS DOUBLE) * nd * nd)))
                       / (CAST(1.0 AS DOUBLE) + z2 / nd) AS wilson_lo,
                   (p + z2 / (CAST(2.0 AS DOUBLE) * nd)) / (CAST(1.0 AS DOUBLE) + z2 / nd)
                     + (CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / nd
                          + z2 / (CAST(4.0 AS DOUBLE) * nd * nd)))
                       / (CAST(1.0 AS DOUBLE) + z2 / nd) AS wilson_hi
            FROM b""")
  )

  /** q337 — PARETO 80/20 CUT: per event type, the SMALLEST set of top
    * spenders covering ≥ 80 % of revenue — the concentration question
    * q278's Gini coefficient summarizes as one number, answered as the
    * actionable membership count ("how many whales ARE the business").
    * The cut is decided DIVISION-FREE: user k is inside the cut while
    * 5·(cumulative cents through k−1) < 4·total, i.e. the first k with
    * 5·cum ≥ 4·total closes it — exact BIGINTs, no 0.8·total float
    * boundary (the q336/q302 multiply-through rule). Output per type:
    * population, cut size, the cut's exact cent mass, and its share
    * (the single display division).
    *
    * Scale shape: one map-side-combined user rollup, a per-type rank
    * window over user-grain rows (hot type → the q98 two-phase form at
    * 100 TB), one aggregate back to type grain.
    */
  val paretoCut = Q(
    "q337_pareto_cut",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cents").desc, col("user_id").asc)
      val cum = byUser
        .withColumn("cum", sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
        .withColumn("tot", sum(col("cents")).over(Window.partitionBy("event_type")))
        .withColumn("inside", when(lit(5L) * (col("cum") - col("cents"))
          < lit(4L) * col("tot"), 1L).otherwise(0L))
      cum.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("inside")).as("n_top"),
          sum(when(col("inside") === 1L, col("cents")).otherwise(0L)).as("top_cents"),
          max(col("tot")).as("total_cents"))
        .withColumn("top_share", col("top_cents").cast("double")
          / col("total_cents").cast("double"))
    },
    Some("""WITH bu AS (SELECT event_type, user_id,
                               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                                    AS BIGINT) AS cents
                        FROM events GROUP BY 1, 2),
            c AS (SELECT event_type, user_id, cents,
                         CAST(sum(cents) OVER (PARTITION BY event_type
                              ORDER BY cents DESC, user_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS BIGINT) AS cum,
                         CAST(sum(cents) OVER (PARTITION BY event_type)
                              AS BIGINT) AS tot
                  FROM bu),
            m AS (SELECT *, CASE WHEN 5 * (cum - cents) < 4 * tot
                                 THEN 1 ELSE 0 END AS inside
                  FROM c)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(inside) AS BIGINT) AS n_top,
                   CAST(sum(CASE WHEN inside = 1 THEN cents ELSE 0 END) AS BIGINT)
                     AS top_cents,
                   max(tot) AS total_cents,
                   CAST(sum(CASE WHEN inside = 1 THEN cents ELSE 0 END) AS DOUBLE)
                     / CAST(max(tot) AS DOUBLE) AS top_share
            FROM m GROUP BY 1""")
  )

  /** q339 — GROUP-SEQUENTIAL MONITORING (O'Brien–Fleming boundary):
    * the "peek correctly" table — q285 tests ONCE at the end; a live
    * experiment is read daily, and naive daily z-tests at 1.96 inflate
    * false positives several-fold. The sequential answer: per day k,
    * the CUMULATIVE two-proportion z (purchase rate by user-parity arm)
    * beside the OBF boundary c/√(k/K) — early looks need overwhelming
    * evidence, the final look ≈ the fixed-horizon bar. c = 2.963 (the
    * canonical tabulated constant) rides as an explicit design
    * parameter the way a production monitor configures its spending
    * function. Cumulative counts are exact integers via running-sum
    * windows over the day-grain rollup; z and the boundary are fixed
    * IEEE op sequences (sqrt — the q94 rule; all literals CAST AS
    * DOUBLE — the q118 rule); a zero pooled variance yields NULL on
    * both engines (guarded CASE).
    *
    * Scale shape: one map-side-combined (day × arm) rollup — the only
    * corpus-sized work; cumulative windows and the z projection ride
    * day-grain rows.
    */
  val sequentialMonitor = Q(
    "q339_sequential_monitor",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), (col("user_id") % 2).cast("long").as("arm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("succ"))
        .groupBy("day")
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("succ")).otherwise(0L)).as("s0"),
          sum(when(col("arm") === 1, col("succ")).otherwise(0L)).as("s1"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val kTot = daily.agg(count(lit(1)).as("bigk"))
      val cum = daily.crossJoin(broadcast(kTot))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .withColumn("cn0", sum(col("n0")).over(w))
        .withColumn("cn1", sum(col("n1")).over(w))
        .withColumn("cs0", sum(col("s0")).over(w))
        .withColumn("cs1", sum(col("s1")).over(w))
      val p0 = col("cs0").cast("double") / col("cn0").cast("double")
      val p1 = col("cs1").cast("double") / col("cn1").cast("double")
      val pb = (col("cs0") + col("cs1")).cast("double") /
        (col("cn0") + col("cn1")).cast("double")
      val se = sqrt(pb * (lit(1.0) - pb)
        * (lit(1.0) / col("cn0").cast("double") + lit(1.0) / col("cn1").cast("double")))
      val bound = lit(2.963) / sqrt(col("k").cast("double") / col("bigk").cast("double"))
      cum.select(col("day"), col("k"), col("cn0"), col("cn1"), col("cs0"), col("cs1"),
        when(se === 0.0, lit(null).cast("double")).otherwise((p1 - p0) / se).as("z"),
        bound.as("obf_bound"),
        when(se === 0.0, lit(false))
          .otherwise(abs((p1 - p0) / se) > bound).as("crossed"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s0,
                   CAST(sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s1
            FROM events GROUP BY 1),
            kt AS (SELECT CAST(count(*) AS BIGINT) AS bigk FROM daily),
            cum AS (SELECT day,
                           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
                           CAST(sum(n0) OVER cw AS BIGINT) AS cn0,
                           CAST(sum(n1) OVER cw AS BIGINT) AS cn1,
                           CAST(sum(s0) OVER cw AS BIGINT) AS cs0,
                           CAST(sum(s1) OVER cw AS BIGINT) AS cs1,
                           kt.bigk
                    FROM daily CROSS JOIN kt
                    WINDOW cw AS (ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            m AS (SELECT *,
                         CAST(cs0 AS DOUBLE) / CAST(cn0 AS DOUBLE) AS p0,
                         CAST(cs1 AS DOUBLE) / CAST(cn1 AS DOUBLE) AS p1,
                         CAST(cs0 + cs1 AS DOUBLE) / CAST(cn0 + cn1 AS DOUBLE) AS pb
                  FROM cum),
            v AS (SELECT *,
                         sqrt(pb * (CAST(1.0 AS DOUBLE) - pb)
                              * (CAST(1.0 AS DOUBLE) / CAST(cn0 AS DOUBLE)
                                 + CAST(1.0 AS DOUBLE) / CAST(cn1 AS DOUBLE))) AS se,
                         CAST(2.963 AS DOUBLE)
                           / sqrt(CAST(k AS DOUBLE) / CAST(bigk AS DOUBLE)) AS obf_bound
                  FROM m)
            SELECT day, k, cn0, cn1, cs0, cs1,
                   CASE WHEN se = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE (p1 - p0) / se END AS z,
                   obf_bound,
                   CASE WHEN se = 0 THEN false
                        ELSE abs((p1 - p0) / se) > obf_bound END AS crossed
            FROM v""")
  )

  val all: Seq[Q] =
    Seq(profile, profileHll, statsMaintenance, constraintAudit, embeddingDrift,
      skewAudit, observedIngest, ksTest, mannWhitney, benfordAudit,
      giniAudit, mutualInfo, kaplanMeier, maxDrawdown, crossCorr, abTest,
      columnLineage, chiSquare, joinCardinalityAudit, qqVentiles, trimmedMean,
      didEstimator, cuped, wilsonScorecard, paretoCut, sequentialMonitor)
}
