package graft.queries

import graft.{Q, Tables}
import graft.mr.MapReduce

/** Queries driven through the typed MapReduce façade (graft.mr.MapReduce)
  * rather than the DataFrame DSL — proving the reference's exact client
  * contract (map = flatMap with 0..n emissions, reduce = whole-group fold)
  * runs distributed on Spark and still matches a SQL oracle.
  */
object MapReduceQueries {

  /** q20 — word count via the façade: the canonical MapReduce program
    * (Dean & Ghemawat §2.1) expressed exactly as a reference client would:
    * map splits a document into (word, 1) emissions; reduce sums one whole
    * key-group. Arrives at Spark as flatMap → groupByKey → flatMapGroups.
    */
  val wordCount = Q(
    "q20_mr_wordcount",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select("doc_id", "text").as[(Long, String)]
      MapReduce.run[Long, String, String, Long, String, Long](
        docs,
        map = (_, text) =>
          text.split(' ').iterator.filter(_.nonEmpty).map(w => (w, 1L)),
        reduce = (word, group) => Iterator((word, group.map(_._2).sum))
      ).toDF("word", "cnt")
    },
    Some("""SELECT word, count(*) AS cnt FROM (
              SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
            WHERE word <> '' GROUP BY word""")
  )

  /** q21 — grouped character histogram via the façade: the reference's own
    * sample client (SampleClient.cpp:32-66) generalized to per-language
    * counts, with a composite key (lang, char) to show non-trivial K2.
    */
  val charByLang = Q(
    "q21_mr_char_by_lang",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select("lang", "text").as[(String, String)]
      MapReduce.run[String, String, (String, String), Long, (String, String), Long](
        docs,
        map = (lang, text) => text.iterator.map(ch => ((lang, ch.toString), 1L)),
        reduce = (key, group) => Iterator((key, group.map(_._2).sum))
      ).map { case ((lang, c), n) => (lang, c, n) }
        .toDF("lang", "c", "cnt")
    },
    Some("""SELECT lang, c, count(*) AS cnt FROM (
              SELECT lang, unnest(string_split(text, '')) AS c FROM documents) t
            GROUP BY lang, c""")
  )

  /** q59 — word count through the combiner path (runCombine): identical
    * semantics to q20 (same oracle) but the plan carries one record per
    * (task, word) across the shuffle instead of one per emission —
    * each map task folds its words in a hash map before the shuffle.
    */
  val wordCountCombine = Q(
    "q59_mr_wordcount_combine",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select("doc_id", "text").as[(Long, String)]
      MapReduce.runCombine[Long, String, String, Long](
        docs,
        map = (_, text) =>
          text.split(' ').iterator.filter(_.nonEmpty).map(w => (w, 1L)),
        combine = _ + _
      ).toDF("word", "cnt")
    },
    wordCount.oracle
  )

  /** q238 — ENGINE-ENFORCED SECONDARY SORT (`flatMapSortedGroups`): the
    * typed grouped-map API where the ENGINE hands the reduce function
    * its group PRE-SORTED by declared sort expressions — the
    * "value-ordered reduce" the reference's within-partition sort phase
    * (`MapReduceFramework.cpp:150-154`) exists to enable, here with the
    * ordering as part of the operator contract instead of a
    * caller-beware convention (the repo's other whole-group reducers
    * document iterator order as UNSPECIFIED and must be
    * order-insensitive — `OrderingContractSpec`; this is the API for
    * the reducers that genuinely need sequential order). The engine
    * sorts each group DURING the shuffle (sort-based aggregation path —
    * no per-group buffering, no `it.toArray.sortBy` inside user code),
    * so a group larger than memory still streams: the 100 TB contract
    * that a hand-rolled sort inside `flatMapGroups` breaks first. The
    * computation — longest strictly-increasing run of `value` in
    * (ts, event_id) arrival order per user — is a genuine sequential
    * recurrence: O(1) state over a one-pass ordered stream, the shape
    * that cannot be map-side-combined and so justifies the sorted-group
    * API. Oracle: the gaps-and-islands replay (break flags → run ids →
    * run lengths → max) over the identical total order.
    */
  val secondarySort = Q(
    "q238_secondary_sort",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      Tables.events(s, d)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"))
        .as[(Long, Double, java.sql.Timestamp, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("ts"), col("event_id")) { (user, it) =>
          var n = 0L; var run = 0L; var best = 0L
          var prev = Double.NaN
          it.foreach { r =>
            n += 1
            run = if (run > 0 && r._2 > prev) run + 1 else 1
            if (run > best) best = run
            prev = r._2
          }
          Iterator((user, n, best))
        }
        .toDF("user_id", "n_events", "longest_run")
    },
    Some("""WITH o AS (SELECT user_id, value, ts, event_id,
                         lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS pv
                       FROM events),
            f AS (SELECT user_id, ts, event_id,
                    CASE WHEN pv IS NULL OR value <= pv THEN 1 ELSE 0 END AS brk
                  FROM o),
            g AS (SELECT user_id,
                    sum(brk) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run_id
                  FROM f),
            r AS (SELECT user_id, run_id, count(*) AS len FROM g GROUP BY 1, 2)
            SELECT user_id, CAST(sum(len) AS BIGINT) AS n_events,
                   CAST(max(len) AS BIGINT) AS longest_run
            FROM r GROUP BY user_id""")
  )

  val all: Seq[Q] = Seq(wordCount, charByLang, wordCountCombine, secondarySort)
}
