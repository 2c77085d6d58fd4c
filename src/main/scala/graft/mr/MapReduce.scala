package graft.mr

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

import scala.jdk.CollectionConverters._

/** Typed MapReduce façade with the reference's client contract.
  *
  * The reference (`/root/reference/MapReduceClient.h:59,64`) defines a job as:
  * a user `map(k1, v1)` that emits 0..n intermediate `(k2, v2)` pairs
  * (`emit2`), a framework shuffle that groups all intermediate pairs by key,
  * and a user `reduce` that receives one complete key-group and emits 0..n
  * output `(k3, v3)` pairs (`emit3`). Input and output are unordered bags
  * (`MapReduceFramework.cpp:133,368-369`).
  *
  * Spark-first re-expression: `flatMap → groupByKey → flatMapGroups`. The
  * reference's per-thread sort + barrier + single-threaded k-way merge
  * (`MapReduceFramework.cpp:148-221`) is exactly what Spark's distributed
  * shuffle does natively — map-side sort/spill, stage boundary, merge on the
  * reduce side — so none of it is rebuilt here; the shuffle IS the barrier.
  *
  * Semantic deltas vs the reference, by design (SURVEY.md §7):
  *  - The reference groups keys by ordering-equality (`!(a<b) && !(b<a)`,
  *    `MapReduceFramework.cpp:197`); Spark groups by the key's
  *    `equals`/`hashCode` through its encoder. Callers must use key types
  *    whose equality is consistent with their ordering (true for all
  *    primitives, strings, and well-behaved case classes).
  *  - Value order within a group is unspecified — same as the reference,
  *    whose per-thread `std::sort` is unstable and compares keys only
  *    (`MapReduceFramework.cpp:150-154`). Reducers must be order-insensitive.
  *  - Keys/values cross executor boundaries, so they need `Encoder`s — the
  *    one obligation with no counterpart in the reference's shared-memory
  *    pointer passing.
  *  - `runCombine`'s in-task combiner merges keys by the JVM object's
  *    `equals`/`hashCode`, before any encoding. `K2`'s `equals` must
  *    therefore be no coarser than its encoded form: two keys that encode
  *    differently must not be equal. This holds for primitives, strings
  *    and case classes of them.
  */
object MapReduce {

  /** Entries the in-task combiner of `runCombine` holds before it flushes
    * them downstream; bounds the combiner's memory per map task.
    */
  private[mr] val CombineCap = 1 << 16

  /** Run one MapReduce job over a typed dataset of (K1, V1) pairs.
    *
    * Mirrors `startMapReduceJob` + `waitForJob` semantics lazily: the
    * returned Dataset is the job handle; any action runs the job.
    */
  def run[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      map: (K1, V1) => IterableOnce[(K2, V2)],
      reduce: (K2, Iterator[(K2, V2)]) => IterableOnce[(K3, V3)])(
      implicit e2: Encoder[(K2, V2)], ek: Encoder[K2], e3: Encoder[(K3, V3)])
      : Dataset[(K3, V3)] = {
    // Grouping by the encoded `_1` column (`toDF().groupBy(col("_1"))
    // .as[K2, (K2, V2)]`) instead of the `_._1` lambda was tried: it cut
    // shuffle bytes by ~35 % on word count but moved job time only within
    // noise (-3 % to -10 %), and it fails struct-encoded keys with
    // UNRESOLVED_COLUMN. So `run` keeps `groupByKey`.
    input
      .flatMap { case (k1, v1) => map(k1, v1) }          // MAP (emit2 = iterator)
      .groupByKey(_._1)                                   // SORT+SHUFFLE (distributed)
      .flatMapGroups((k2, it) => reduce(k2, it))          // REDUCE (emit3 = iterator)
  }

  /** Run a MapReduce job with a COMBINER (Dean & Ghemawat, OSDI 2004,
    * §4.3): when reduce is an associative-commutative fold, partial
    * reduction runs map-side BEFORE the shuffle, so the wire carries one
    * record per (task, key) instead of one per emission — the single
    * biggest scale lever for aggregation-shaped jobs. The reference has
    * no combiner (its shuffle is in-memory, `MapReduceFramework.cpp:159-218`);
    * on a distributed engine it's essential.
    *
    * Each map task folds its emissions into a hash map with `combine`,
    * then ships the map's entries through a sort-based `groupByKey` whose
    * groups the final merge folds again. The map holds at most
    * `CombineCap` keys: when it is full it is flushed downstream and
    * cleared, so a task's memory stays bounded whatever its key count; a
    * flushed key may cross the shuffle more than once and the final merge
    * folds the copies. Values may be null when `combine` accepts them.
    *
    * `groupByKey(...).reduceGroups` is not used: it plans as an
    * `ObjectHashAggregate`, which falls back to sorting every emission
    * once a task holds more than 128 keys
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`), and a
    * word-count map task holds tens of thousands. A codegen
    * `HashAggregate` needs a zero element, which a generic `combine` lacks.
    */
  def runCombine[K1, V1, K2, V2](
      input: Dataset[(K1, V1)],
      map: (K1, V1) => IterableOnce[(K2, V2)],
      combine: (V2, V2) => V2)(
      implicit e2: Encoder[(K2, V2)], ek: Encoder[K2]): Dataset[(K2, V2)] = {
    val combined = input.mapPartitions { rows =>
      val emitted = rows.flatMap { case (k1, v1) => map(k1, v1) }
      val acc = new java.util.HashMap[K2, V2]()
      // Fill the map up to the cap, then hand its entries downstream; the
      // next fill clears it only once those entries are consumed.
      def fill(): Iterator[(K2, V2)] = {
        acc.clear()
        while (acc.size < CombineCap && emitted.hasNext) {
          val (k, v) = emitted.next()
          val prev = acc.get(k)
          acc.put(k, if (prev != null || acc.containsKey(k)) combine(prev, v) else v)
        }
        acc.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
      }
      Iterator.continually(fill()).takeWhile(_.hasNext).flatten
    }
    combined
      .groupByKey(_._1)
      .mapGroups((k, it) => (k, it.map(_._2).reduce(combine)))
  }

  /** Convenience for in-memory inputs, mirroring the reference's
    * `InputVec` + `multiThreadLevel` signature: parallelism is capped at
    * `min(parallelism, input.size)` exactly like `MapReduceFramework.cpp:264`,
    * and empty input short-circuits to an empty result with no job at all
    * (`MapReduceFramework.cpp:256-261`).
    */
  def runLocal[K1, V1, K2, V2, K3, V3](
      spark: SparkSession,
      input: Seq[(K1, V1)],
      map: (K1, V1) => IterableOnce[(K2, V2)],
      reduce: (K2, Iterator[(K2, V2)]) => IterableOnce[(K3, V3)],
      parallelism: Int = 0)(
      implicit e1: Encoder[(K1, V1)], e2: Encoder[(K2, V2)], ek: Encoder[K2],
      e3: Encoder[(K3, V3)]): Seq[(K3, V3)] = {
    if (input.isEmpty) return Seq.empty  // empty-input fast path (cpp:256-261)
    val defaultPar = spark.sparkContext.defaultParallelism
    val slices = math.max(1, math.min(
      if (parallelism > 0) parallelism else defaultPar, input.size))
    val ds = spark.createDataset(input).repartition(slices)
    run(ds, map, reduce).collect().toSeq
  }
}
