package graft.mr

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, AgnosticEncoders, encoderFor}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.classTag

/** Typed MapReduce façade with the reference's client contract.
  *
  * The reference (`/root/reference/MapReduceClient.h:59,64`) defines a job as:
  * a user `map(k1, v1)` that emits 0..n intermediate `(k2, v2)` pairs
  * (`emit2`), a framework shuffle that groups all intermediate pairs by key,
  * and a user `reduce` that receives one complete key-group and emits 0..n
  * output `(k3, v3)` pairs (`emit3`). Input and output are unordered bags
  * (`MapReduceFramework.cpp:133,368-369`).
  *
  * Spark-first re-expression: `mapPartitions → groupByKey → flatMapGroups`.
  * Each map task runs the user `map` and groups its own emissions by key in
  * a bounded hash map — the reference's per-thread sort
  * (`MapReduceFramework.cpp:148-154`), with hashing in place of sorting.
  * The reference's barrier + single-threaded k-way merge of those
  * per-thread runs (`MapReduceFramework.cpp:159-221`) is what Spark's
  * distributed shuffle does natively — map-side sort/spill, stage
  * boundary, merge on the reduce side — so none of it is rebuilt here; the
  * shuffle IS the barrier.
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
  *  - The in-task hash maps of `run` and `runCombine` merge keys by the
  *    JVM object's `equals`/`hashCode`, before any encoding. `K2`'s
  *    `equals` must therefore be no coarser than its encoded form: two
  *    keys that encode differently must not be equal. This holds for
  *    primitives, strings and case classes of them.
  */
object MapReduce {

  /** Values one map task holds in its in-task hash map before it flushes
    * them downstream; bounds the map side's memory per task for `run` and
    * `runCombine` alike.
    */
  private[mr] val MapSideCap = 1 << 16

  /** Groups one map task's emissions by key in a hash map and hands the
    * map's entries downstream whenever it holds `MapSideCap` values, and
    * once more when the task's emissions run out. `absorb(acc, k, v)` adds
    * one emission to the map and returns how many values the map holds
    * more afterwards: 0 when `v` was folded into a value already there.
    */
  private def groupInTask[K, V, A](emitted: Iterator[(K, V)])(
      absorb: (java.util.HashMap[K, A], K, V) => Int): Iterator[(K, A)] = {
    val acc = new java.util.HashMap[K, A]()
    // Fill the map up to the cap, then hand its entries downstream; the
    // next fill clears it only once those entries are consumed.
    def fill(): Iterator[(K, A)] = {
      acc.clear()
      var held = 0
      while (held < MapSideCap && emitted.hasNext) {
        val (k, v) = emitted.next()
        held += absorb(acc, k, v)
      }
      acc.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
    }
    Iterator.continually(fill()).takeWhile(_.hasNext).flatten
  }

  /** The encoder of `run`'s shipped rows, `(K2, Seq[V2])`, built from the
    * caller's `(K2, V2)` and `K2` encoders: `V2`'s encoder is the second
    * field of the pair encoder, so the pair encoder must be a two-field
    * product encoder (every tuple encoder from `spark.implicits` or
    * `Encoders.tuple` is). The `Seq` is the buffer the map side filled,
    * shipped without a copy.
    */
  private def groupedEncoder[K2, V2](e2: Encoder[(K2, V2)], ek: Encoder[K2])
      : Encoder[(K2, collection.Seq[V2])] = {
    val v = encoderFor(e2).encoder match {
      case AgnosticEncoders.ProductEncoder(_, Seq(_, field), _) =>
        field.enc.asInstanceOf[AgnosticEncoder[V2]]
      case other => throw new IllegalArgumentException(
        "MapReduce.run needs the (K2, V2) encoder to be a two-field product " +
          "encoder, such as a tuple encoder from spark.implicits or " +
          s"Encoders.tuple, to encode V2 on its own; got $other")
    }
    Encoders.tuple(ek, AgnosticEncoders.IterableEncoder(
      classTag[collection.Seq[V2]], v, containsNull = v.nullable,
      lenientSerialization = false))
  }

  /** Run one MapReduce job over a typed dataset of (K1, V1) pairs.
    *
    * Mirrors `startMapReduceJob` + `waitForJob` semantics lazily: the
    * returned Dataset is the job handle; any action runs the job.
    *
    * Each map task pre-groups its emissions: it appends every value to
    * its key's list in an in-task hash map and ships the map's entries as
    * `(K2, Seq[V2])` rows, so the shuffle sorts one row per (task, key)
    * instead of one per emission. The map holds at most `MapSideCap`
    * values: when it is full it is flushed downstream and cleared, so one
    * task buffers at most `MapSideCap` × the size of one value (plus a
    * list per key), and one shipped row carries at most `MapSideCap`
    * values. A key flushed more than once crosses the shuffle in several
    * rows. The reduce side streams every row of a key's group into one
    * `reduce` call, so `reduce` still sees each whole group exactly once.
    * `reduce` cannot be pre-combined in general; for an associative fold,
    * `runCombine` ships one value per (task, key) instead of a list.
    *
    * `e2` must be a two-field product encoder, such as a tuple encoder
    * from `spark.implicits` or `Encoders.tuple`; any other encoder throws
    * `IllegalArgumentException`.
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
    val grouped = input.mapPartitions[(K2, collection.Seq[V2])] {
      (rows: Iterator[(K1, V1)]) =>
        val emitted = rows.flatMap { case (k1, v1) => map(k1, v1) } // MAP (emit2 = iterator)
        groupInTask[K2, V2, ArrayBuffer[V2]](emitted) { (acc, k, v) =>
          var vs = acc.get(k)
          if (vs == null) { vs = new ArrayBuffer[V2](); acc.put(k, vs) }
          vs += v
          1
        }
    }(groupedEncoder(e2, ek))
    grouped
      .groupByKey(_._1)                                     // SORT+SHUFFLE (distributed)
      .flatMapGroups((k, it) =>                             // REDUCE (emit3 = iterator)
        reduce(k, it.flatMap { case (k2, vs) => vs.iterator.map(v => (k2, v)) }))
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
    * `MapSideCap` values, one per key: when it is full it is flushed
    * downstream and cleared, so a task's memory stays bounded whatever its
    * key count; a flushed key may cross the shuffle more than once and the
    * final merge folds the copies. Values may be null when `combine`
    * accepts them.
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
      groupInTask[K2, V2, V2](emitted) { (acc, k, v) =>
        val prev = acc.get(k)
        if (prev != null || acc.containsKey(k)) { acc.put(k, combine(prev, v)); 0 }
        else { acc.put(k, v); 1 }
      }
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
