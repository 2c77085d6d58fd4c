package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The fixture sessions and the one drain policy of the registry's
  * Structured Streaming fixtures.
  *
  * A fixture builds its streaming plan and its sink, then hands the
  * writer here: [[drain]] runs it to completion with `Trigger.AvailableNow`
  * (every file or row available at start, in as many micro-batches as the
  * source's admission control allows, then the query stops by itself).
  * [[toMemory]] is the memory-sink shape most fixtures verify through.
  * A fixture that needs confs of its own, streaming or batch, runs on a
  * [[child]] session.
  *
  * Why the session-sharing conf sits at `start()`. Spark's codegen cache
  * is keyed on (context class loader, generated code). With
  * `spark.sql.artifact.isolation.enabled` at its default, every session
  * carries its own artifact state, and its tasks compile under a class
  * loader of that session's own. A streaming query clones its session at
  * `start()`, so each call of a fixture ran its micro-batches on a fresh
  * session and recompiled byte-identical code (q225: 42 units, q138: 8, on
  * every warm call). The session reads the conf once, lazily, when it first
  * needs its artifact state, so it has to be set before the clone exists:
  * [[drain]] sets it around `start()` and restores it, as
  * [[withStreamPartitions]] does for the state width; [[child]] sets it on
  * the fresh session before any use. The registry adds no artifact (no
  * jar, file or class), so the isolation bought it nothing.
  *
  * q253 is the one fixture that does not drain here: its state TTL forces
  * `TimeMode.ProcessingTime`, under which an AvailableNow query never
  * terminates (see its scaladoc), so it polls its sink and stops the
  * query itself, starting it under [[shareClasses]].
  */
object StreamFixture {

  private val StatePartitions = 4
  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** The state-store provider `transformWithState` requires (multiple
    * column families); pass it to [[child]]. */
  val RocksDbState: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A new session of `s0`'s context with `confs` set and no artifact
    * isolation, so its jobs compile under the shared class loader and hit
    * the codegen cache other calls filled. The caller's session is not
    * touched. The only `newSession()` in the program (`FixtureSessionSpec`).
    */
  def child(s0: SparkSession, confs: (String, String)*): SparkSession = {
    val s = s0.newSession()
    s.conf.set(ArtifactIsolation, "false")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Runs `body` with `key` set to `value` on `s` and restores the previous
    * value afterwards, also when `body` throws; a key the session never
    * set is unset again. */
  private def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getAll.get(key) // getOption would report the default as set
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Runs `body` with the session's shuffle partitions at 4 and restores
    * the previous value afterwards, also when `body` throws.
    *
    * A stateful streaming query creates one state store per shuffle
    * partition per stateful operator and pays per-batch maintenance on
    * every one of them; 32 stores for a few thousand windows/keys is
    * pure fixed overhead (BASELINE.md's round-2 analysis). The partition
    * count is frozen into the query's checkpoint at first start, so the
    * scoped conf is the per-query mechanism — batch queries in the same
    * session still get the session default. On a real cluster this knob
    * is sized to state volume, not core count.
    *
    * Width note (optimization r18, measured and REJECTED): running the
    * five stream-stream join fixtures (q74/q182/q202/q224/q254) at
    * compute-width state partitioning (min(defaultParallelism, 16) = 16
    * here) roughly DOUBLED them — cleanest-pass A/B at 4 vs 16
    * partitions: q254 1.85→4.2 s, q224 2.0→4.9 s, q74 3.2→4.2 s, with
    * process-CPU up ~2× — the per-partition state-store lifecycle (a
    * symmetric join keeps 4 stores per partition, each snapshotted per
    * batch, plus the no-data watermark batch) costs far more than the
    * extra cores return at bench SF. 4 partitions stays the scoped
    * default; a deployment sizes this to key spread × arrival rate,
    * where the join compute term dominates and wider wins.
    */
  def withStreamPartitions[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", StatePartitions.toString)(body)

  /** Runs `body` (a stream's `start()`) with artifact isolation off on
    * `s`, so the session the query clones shares the class loader and the
    * codegen cache; `s` reads as before afterwards. */
  def shareClasses[T](s: SparkSession)(body: => T): T =
    withConf(s, ArtifactIsolation, "false")(body)

  /** Starts `w`, a writer over a stream of session `s`, under
    * `Trigger.AvailableNow` and blocks until the query has drained its
    * input and stopped; a failed query throws here. */
  def drain(s: SparkSession)(w: DataStreamWriter[_]): StreamingQuery = {
    val q = shareClasses(s)(w.trigger(Trigger.AvailableNow()).start())
    q.awaitTermination()
    q
  }

  /** Drains `df` into a fresh memory sink in output mode `mode`, under
    * the 4-partition state scope, and returns the sink's table. */
  def toMemory(df: DataFrame, mode: String): DataFrame = {
    val s = df.sparkSession
    val name = "stream_" + java.util.UUID.randomUUID().toString.replace('-', '_')
    withStreamPartitions(s)(drain(s)(df.writeStream.format("memory").queryName(name).outputMode(mode)))
    s.table(name)
  }
}
