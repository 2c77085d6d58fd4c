package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one drain policy of the registry's Structured Streaming fixtures.
  *
  * A fixture builds its streaming plan and its sink, then hands the
  * writer here: [[drain]] runs it to completion with `Trigger.AvailableNow`
  * (every file or row available at start, in as many micro-batches as the
  * source's admission control allows, then the query stops by itself).
  * [[toMemory]] is the memory-sink shape most fixtures verify through.
  *
  * q253 is the one fixture that does not drain here: its state TTL forces
  * `TimeMode.ProcessingTime`, under which an AvailableNow query never
  * terminates (see its scaladoc), so it polls its sink and stops the
  * query itself.
  */
object StreamFixture {

  private val StatePartitions = 4

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
  def withStreamPartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.getAll.get(key) // getOption would report the default as set
    s.conf.set(key, StatePartitions.toString)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Starts `w` under `Trigger.AvailableNow` and blocks until the query
    * has drained its input and stopped; a failed query throws here. */
  def drain(w: DataStreamWriter[_]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Drains `df` into a fresh memory sink in output mode `mode`, under
    * the 4-partition state scope, and returns the sink's table. */
  def toMemory(df: DataFrame, mode: String): DataFrame = {
    val s = df.sparkSession
    val name = "stream_" + java.util.UUID.randomUUID().toString.replace('-', '_')
    withStreamPartitions(s)(drain(df.writeStream.format("memory").queryName(name).outputMode(mode)))
    s.table(name)
  }
}
