package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** `StreamFixture`: a memory-sink drain runs its state operators at the
  * fixed 4 state partitions whatever the session's width, and the session
  * gets its own width back afterwards, also when the stream fails. */
class StreamFixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = "spark.sql.shuffle.partitions"

  /** A session whose shuffle width (7) differs from the state scope's. */
  private def session7(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Key, "7")
    s
  }

  test("toMemory drains a stateful stream at 4 state partitions; the session reads 7 after") {
    val s = session7()
    val partitions = ArrayBuffer.empty[Int]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        partitions.synchronized {
          partitions ++= e.progress.stateOperators.map(_.numShufflePartitions.toInt)
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    val out = try {
      val df = StreamFixture.toMemory(
        Tables.eventStream(s, TestSpark.Sf0001).groupBy("event_type").count(), "complete")
      Bridge.drainListenerBus(s)
      df
    } finally s.streams.removeListener(listener)

    assert(partitions.nonEmpty, "no progress with a state operator was reported")
    assert(partitions.toSet === Set(4))
    assert(s.conf.get(Key) === "7")
    val expected = Tables.events(s, TestSpark.Sf0001).groupBy("event_type").count()
    assert(out.collect().toSet === expected.collect().toSet)
  }

  test("the session reads 7 again when the drained stream throws") {
    val s = session7()
    val failing = Tables.eventStream(s, TestSpark.Sf0001)
      .where(assert_true(col("event_id") < 0).isNull)
      .groupBy("event_type").count()
    intercept[StreamingQueryException](StreamFixture.toMemory(failing, "complete"))
    assert(s.conf.get(Key) === "7")
  }

  test("the state scope unsets a width the session never set") {
    val s = spark.newSession()
    s.conf.unset(Key)
    StreamFixture.withStreamPartitions(s)(assert(s.conf.get(Key) === "4"))
    assert(!s.conf.getAll.contains(Key))
  }
}
