package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM, built by the
  * same recipe the mains run queries in. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
