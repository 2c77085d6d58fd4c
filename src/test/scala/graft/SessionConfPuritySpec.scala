package graft

import org.scalatest.funsuite.AnyFunSuite

/** No registry query changes its caller's session confs. A query that
  * needs a different conf sets it on a `newSession()` of its own or inside
  * a set-and-restore scope; one that set it on the caller's session would
  * change what every later query in that session runs under.
  *
  * `fn` runs every build-phase action and every streaming drain, so the
  * returned plan is not executed here.
  */
class SessionConfPuritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every registry query leaves its caller's session confs as it found them") {
    val s = spark.newSession()
    val offenders = SparkEntry.registry.flatMap { q =>
      val before = s.conf.getAll
      q.fn(s, TestSpark.Sf0001)
      val after = s.conf.getAll
      val changed = (before.keySet ++ after.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k))
        .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
      if (changed.isEmpty) None else Some(s"${q.name} (${changed.mkString(", ")})")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
