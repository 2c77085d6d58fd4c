package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = ErrorContract.guard {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // iteration helper (mirrors Bench): restrict to a comma-separated
    // query subset; the driver never sets it, so its gate stays complete
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").map(_.trim).toSet)
    // keep FILTERED runs self-consistent: a prior unfiltered run may have
    // left other queries' parquet dirs in outDir; remove unselected
    // registered-query dirs and (below) restrict oracle_sql.json to the
    // selected subset, so a DuckDB compare over this outDir can never mix
    // fresh and stale results
    // only-filter cleanup is LOUD (each removed dir goes to stderr — a
    // typo'd SPARK_GRAFT_VERIFY_ONLY destroying a full run's artifacts
    // must be visible); the routine pre-run removal below is silent, or
    // ~108 identical lines would drown exactly that signal. Both are
    // leak-free (the walk stream is closed).
    def rmTree(name: String, loud: Boolean): Unit = {
      val dir = Paths.get(s"$outDir/$name")
      if (Files.exists(dir)) {
        if (loud) System.err.println(s"[verify] removing unselected $dir")
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.delete(p); () })
        finally walk.close()
      }
    }
    only.foreach { sel =>
      SparkEntry.queries.keys.filterNot(sel.contains).foreach(rmTree(_, loud = true))
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // remove the prior result BEFORE running: a query that throws must
        // leave an ABSENT dir (compare reports missing), never a stale one
        // from an earlier run that the compare would score as this run's
        rmTree(name, loud = false)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
