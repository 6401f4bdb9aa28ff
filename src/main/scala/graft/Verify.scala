package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.sized(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Clean any previous run's outputs first: a failing query must NOT
    // leave its stale parquet behind for the oracle compare to
    // silently re-validate.
    val outPath = Paths.get(outDir)
    if (Files.exists(outPath)) {
      val walk = Files.walk(outPath)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally walk.close() // Files.walk holds directory fds until closed
    }
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for local single-operator
    // iteration (mirrors Bench's SPARK_GRAFT_BENCH_ONLY; the driver
    // never sets it, so driver runs always dump the full surface).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A throwing query must be VISIBLE in the artifact, not silently
    // absent: round 7's events regression made 19 queries vanish from
    // the correctness report while it still read as all-pass. Collect
    // failures and dump them as _errors.json next to the outputs so
    // any downstream compare (tools/compare.py, the driver) can record
    // coverage loss instead of inferring it by diffing rounds.
    var failures = Vector.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures :+= (name -> s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ").take(500)}")
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Underscore prefix keeps it lexically apart from query output dirs.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // Loud summary but a normal exit: the partial outputs must still
    // reach the driver's compare (a red exit could discard them all).
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
