package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // outDir is recursively DELETED below — refuse the read-only input
    // trees so a swapped-argument invocation can never wipe test data
    require(!outDir.startsWith("/root/testdata") &&
        !outDir.startsWith("/root/reference"),
      s"outDir '$outDir' points into a read-only input tree " +
        "(args are sfDir THEN outDir; outDir is wiped before writing)")
    val spark = LocalSession("spark.sql.session.timeZone" -> "UTC")
    // SPARK_GRAFT_QUERIES: comma-separated allowlist for local
    // iteration (same contract as Bench). The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // wipe stale outputs: a query that errors writes nothing, and a
    // leftover dump from a previous run must not pass for it. Under an
    // allowlist only the selected dumps are replaced (the full-surface
    // dump stays intact for check.py).
    if (only.isEmpty) {
      LocalFs.rmTree(new java.io.File(outDir))
      new java.io.File(outDir).mkdirs()
    } else only.get.foreach { n =>
      LocalFs.rmTree(new java.io.File(s"$outDir/$n"))
    }
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
