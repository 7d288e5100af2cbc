package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // zero-codegen-fallback gate: a Janino failure is only a log line to
    // Spark; here it fails the run (exit 3, AFTER all artifacts are
    // written) so an interpreted hot path can't ship silently again
    graft.quality.CodegenGuard.install()
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset, for targeted correctness iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
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
    Files.writeString(Paths.get(s"$outDir/codegen_guard.json"),
      graft.quality.CodegenGuard.reportJson)
    spark.stop()
    if (graft.quality.CodegenGuard.count > 0) {
      System.err.println(
        s"[verify] CODEGEN GUARD TRIPPED (${graft.quality.CodegenGuard.count} events) — " +
          "a generated-code compile failure fell back to interpreter mode:")
      graft.quality.CodegenGuard.captured.take(10)
        .foreach(l => System.err.println(s"[verify]   $l"))
      sys.exit(3)
    }
  }
}
