package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A failing query
  * is logged to stderr and skipped; when any fails, failures.json (name →
  * message) lands next to oracle_sql.json. The exit code is 0 either way. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev loop: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b dumps just those queries
    // (oracle_sql.json still carries every entry — check.py selects)
    val selected = SparkEntry.selected("SPARK_GRAFT_VERIFY_ONLY")
    val spark = GraftSession(GraftSession.mainCores)
    new java.io.File(outDir).mkdirs()
    val failures = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      // release per-query persists (lmPerplexity/dsirWeights/divergence
      // caches) so a 185-query session doesn't accumulate every
      // operator's MEMORY_AND_DISK entries; no query reads another's
      // cache, so results are unaffected
      spark.catalog.clearCache()
      failed
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
    def json(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    val manifest = Paths.get(s"$outDir/failures.json")
    if (failures.nonEmpty) Files.writeString(manifest, json(failures))
    else Files.deleteIfExists(manifest)
    spark.stop()
  }
}
