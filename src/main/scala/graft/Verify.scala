package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: only run queries whose name starts with this
    // prefix (iteration speedup; the driver always runs the full set).
    val prefix = if (args.length > 2) args(2) else ""
    // Must use the engine session factory: it sets nanosAsLong (events.ts
    // is TIMESTAMP(NANOS) parquet — unreadable without it) and ANSI off
    // (Spark 4 defaults ANSI on; reference semantics are null-on-error).
    val spark = graft.core.GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.startsWith(prefix)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // reliable-mode scratch stays bounded by ONE query's
      // materializations (the write above fully consumed them)
      graft.core.Materialize.releaseScratch(spark)
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
    val json = SparkEntry.oracleSql.filter(_._1.startsWith(prefix))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
