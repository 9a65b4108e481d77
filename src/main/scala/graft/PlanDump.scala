package graft

/** Plan-artifact dumper: writes `.explain("formatted")` output for a set
  * of catalog queries to files, one Spark session for the whole set.
  *
  * Usage: runMain graft.PlanDump <outDir> <sfDir> <q1,q2,...|all>
  *
  * Each query's plan lands in <outDir>/<name>.txt exactly as
  * explain("formatted") prints it (sort-stripped, same frame the bench
  * times). Measurement tooling only — never on a query path.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names: Seq[String] =
      if (args.length <= 2 || args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq.filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.core.GraftSession.local(appName = "graft-plan-dump")
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] no such query: $name")
        case Some(fn) =>
          try {
            val df = org.apache.spark.sql.graft.GraftSql.stripTrailingSort(fn(spark, sfDir))
            val txt = df.queryExecution.explainString(mode)
            java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
            println(s"[plandump] wrote $name (${txt.length} chars)")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
