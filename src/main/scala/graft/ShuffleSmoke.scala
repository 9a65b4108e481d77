package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.GraftSql

import graft.core.QueryMetrics

/** Per-query wall, rows and data movement — makes "where every shuffle
  * comes from" (SCALING.md) a MEASURED table instead of a narrative one.
  *
  * Each catalog query (sort-stripped, noop sink, like Bench) runs once
  * untimed — warming scan caches and codegen, and counting its rows
  * through an [[Observation]], so the count costs no extra job — then
  * once under [[QueryMetrics.measure]]. One row per query: wall, rows,
  * jobs, stages, tasks, executor CPU and GC, slowest task, input,
  * shuffle write/read, spill, broadcast builds, rows and bytes (bytes
  * are allocated hash-relation pages, which scale with heap and cores —
  * see [[QueryMetrics]]), and the shuffle-to-input byte ratio — the number that decides whether an
  * operator's network cost at 100 TB is a scan-shaped constant or a
  * blow-up.
  *
  * Usage: runMain graft.ShuffleSmoke [sfDir] [name ...]
  * (no names → a default panel of the shuffle-heaviest board rows)
  *
  * The harness session disables parquet vectored IO: Hadoop's vectored
  * range reads on local files bypass the per-thread `FileSystem.Statistics`
  * that feed `taskMetrics.inputMetrics`, so with it on every parquet scan
  * reports ~0 input bytes (measured: a1 5.7 MB read vs 0.0 reported).
  * Metrics-harness-only — production sessions keep vectored IO.
  */
object ShuffleSmoke {

  /** Warm-up rows and timed-run metrics of one catalog query. The
    * warm-up's noop sink reports no written records, hence the
    * Observation; the timed run's plan carries no observer. */
  def measureQuery(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                   name: String): (Long, QueryMetrics) = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def frame = GraftSql.stripTrailingSort(SparkEntry.queries(name)(spark, sfDir))
    val rows = new Observation("rows")
    noop(frame.observe(rows, count(lit(1)).as("rows")))
    val (_, m) = QueryMetrics.measure(spark)(noop(frame))
    graft.core.Materialize.releaseScratch(spark)
    (rows.get("rows").asInstanceOf[Long], m)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("a1_pricing_summary", "j1_star_revenue", "q9_product_profit",
        "q18_large_orders", "w8_interval_collapse", "w2_dedup_latest_event",
        "d_exact_dedup", "d_minhash_lsh", "d_simhash", "d_ngram_jaccard",
        "d_triangles", "t_edit_distance", "s_semdedup", "s_srp_lsh",
        "s_cosine_topk", "t_bm25_search", "e_pagerank", "e_sessionize",
        "j13_salted_join", "u2_union_distinct")
    // see scaladoc: vectored IO hides parquet bytes from inputMetrics
    System.setProperty("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
    val spark = graft.core.GraftSession.local(appName = "graft-shuffle-smoke")
    val mb = 1024.0 * 1024.0
    println(f"${"query"}%-26s ${"wall_s"}%7s ${"rows"}%10s ${"jobs"}%5s " +
      f"${"stages"}%6s ${"tasks"}%6s " +
      f"${"cpu_s"}%7s ${"gc_s"}%6s ${"task_max_s"}%10s ${"input_mb"}%9s " +
      f"${"in_rec"}%10s ${"sh_w_mb"}%8s ${"sh_w_rec"}%10s ${"sh_r_mb"}%8s " +
      f"${"sh_r_rec"}%10s ${"mem_spill_mb"}%12s ${"disk_spill_mb"}%13s " +
      f"${"bc_builds"}%9s ${"bc_rows"}%9s ${"bc_mb"}%7s ${"sh/in"}%6s")
    names.foreach { name =>
      if (!SparkEntry.queries.contains(name)) println(s"$name: no such query")
      else {
        val (rows, m) = measureQuery(spark, sfDir, name)
        val ratio =
          if (m.inputBytes > 0) m.shuffleWriteBytes.toDouble / m.inputBytes else 0.0
        val taskMax = m.taskMs.lastOption.getOrElse(0L) / 1e3
        println(f"$name%-26s ${m.wallNs / 1e9}%7.2f $rows%10d ${m.jobs}%5d " +
          f"${m.stages}%6d ${m.tasks}%6d " +
          f"${m.executorCpuNs / 1e9}%7.2f ${m.gcMs / 1e3}%6.2f $taskMax%10.2f " +
          f"${m.inputBytes / mb}%9.1f ${m.inputRecords}%10d " +
          f"${m.shuffleWriteBytes / mb}%8.1f ${m.shuffleWriteRecords}%10d " +
          f"${m.shuffleReadBytes / mb}%8.1f ${m.shuffleReadRecords}%10d " +
          f"${m.memorySpillBytes / mb}%12.1f ${m.diskSpillBytes / mb}%13.1f " +
          f"${m.broadcastBuilds}%9d ${m.broadcastRows.sum}%9d " +
          f"${m.broadcastBytes.sum / mb}%7.1f $ratio%6.2f")
      }
    }
    spark.stop()
  }
}
