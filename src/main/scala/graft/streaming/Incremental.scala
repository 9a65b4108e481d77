package graft.streaming

import graft.sources.FileIO
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ST5/ST6: batch-incremental ingest with a persisted high-watermark and a
  * late-data lookback window (ref:
  * windowed_lagN_awskms_postgres_date_partition.py — process only rows
  * newer than the stored watermark minus N days, then overwrite exactly
  * the touched date partitions).
  *
  * Scale contract: each run reads only `lookback + new` days from the
  * source (predicate pushes into the parquet scan), and rewrites only the
  * touched date partitions of the target (dynamic partition overwrite) —
  * never the whole table. Late rows inside the lookback window are
  * re-ingested idempotently (their whole date partition is rebuilt); rows
  * later than the lookback are dropped by design, like the reference.
  */
object Incremental {

  // a first run has no state: checked before reading, because a read of
  // a missing path fails in analysis, and every listener that inspects
  // that failed execution's plan (Spark's Observation listener does)
  // logs the failure again
  private def readWatermark(spark: SparkSession, statePath: String): Option[java.sql.Timestamp] = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else try {
      val row = spark.read.parquet(statePath).agg(max(col("wm"))).head()
      if (row.isNullAt(0)) None else Some(row.getTimestamp(0))
    } catch { case _: Exception => None }
  }

  /** Run one incremental load of `source` into `targetPath`. Returns the
    * number of rows written. `tsCol` must be a timestamp column. */
  def incrementalLoad(source: DataFrame, tsCol: String,
                      targetPath: String, statePath: String,
                      lookbackDays: Int): Long = {
    val spark = source.sparkSession
    val fresh = readWatermark(spark, statePath) match {
      case Some(wm) =>
        val threshold = date_sub(to_date(lit(wm)), lookbackDays)
        source.filter(to_date(col(tsCol)) >= threshold)
      case None => source
    }
    val dated = fresh.withColumn("__dt", to_date(col(tsCol)))
    val n = dated.count()
    if (n > 0) {
      FileIO.overwritePartitions(dated, targetPath, Seq("__dt"))
      dated.agg(max(col(tsCol)).as("wm"))
        .write.mode(SaveMode.Overwrite).parquet(statePath)
    }
    n
  }
}
