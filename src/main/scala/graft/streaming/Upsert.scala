package graft.streaming

import graft.sources.FileIO
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC upsert via `foreachBatch` — keep a keyed serving table
  * current from an update stream when the sink has no native MERGE (the
  * streaming composition of the reference's batch SCD merge,
  * servicenow_api_extract.py:2334-2349, with its cloudtrail-style file
  * stream). Each micro-batch B: target ← keep-latest-per-key(target ∪ B).
  *
  * Scale notes: the merge body runs on the DRIVER per batch but all data
  * work is distributed; the batch is small relative to the target by
  * construction. At 100 TB replace the full overwrite with
  * partition-scoped dynamic overwrite of only the partitions B touches
  * (`FileIO.overwritePartitions` — same merge, bounded write) and bucket
  * the target by the merge key so the union-dedup joins co-locate. The
  * merged frame is materialized (cache + count) BEFORE the overwrite
  * because the batch reads the same directory it rewrites.
  */
object Upsert {

  /** Start an AvailableNow drain of `source` that merges every
    * micro-batch into the parquet table at `targetDir`, keeping the
    * latest row per `keys` ordered by `orderCols` (descending, last
    * column should be a unique tiebreak). Re-running with the same
    * checkpoint processes only NEW source files — restartable and
    * exactly-once from the sink's perspective.
    *
    * The merged frame is written to a TEMP directory and swapped in by
    * [[graft.sources.FileIO.swapIn]] (Hadoop FileSystem renames, work on
    * local FS and HDFS) — never an in-place overwrite of the directory
    * the merge is reading: a cache-as-barrier overwrite would recompute
    * lost partitions from an already-deleted path on executor failure.
    * Each batch first runs the swap's crash recovery, so a crash between
    * the swap renames restores the table from `targetDir + "__old"`
    * before it is read. Only a missing target path then falls back to
    * an empty target; any OTHER read failure (e.g. a corrupt directory)
    * propagates — silently rebuilding from one batch would discard all
    * previously merged keys. */
  def startParquetUpsert(source: DataFrame, targetDir: String,
                         checkpointDir: String, keys: Seq[String],
                         orderCols: Seq[String]): StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val hadoopPath = new org.apache.hadoop.fs.Path(targetDir)
        val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bak = new org.apache.hadoop.fs.Path(targetDir + "__old")
        FileIO.recoverSwap(fs, hadoopPath, bak, "upsert")
        val target =
          if (fs.exists(hadoopPath)) spark.read.parquet(targetDir)
          else batch.limit(0).toDF()
        val merged = graft.operators.Windows.dedupLatest(
          target.unionByName(batch.toDF()), keys, orderCols.map(col))
        val tmpDir = targetDir + "__swap"
        merged.write.mode(SaveMode.Overwrite).parquet(tmpDir)
        // a failed swap throws, failing the batch (checkpoint replays it)
        FileIO.swapIn(fs, new org.apache.hadoop.fs.Path(tmpDir), hadoopPath,
          bak, "upsert")
      }
      .start()
}
