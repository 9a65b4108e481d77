package graft.sources

import graft.core.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File sources and sinks (SURVEY.md §2.1 S1-S6, S16-S18, S20-S21, S23-S24).
  *
  * Readers always take an explicit schema — the reference's inferSchema
  * uses are re-expressed with explicit schemas because schema inference
  * costs a full extra pass over the data at scale and can silently drift
  * between runs.
  */
object FileIO {

  /** S1/S2/S3: CSV scan with explicit schema, header and delimiter
    * options; gzip is transparent via the file extension
    * (ref: usage_analysis.py:62-67 header+escape; sap_bw_api.scala:130-136
    * tab-delim; gcp_test.py:64 csv.gz). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true, delimiter: String = ",",
              escape: String = "\""): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("escape", escape)
      .schema(schema)
      .csv(path)

  /** S20/S21: CSV sink; `singleFile` coalesces to one part file (the
    * reference's report pattern, usage_analysis.py:597-607) — only for
    * small frames, a single-file write of a big frame funnels to one task.
    * `codec` e.g. Some("gzip"). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               delimiter: String = ",", codec: Option[String] = None,
               singleFile: Boolean = false,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val w = out.write.mode(mode)
      .option("header", header.toString)
      .option("sep", delimiter)
    codec.fold(w)(c => w.option("codec", c)).csv(path)
  }

  /** HTML report sink (ref: send_email_job_usage_report_html.py —
    * aggregate frame → HTML table body saved for mailing; the SES email
    * dispatch itself is external I/O, out of engine scope). Collects on
    * the driver: report frames are small post-aggregation results by
    * construction — cap enforced so a misrouted fact table fails loudly
    * instead of OOMing the driver. */
  def writeHtmlReport(df: DataFrame, path: String, title: String,
                      maxRows: Int = 10000): Unit = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"report frame exceeds $maxRows rows — aggregate before reporting")
    def esc(s: String): String = s.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;")
    val header = df.columns.map(c => s"<th>${esc(c)}</th>")
      .mkString("<tr>", "", "</tr>")
    val body = rows.map(r =>
      (0 until r.length).map(i =>
          s"<td>${esc(if (r.isNullAt(i)) "" else String.valueOf(r.get(i)))}</td>")
        .mkString("<tr>", "", "</tr>")).mkString("\n")
    val html =
      s"""<html><head><title>${esc(title)}</title></head><body>
         |<h2>${esc(title)}</h2>
         |<table border="1">$header
         |$body
         |</table></body></html>""".stripMargin
    val dir = new java.io.File(path)
    dir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/report.html"), html)
  }

  /** Defensive CSV scan: malformed lines survive as nulls with the raw
    * line captured in `_corrupt_record` (PERMISSIVE mode — the
    * servicenow-style lenient ingest; pair with DataQuality rules to
    * quarantine them rather than failing the batch). Note Spark disallows
    * queries referencing ONLY the corrupt column on the raw scan
    * (SPARK-21610) — cache or write out before splitting good/bad. */
  def readCsvPermissive(spark: SparkSession, path: String, schema: StructType,
                        header: Boolean = true, delimiter: String = ","): DataFrame = {
    val withCorrupt = schema.add(
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType))
    spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .csv(path)
  }

  /** S5: JSON scan with explicit schema (ref: cloudtrail_etl.scala:95-98
    * reads JSON with a declared schema). */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJson(df: DataFrame, path: String,
                mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** S6: text scan + regex groups → named typed columns
    * (ref: logparsing.scala:42-77). Each `(name, type)` pair is bound to
    * the corresponding regex capture group, 1-based. */
  def readTextRegex(spark: SparkSession, path: String, pattern: String,
                    fields: Seq[(String, String)]): DataFrame = {
    val text = spark.read.text(path)
    val cols = fields.zipWithIndex.map { case ((name, tpe), i) =>
      regexp_extract(col("value"), pattern, i + 1).cast(tpe).as(name)
    }
    text.select(cols: _*)
  }

  /** S16: Hive-style partitioned parquet sink
    * (ref: windowed_lagN_awskms_postgres_date_partition.py:176-186). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** S17/S18: INSERT OVERWRITE of only the partitions present in `df`
    * (dynamic partition overwrite — the replaceWhere / `INSERT OVERWRITE
    * … PARTITION` analogue, ref: hive_to_hive_cte.py:162-175). Untouched
    * partitions keep their data. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Morton/Z-order bit-spread: the low 16 bits of `c` spread to even bit
    * positions (classic mask cascade; public literature — Morton 1966).
    * Pure codegen'd bitwise builtins, no UDF. */
  private def spread16(c: Column): Column = {
    import org.apache.spark.sql.functions.{shiftleft => shl}
    val x0 = c.bitwiseAND(lit(0xFFFF))
    val x1 = x0.bitwiseOR(shl(x0, 8)).bitwiseAND(lit(0x00FF00FF))
    val x2 = x1.bitwiseOR(shl(x1, 4)).bitwiseAND(lit(0x0F0F0F0F))
    val x3 = x2.bitwiseOR(shl(x2, 2)).bitwiseAND(lit(0x33333333))
    x3.bitwiseOR(shl(x3, 1)).bitwiseAND(lit(0x55555555))
  }

  /** Z-order clustered parquet write: both dimension columns are min-max
    * normalized to 16 bits, bit-interleaved into a Morton key, and the
    * frame is range-partitioned + sorted by that key — so EVERY output
    * file covers a bounded range in BOTH dimensions and parquet
    * min/max stats prune files for predicates on either column (a
    * lexicographic sort bounds only the leading column). This is the
    * data-layout half of what table formats call OPTIMIZE ZORDER BY,
    * for raw parquet tables. The min/max normalization is one
    * metadata-sized aggregate. `numFiles` sizes the layout; at
    * production scale it comes from bytes/targetFileSize like
    * [[compactParquet]]. */
  def writeZOrdered(df: DataFrame, path: String, dimA: String, dimB: String,
                    numFiles: Int): Unit = {
    val r = df.agg(min(col(dimA).cast("long")), max(col(dimA).cast("long")),
      min(col(dimB).cast("long")), max(col(dimB).cast("long"))).head()
    if (r.isNullAt(0) || r.isNullAt(2)) { // empty input / all-null dim:
      df.write.mode(SaveMode.Overwrite).parquet(path) // plain write, no key
      return
    }
    val (aMin, aMax) = (r.getLong(0), r.getLong(1))
    val (bMin, bMax) = (r.getLong(2), r.getLong(3))
    // double math: the 16-bit quantization is a layout heuristic, never a
    // query result, and doubles dodge (c-lo)*65535 overflow on wide
    // ranges — including the hi-lo span itself (subtract as doubles: a
    // full signed-64 range would overflow a Long subtraction)
    def norm(c: Column, lo: Long, hi: Long): Column =
      ((c.cast("double") - lit(lo.toDouble)) * lit(65535.0) /
        lit(math.max(hi.toDouble - lo.toDouble, 1.0))).cast("int")
    // interleave in LONG: dimB's top bit otherwise lands on Int bit 31,
    // making the upper half of dimB sort NEGATIVE — the range partition
    // straddling the sign boundary would span both extreme corners of
    // the curve and defeat pruning for its file
    val keyed = df.withColumn("__z",
      spread16(norm(col(dimA), aMin, aMax)).cast("long")
        .bitwiseOR(shiftleft(spread16(norm(col(dimB), bMin, bMax)).cast("long"), 1)))
    keyed.repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(totalBytes / targetBytes) files — the standing hygiene job of
    * any continuously-ingested table (every small file costs a task +
    * footer read per downstream query; at 100 TB a day's micro-batches
    * can leave millions). Sizing comes from the actual on-disk bytes,
    * not a row-count guess, so output files land near targetBytes
    * regardless of schema width. The rewrite goes to a temp directory
    * and swaps in via [[swapIn]] (never an in-place overwrite of the
    * directory being read), with `path + "__compact_old"` as the backup
    * that [[recoverSwap]] restores on the next run's entry. Returns
    * (filesBefore, filesAfter); (0,0) when there is nothing to compact
    * (missing, empty, or non-flat directory).
    *
    * Not concurrency-safe against writers of the same directory — run it
    * as the table's exclusive maintenance window (the production pattern
    * for non-transactional parquet tables; a table format with
    * optimistic commits is the alternative at higher write rates). */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L << 20): (Int, Int) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(path + "__compact_old")
    recoverSwap(fs, hPath, bak, "compact")
    if (!fs.exists(hPath)) return (0, 0)
    val files = fs.listStatus(hPath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) return (0, 0) // nothing to compact (empty or non-flat dir)
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val compacted = spark.read.parquet(path).repartition(nOut)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_swap")
    fs.delete(tmp, true)
    compacted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    swapIn(fs, tmp, hPath, bak, "compact")
    (files.length, nOut)
  }

  /** Crash recovery for [[swapIn]], run on entry BEFORE the table at
    * `path` is read: a leftover `bak` with the table absent means the
    * JVM died between the two swap renames — restore it; with the table
    * present it means only the final cleanup delete failed — retry that
    * delete. */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
                                 path: org.apache.hadoop.fs.Path,
                                 bak: org.apache.hadoop.fs.Path,
                                 what: String): Unit =
    if (fs.exists(bak)) {
      if (!fs.exists(path)) {
        if (!fs.rename(bak, path))
          throw new IllegalStateException(
            s"$what recovery: could not restore $bak to $path")
      } else if (!fs.delete(bak, true))
        throw new IllegalStateException(
          s"$what recovery: could not delete stale backup $bak")
    }

  /** Swap the fully-written directory `fresh` in as `path` by two
    * renames: move the table aside to `bak`, rename `fresh` in
    * (restoring `bak` if that fails), then delete `bak`. Every failure
    * path deletes its debris and leaves the original table in place; an
    * absent `path` (a first write) is simply renamed into. The two
    * renames are not jointly atomic: a JVM crash exactly between them
    * leaves the table at `bak` and no `path`, which the next entry's
    * [[recoverSwap]] restores — the window self-heals and is never
    * silent data loss. */
  private[graft] def swapIn(fs: org.apache.hadoop.fs.FileSystem,
                            fresh: org.apache.hadoop.fs.Path,
                            path: org.apache.hadoop.fs.Path,
                            bak: org.apache.hadoop.fs.Path,
                            what: String): Unit = {
    val hadTable = fs.exists(path)
    if (hadTable) {
      fs.delete(bak, true)
      if (!fs.rename(path, bak)) {
        fs.delete(fresh, true) // a full table copy must not linger as debris
        throw new IllegalStateException(s"$what: could not move $path aside")
      }
    }
    if (!fs.rename(fresh, path)) {
      if (hadTable) fs.rename(bak, path) // restore — the table must never vanish
      fs.delete(fresh, true)
      throw new IllegalStateException(s"$what swap rename failed for $path")
    }
    if (hadTable && !fs.delete(bak, true))
      // a full table copy must not linger silently; next run's entry
      // recovery retries this delete, so surface it rather than hide it
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$what: could not delete backup $bak — a full table copy " +
          s"remains on disk; the next $what run will retry the delete")
  }

  /** GDPR-style tombstone delete propagation over a partitioned parquet
    * table: remove every row whose `keyCol` value appears in
    * `tombstones`, rewriting ONLY the partitions that actually contain a
    * tombstoned row. At 100 TB the delete set touches a sliver of the
    * partitions — rewriting the whole table per deletion batch (or
    * scanning it per request) is the anti-pattern; here:
    *
    * 1. a partition-pruned semi join finds the AFFECTED partition values
    *    (collected — bounded by partition count, never row count);
    * 2. survivors = affected partitions' rows ANTI-JOIN tombstones
    *    (tombstone batches are request-sized → broadcast);
    * 3. dynamic partition overwrite rewrites partitions with ≥1
    *    survivor; partitions whose every row was tombstoned are deleted
    *    explicitly — dynamic overwrite cannot write an empty partition,
    *    and skipping them would silently RETAIN the deleted rows.
    *
    * Single string partition column (the common date-partition case).
    * Not concurrency-safe against writers (same contract as
    * [[compactParquet]]). Returns (affected, emptied) partition counts. */
  def propagateDeletes(spark: SparkSession, path: String, keyCol: String,
                       tombstones: DataFrame, partitionCol: String): (Int, Int) = {
    // Partition values must round-trip VERBATIM: with type inference on,
    // a numeric-looking string partition (dir p=007) reads back as INT 7,
    // survivors are rewritten under a NEW dir p=7, and the original dir
    // keeps every tombstoned row — the exact retention failure this
    // function exists to prevent. Resolve the relation with inference
    // off (read.parquet resolves eagerly, so restoring the conf after
    // is safe).
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.get(inferKey)
    val target =
      try { spark.conf.set(inferKey, "false"); spark.read.parquet(path) }
      finally spark.conf.set(inferKey, prevInfer)
    val ts = broadcast(tombstones.select(keyCol).distinct())
    // Option-valued partition values: a nullable partition column lands
    // in Hive's default partition, and its tombstoned rows must be
    // rewritten like any other partition's
    val affected = target.join(ts, Seq(keyCol), "left_semi")
      .select(col(partitionCol).cast("string")).distinct()
      .collect().map(r => Option(r.getString(0)))
    if (affected.isEmpty) return (0, 0)
    val nonNull = affected.flatten.toSeq
    val pc = col(partitionCol).cast("string")
    val partPred = {
      val in = if (nonNull.nonEmpty) pc.isInCollection(nonNull) else lit(false)
      if (affected.exists(_.isEmpty)) in || pc.isNull else in
    }
    // Materialize (eager): the overwrite targets the same path the survivors
    // are read from — materializing first both satisfies Spark's
    // read-write-conflict check and pins the data before any dir is
    // touched; the footprint is the affected SLIVER, not the table
    val survivors = target.filter(partPred)
      .join(ts, Seq(keyCol), "left_anti")
      .materialized(eager = true)
    val kept = survivors.select(pc).distinct()
      .collect().map(r => Option(r.getString(0))).toSet
    // Cluster the sliver by its partition value before the partitioned
    // write (r18, guide §6): the materialized sliver's read splits hold
    // rows of MANY partition values each, and partitionBy opens one file
    // per (task, value) — tasks × values small files at scale where
    // ~one per value suffices. REBALANCE is the AQE-managed form: it
    // targets the advisory partition size, so a hot partition value is
    // still split instead of becoming one giant single-task file
    // (without AQE the hint plans as a plain hash exchange — same
    // clustering, no split). Content is unchanged.
    overwritePartitions(survivors.hint("rebalance", col(partitionCol)),
      path, Seq(partitionCol))
    val emptied = affected.filterNot(kept)
    // Spark writes HIVE-ESCAPED directory names (null →
    // __HIVE_DEFAULT_PARTITION__, special chars → %XX); resolve each
    // emptied VALUE to its on-disk dir by decoding the actual directory
    // names — rebuilding "$partitionCol=$v" from the raw value would
    // miss escaped dirs and silently RETAIN the tombstoned rows
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byValue: Map[Option[String], org.apache.hadoop.fs.Path] =
      fs.listStatus(hPath).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(partitionCol + "="))
        .map { p =>
          val enc = p.getName.substring(partitionCol.length + 1)
          val v = if (enc == "__HIVE_DEFAULT_PARTITION__") None
                  else Some(unescapePathName(enc))
          v -> p
        }.toMap
    emptied.foreach(v => byValue.get(v).foreach(fs.delete(_, true)))
    (affected.length, emptied.length)
  }

  /** Inverse of Hive's escapePathName: decode %XX sequences in a
    * partition directory name back to the raw value. */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Ledger size (bytes on disk) above which [[copyInto]] stops forcing a
    * broadcast of the already-loaded-files ledger. The ledger grows with
    * every file ever ingested; a multi-year 100 TB ingest reaches millions
    * of rows, and an unconditional broadcast of that is a driver-memory
    * hazard. Under the cap (~32 MB parquet ≈ well inside any driver), the
    * broadcast skips a shuffle of the incoming batch; over it, the plain
    * join lets AQE pick (it will still broadcast if runtime stats allow). */
  val copyIntoBroadcastCapBytes: Long = 32L << 20

  /** S4: COPY INTO analogue — idempotent bulk append with a file-name
    * ledger (ref: copy_into_command_gzip_splittable.sql:47-63; COPY INTO
    * is a Delta feature, re-expressed as anti-join against the ledger of
    * already-loaded files + append). Returns the number of rows loaded. */
  def copyInto(spark: SparkSession, sourcePath: String, schema: StructType,
               targetPath: String, ledgerPath: String,
               header: Boolean = true, delimiter: String = ",",
               broadcastCapBytes: Long = copyIntoBroadcastCapBytes): Long = {
    val src = readCsv(spark, sourcePath, schema, header, delimiter)
      .withColumn("__src_file", input_file_name())
    val lPath = new org.apache.hadoop.fs.Path(ledgerPath)
    val lfs = lPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing ledger AND a present-but-unreadable one (a crash during
    // the very first append leaves only _temporary debris, no committed
    // footer) both mean "no ledger committed yet" — fall back to the
    // empty ledger rather than wedging every subsequent run. As in any
    // non-transactional two-append design, a crash exactly between the
    // data append and the ledger append re-loads that batch on retry;
    // exactly-once across that window is table-format territory.
    val loaded: Option[(DataFrame, Long)] =
      if (!lfs.exists(lPath)) None
      else try {
        val df = spark.read.parquet(ledgerPath)
        Some((df, lfs.getContentSummary(lPath).getLength))
      } catch { case _: Exception => None }
    val (ledger, ledgerBytes) = loaded.getOrElse((
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(org.apache.spark.sql.types.StructField("__src_file",
          org.apache.spark.sql.types.StringType)))), 0L))
    val antiSide =
      if (ledgerBytes <= broadcastCapBytes) broadcast(ledger) else ledger
    val fresh = src.join(antiSide, Seq("__src_file"), "left_anti").cache()
    val n = fresh.count()
    if (n > 0) {
      fresh.drop("__src_file").write.mode(SaveMode.Append).parquet(targetPath)
      // ONE ledger file per ingest (r18, guide §6 output sizing): a
      // batch's ledger increment is its distinct source file NAMES —
      // metadata-sized (thousands of rows at any real batch) — but the
      // distinct's shuffle otherwise fans the append out across
      // spark.sql.shuffle.partitions tasks (2000 under the cluster
      // profile), growing the ledger by up-to-2000 KB-sized files per
      // ingest; after a year of batches the anti-join above re-reads
      // millions of tiny files every run. coalesce(1) keeps the ledger
      // one right-sized file per batch; content is identical.
      fresh.select("__src_file").distinct().coalesce(1)
        .write.mode(SaveMode.Append).parquet(ledgerPath)
    }
    fresh.unpersist()
    n
  }

  /** S23/S24: temp-view staging + view-over-view
    * (ref: from_api_call_to_columnar_db.py:586-589; hive_to_hive_cte.py
    * CTE-to-view chain). Returns the staged view name. */
  /** Metadata-only row count of a parquet table: sums each data file's
    * FOOTER record counts, never touching a data page — the count-
    * reconciliation answer (A9) for a 100 TB table, where a scanning
    * COUNT(*) reads everything and this reads a few KB per file. The
    * file listing is a driver-side metadata walk (O(files), the same
    * cost any scan's planning pays); the footer reads distribute over
    * the file list. Counts whatever the footers claim — a half-written
    * file without its footer fails loudly rather than undercounting. */
  def footerRowCount(spark: SparkSession, path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a listStatus walk, not listFiles: listFiles builds a
    // LocatedFileStatus, which loads each status's permission, and the
    // local filesystem loads it by running `ls -ld` per file
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    // zero-length files are NOT skipped: a truncated data file must
    // fail the footer read below, not silently undercount
    val list = (if (fs.exists(root)) walk(root) else Nil).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map(_.toString)
    import spark.implicits._
    if (list.isEmpty) 0L
    else {
      // ship the session's Hadoop configuration to the executors: a
      // classpath-default Configuration would drop every spark.hadoop.*
      // setting (remote-FS credentials, custom schemes) exactly in the
      // deployments this metadata-only count is advertised for (built
      // only on the non-empty path, and released after the count — one
      // leaked conf per call would accrete in block-manager storage
      // across a long session)
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      try spark.createDataset(list)
        .mapPartitions { paths =>
          val conf = confBc.value.value
          paths.map { p =>
            val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
              conf, new org.apache.hadoop.fs.Path(p))
            try rdr.getRecordCount finally rdr.close()
          }
        }
        .toDF("n").agg(sum(col("n"))).head().getLong(0)
      finally confBc.unpersist(blocking = false)
    }
  }

  def stageTempView(df: DataFrame, name: String): String = {
    df.createOrReplaceTempView(name)
    name
  }

  def createViewSql(spark: SparkSession, name: String, sql: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS $sql")
}
