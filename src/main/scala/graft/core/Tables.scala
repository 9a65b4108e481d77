package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata star schema (see TESTDATA.md).
  *
  * Every query in [[graft.SparkEntry]] takes an `sfDir` (scale-factor
  * directory) and reads only these parquet tables — never synthesized data —
  * so the driver's DuckDB oracle sees byte-identical inputs.
  *
  * SCAN-LAYOUT INGEST: the generated tables ship as ONE parquet file of
  * ONE row group each (sf0.1 lineitem: 600k rows, 11 MB, 1 row group).
  * Parquet splits only at row-group boundaries, so every scan stage over
  * such a table — decode, per-row expressions, partial aggregation — runs
  * as a SINGLE task no matter the core count or `files.maxPartitionBytes`:
  * a fixture-layout artifact, not a data or plan property (on a real
  * cluster a 100 TB table arrives as many thousands of files, which is
  * exactly what that conf is for). The loader therefore serves a
  * once-per-testdata multi-file repack: content-identical (parquet →
  * parquet, values bit-preserved; row order is irrelevant — every catalog
  * query pins its output order and every dedup a total version order,
  * which the 215-row oracle board re-proves on the repacked reads),
  * rebuilt when the source mtime moves (the version dir name carries the
  * source mtime, superseding the old `<=` marker-mtime contract), and
  * bypassed for already-multi-file sources (twin boards) and small
  * tables.
  *
  * CROSS-PROCESS SAFETY (round 14): the served repack path appears only
  * via an atomic rename of a fully-written staging dir, so a concurrent
  * reader sees either no dir (and builds its own) or a complete one —
  * never a half-written listing. Two processes racing on the same
  * testdata each stage into a process-unique `.tmp_*` sibling and race
  * the rename; the loser's staging dir is discarded (both stagings are
  * content-identical reshuffles of the same source). A crash mid-repack
  * leaves only a `.tmp_*` orphan that no reader ever lists and the next
  * successful repack sweeps. The old design overwrote the served path in
  * place under a JVM-local lock — a concurrent Verify + Bench pair could
  * read a directory mid-overwrite.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Below this a single scan task is the right plan anyway. */
  private val RepackMinBytes = 4L << 20

  /** Repack cache root — overridable for tests and race drills. */
  private[graft] def repackRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_REPACK_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_repack")

  /** Analyzed-frame cache (r14, rekeyed r15): `spark.read.parquet` pays
    * directory listing + footer schema read + analysis on EVERY call —
    * ~60 ms per base-table reference on this host (FloorProbe
    * decomposition), and a bench board references tables ~800 times. A
    * catalog caches table metadata; this is that cache: one immutable
    * DataFrame per (session, dir, table) at the CURRENT source
    * mtime. Hash-neutral by construction (same files, same schema — the
    * Dataset is immutable and every caller builds fresh plans on top).
    *
    * Lifetime/keying contract (r15, was a bare identityHashCode int —
    * collidable — and append-only):
    *   - outer key is the session OBJECT under reference equality
    *     (SparkSession does not override equals), so two live sessions
    *     can NEVER share an entry — hash collisions only co-bucket;
    *   - any outer entry whose SparkContext stopped is dropped on the
    *     next access, releasing that session's analyzed plans;
    *   - a frame pins its session regardless (a DataFrame references
    *     its own session), so a session-churning JVM whose context
    *     never stops could still accumulate: the outer map is capped at
    *     [[FrameCacheMaxSessions]], evicting the least-recently-used
    *     session's entries;
    *   - the inner key carries NO mtime — the mtime lives in the value,
    *     so a regenerated testdata dir REPLACES the stale frame instead
    *     of accumulating one frame per generation;
    *   - the value records the served repack version dir (None for
    *     unpacked reads); a hit whose version dir has vanished (another
    *     process swept it after regeneration + grace) re-resolves
    *     instead of serving a frame over deleted files. */
  private[graft] val FrameCacheMaxSessions = 16
  private final class SessionFrames {
    @volatile var lastUse: Long = System.nanoTime()
    val frames = new java.util.concurrent.ConcurrentHashMap[
      (String, String), (Long, DataFrame, Option[java.io.File])]()
  }
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SessionFrames]()

  /** Drop stopped sessions; if over cap, drop least-recently-used live
    * ones. Package-private so FrameCacheSpec can drive it directly. */
  private[graft] def frameCacheSweep(): Unit = {
    val it = frameCache.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey.sparkContext.isStopped) it.remove()
    }
    while (frameCache.size() > FrameCacheMaxSessions) {
      import scala.jdk.CollectionConverters._
      frameCache.entrySet().asScala.minByOption(_.getValue.lastUse)
        .foreach(e => frameCache.remove(e.getKey))
    }
  }

  private[graft] def frameCacheSessionCount: Int = frameCache.size()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val src = new java.io.File(s"$sfDir/$name.parquet")
    if (!src.exists()) return spark.read.parquet(src.getPath)
    frameCacheSweep()
    val sf = frameCache.computeIfAbsent(spark, _ => new SessionFrames)
    sf.lastUse = System.nanoTime()
    val key = (new java.io.File(sfDir).getCanonicalPath, name)
    val mtime = src.lastModified()
    val cur = sf.frames.get(key)
    val valid = cur != null && cur._1 == mtime &&
      cur._3.forall(_.exists())
    if (valid) cur._2
    else {
      val (df, served) = resolve(spark, sfDir, name, src)
      sf.frames.put(key, (mtime, df, served))
      df
    }
  }

  private def resolve(spark: SparkSession, sfDir: String, name: String,
                      src: java.io.File): (DataFrame, Option[java.io.File]) = {
    val (bytes, parts) =
      if (src.isFile) (src.length(), 1)
      else {
        val ps = Option(src.listFiles()).toSeq.flatten
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        (ps.map(_.length()).sum, ps.size)
      }
    if (parts != 1 || bytes < RepackMinBytes)
      return (spark.read.parquet(src.getPath), None)
    val sfAbs = new java.io.File(sfDir).getCanonicalPath
    val base = new java.io.File(
      s"$repackRoot/${Integer.toHexString(sfAbs.hashCode)}_${new java.io.File(sfAbs).getName}")
    // this.synchronized dedupes repack WORK within one JVM; correctness
    // across JVMs comes from the atomic-rename protocol in repackInto
    val dst = this.synchronized { repackInto(spark, src, base, name, bytes) }
    (spark.read.parquet(dst.getPath), Some(dst))
  }

  /** Stage-and-atomically-publish one table's repack under `base`.
    * Versioned by source mtime: `<name>.parquet.v<mtime>` either exists
    * complete (it only ever appears via an atomic rename) or is built
    * into a process-unique staging dir and renamed in. Loser of a
    * cross-process rename race discards its staging dir. Returns the
    * published version dir. Package-private so the concurrency spec can
    * drive the race directly, bypassing the JVM-local lock. */
  private[graft] def repackInto(spark: SparkSession, src: java.io.File,
                                base: java.io.File, name: String,
                                bytes: Long): java.io.File = {
    val dst = new java.io.File(base, s"$name.parquet.v${src.lastModified()}")
    if (new java.io.File(dst, "_SUCCESS").exists()) {
      // already published — still sweep: tombstoned predecessors age out
      // on LATER passes by design (the grace), so the sweep must run on
      // the steady-state path, not only at publish time
      sweepStale(base, name, dst.getName)
      return dst
    }
    // ~1 MB of source bytes per output file, bounded: enough splits to
    // feed a 32-core scan without a small-file explosion
    val n = math.max(4, math.min(64, (bytes >> 20).toInt))
    val tmp = new java.io.File(base,
      s".tmp_${name}_${ProcessHandle.current().pid()}_${System.nanoTime()}")
    spark.read.parquet(src.getPath).repartition(n)
      .write.mode("overwrite").parquet(tmp.getPath)
    try
      java.nio.file.Files.move(tmp.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // rename onto an existing non-empty dir surfaces as a generic
      // FileSystemException (ENOTEMPTY/EEXIST) — it means another
      // process published the same (content-identical) version between
      // our existence check and rename. Verify the winner's publish is
      // complete before discarding ours; anything else is a real error.
      case e: java.nio.file.FileSystemException =>
        if (new java.io.File(dst, "_SUCCESS").exists()) deleteRecursively(tmp)
        else throw e
    }
    require(new java.io.File(dst, "_SUCCESS").exists(),
      s"repack publish failed: $dst has no _SUCCESS after rename")
    sweepStale(base, name, dst.getName)
    dst
  }

  /** Best-effort cleanup: superseded version dirs and crashed staging
    * orphans, both only past a one-hour grace (r15 — a concurrent
    * process, or this JVM's own frame cache, may still be scanning the
    * superseded version when its replacement publishes; holding the
    * resolved path does not keep the files alive, so deletion waits out
    * any plausible in-flight query, and the frame cache additionally
    * re-resolves entries whose version dir vanished). The grace runs
    * from SUPERSESSION, not publish: the first sweep that notices a
    * superseded version drops a hidden `.superseded` tombstone in it
    * (hidden files are invisible to Spark's file listing) and a later
    * sweep deletes the dir once the tombstone is an hour old. Staging
    * orphans age on their own mtime — nothing ever reads a `.tmp_*`
    * dir. Failures ignored — stale dirs cost disk, never correctness. */
  private[graft] val SweepGraceMillis = 3600L * 1000
  private def sweepStale(base: java.io.File, name: String,
                         keep: String): Unit =
    try {
      val cutoff = System.currentTimeMillis() - SweepGraceMillis
      Option(base.listFiles()).toSeq.flatten.foreach { f =>
        if (f.getName == keep) {
          // a version dir can be superseded and later become the keep
          // target again (source mtime restored — e.g. a testdata dir
          // copied back). Clear any stale tombstone so a FUTURE real
          // supersession starts its grace fresh instead of inheriting
          // an aged tombstone and deleting under an in-flight reader.
          new java.io.File(f, ".superseded").delete(): Unit
        } else if (f.getName.startsWith(s"$name.parquet.v")) {
          val tomb = new java.io.File(f, ".superseded")
          if (!tomb.exists()) tomb.createNewFile(): Unit
          else if (tomb.lastModified() < cutoff) deleteRecursively(f)
        } else if (f.getName.startsWith(s".tmp_${name}_") &&
                   f.lastModified() < cutoff) deleteRecursively(f)
      }
    } catch { case _: Throwable => () }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .foreach(deleteRecursively)
    f.delete(): Unit
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped as two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (unreadable natively — sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true`, see GraftSession, so it
    * arrives as long nanos) and plain micros with isAdjustedToUTC=false
    * (arrives as TIMESTAMP_NTZ). Either way the catalog contract is the
    * same: `ts` is session-zone TimestampType (sessions run UTC, so the
    * NTZ→LTZ cast is wall-clock-preserving and matches what DuckDB sees
    * reading the file naively) and `ts_ns` is epoch long nanos. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(apply(s, d, "events"))

  /** Normalize a frame whose `ts` column may be any of the event-table
    * physical encodings (see [[events]]) to the catalog contract:
    * `ts` session-zone TimestampType + `ts_ns` epoch long nanos. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // drop any pre-existing ts_ns first — renaming into an occupied
        // name would leave two ts_ns columns and every later reference
        // ambiguous; the raw nanos column is the source of truth here
        raw.drop("ts_ns").withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case TimestampNTZType =>
        raw.drop("ts_ns").withColumn("ts", raw("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case _ =>
        if (raw.columns.contains("ts_ns")) raw
        else raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
