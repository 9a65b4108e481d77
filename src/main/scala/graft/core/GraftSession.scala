package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Confs mirror the manual physical tuning observed across the reference
  * corpus (SURVEY.md §4): AQE on (supersedes the 16-way manual salt in
  * `sas_conversion_with_manual_salt_skewed_join.sql:23-27`), shuffle
  * partitions sized to the machine instead of the 200 default, UTC session
  * time zone for deterministic date semantics.
  */
object GraftSession {

  /** Executor classpath for `local-cluster` masters (separate executor
    * JVMs need the engine classes on their OWN classpath). Resolution:
    * `SPARK_GRAFT_CLASSES` if set, else this class's own code-source
    * location — the directory/jar the driver itself loaded graft from,
    * which on a shared-filesystem host is exactly what the executor
    * JVMs should read. No environment-specific path is baked in. */
  def executorClasses: String =
    sys.env.getOrElse("SPARK_GRAFT_CLASSES", {
      val src = getClass.getProtectionDomain.getCodeSource
      require(src != null && src.getLocation != null,
        "cannot locate graft classes for executor JVMs " +
          "(opaque classloader) — set SPARK_GRAFT_CLASSES explicitly")
      new java.io.File(src.getLocation.toURI).getAbsolutePath
    })

  /** Java-17 module opens Spark needs in executor JVMs (the driver
    * launcher applies the same set via its own JVM flags). */
  val executorJavaOptions: String =
    Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")

  /** The engine's semantics confs, the same under every master: AQE
    * (coalescing and skew-join splitting on), a UTC session time zone,
    * graft's native expressions for SQL-string callers, the `events`
    * table's TIMESTAMP(NANOS) parquet read as long (unreadable
    * otherwise), and ANSI off (the reference pipelines assume lenient
    * Hive-style null-on-error casts). [[local]] and [[clusterProfile]]
    * both start from this map. */
  val engineConfs: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.ansi.enabled" -> "false")

  /** Cluster-profile conf set for the 100 TB target: [[engineConfs]] plus
    * scale confs (applied on top of a user-provided builder; local() sizes
    * for the machine instead). Rationale per key:
    *   - shuffle.partitions 2000: ~50 GB/partition at 100 TB input after
    *     pruning; AQE coalesces small stages back down, so oversizing is
    *     cheap and undersizing spills.
    *   - maxPartitionBytes 256m: scan tasks sized so a row-group decode +
    *     codegen buffers fit comfortably in a 4-8 GB executor heap.
    *   - advisoryPartitionSizeInBytes 128m: AQE's post-shuffle target.
    *   - autoBroadcastJoinThreshold 50m: the reference's production value
    *     (sas_conversion…sql:3-27); dims to ~50 MB broadcast instead of
    *     shuffling the fact side.
    *   - skewJoin thresholds: split any post-filter partition >512 MB or
    *     >5× median — supersedes manual salting for most skew.
    */
  val clusterProfile: Map[String, String] = engineConfs ++ Map(
    "spark.sql.shuffle.partitions" -> "2000",
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "134217728",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "536870912",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
    "spark.sql.autoBroadcastJoinThreshold" -> "52428800")

  /** Apply the cluster profile to a caller-supplied builder (the caller
    * sets master/deploy specifics; this pins the engine's semantics and
    * scale confs). */
  def cluster(builder: SparkSession.Builder): SparkSession = {
    val s = builder.config(clusterProfile).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Entries of Spark's codegen class cache (the static conf
    * `spark.sql.codegen.cache.maxEntries`, default 100). Recurring work
    * reruns the same plans in one session, and the cache is an LRU: a
    * cycle of plans that generates more than 100 distinct classes evicts
    * each class before its next use, so every pass recompiles it (the
    * ten rows of perfbench's board_mix compiled 120 classes in one pass
    * at sf0.001 and 107 of them again in the next), and a recompiled
    * class is new to the JIT too.
    * Sized from a count, not a guess: one session running the whole
    * 218-row catalog at sf0.01 with the cache uncapped compiled 2,709
    * distinct classes in its first pass and 49 more in a second (plans
    * AQE varies), so 3,000 holds the catalog. Metaspace used after those
    * two passes (after a full GC, 4 cores): 224 MB at 100 entries, which
    * recompiled 3,192 classes in the second pass and unloads the evicted
    * ones, and 243 MB at 3,000, which recompiled 44. */
  val CodegenCacheEntries = 3000

  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
              .getOrElse(Runtime.getRuntime.availableProcessors()),
            appName: String = "graft"): SparkSession = {
    // Multi-JVM hook: SPARK_GRAFT_MASTER=local-cluster[4,8,4096] runs the
    // SAME session (Verify's board, Bench, the catalog's JDBC rows over
    // ThriftEndpoint) against a multi-JVM master — real executor
    // processes, real serialization/broadcast boundaries. Executor loss is
    // MaterializeSpec's "losing the blocks" test, in one JVM. Executors
    // are separate JVMs, so they need the engine classes
    // on their own classpath and the Java-17 --add-opens set the driver
    // launcher already applies.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val builder0 = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config(engineConfs)
      .config("spark.sql.shuffle.partitions", cores.toString)
    val builder =
      if (!master.startsWith("local-cluster")) builder0
      else builder0
        .config("spark.executor.extraClassPath", executorClasses)
        .config("spark.executor.extraJavaOptions", executorJavaOptions)
    val s = builder
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // file:// without process spawns. With no Hadoop native library
      // loaded, the stock local filesystem sets every permission by running
      // `chmod` and reads every link by running `readlink`. That means 2
      // spawns per file written (data and .crc), 1 per directory made and
      // 1 per path a FileContext rename checks (source and destination,
      // data and .crc). A `chmod` process costs about 4 ms in a
      // 2 GB-heap JVM, against 0.002 ms for the NIO call. The sf0.01
      // catalog board started 6,812 such processes (3,484 chmod, 3,328
      // readlink), 3,040 of them on streaming checkpoints' checksum
      // threads. NioLocalFs makes the same calls through java.nio.file.
      // Both the FileSystem and the FileContext API are swapped, and
      // executors read these confs too.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      // NOTE on shuffle-file hygiene: sequenced big-shuffle loops (the
      // ngram shard fallback) clean their own files deterministically
      // via per-execution shuffleDependency.fileCleanup — do NOT lower
      // spark.cleaner.periodicGC.interval session-wide as a substitute:
      // a 45 s cadence measured ~+14 s on a controlled sf0.1 bench
      // board (a ~20-full-GC tax on a 24 g heap) for hygiene nothing
      // needed.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Operability drill hook: force the cluster-safe materialization
    // path (scratch-parquet round trips) under a local master, so the
    // whole verify board can prove mode-independence — see
    // [[Materialize]] and SCALING.md's reliable-mode gate.
    sys.env.get("SPARK_GRAFT_MATERIALIZE_MODE")
      .foreach(m => s.conf.set(Materialize.ModeKey, m))
    s
  }
}
