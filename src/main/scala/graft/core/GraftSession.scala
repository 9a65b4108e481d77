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

  /** Cluster-profile conf set for the 100 TB target (applied on top of a
    * user-provided builder; local() uses the laptop-profile values).
    * Rationale per key:
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
  val clusterProfile: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "2000",
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "134217728",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "536870912",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
    "spark.sql.autoBroadcastJoinThreshold" -> "52428800",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.ansi.enabled" -> "false")

  /** Apply the cluster profile to a caller-supplied builder (the caller
    * sets master/deploy specifics; this pins the engine's semantics and
    * scale confs). */
  def cluster(builder: SparkSession.Builder): SparkSession = {
    val b = clusterProfile.foldLeft(builder) { case (bb, (k, v)) => bb.config(k, v) }
    val s = b.getOrCreate()
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
      .config("spark.sql.shuffle.partitions", cores.toString)
    val builder =
      if (!master.startsWith("local-cluster")) builder0
      else builder0
        .config("spark.executor.extraClassPath", executorClasses)
        .config("spark.executor.extraJavaOptions", executorJavaOptions)
    val s = builder
      // graft's native expressions (minhash/simhash) for SQL-string callers
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is TIMESTAMP(NANOS) parquet, unreadable otherwise
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference pipelines assume lenient Hive-style null-on-error casts
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
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
    // Config-sensitivity drill hook: arbitrary conf overrides
    // ("k=v;k2=v2") applied last, so the full board can be proven
    // hash-identical under e.g. AQE off or the reference's 2560
    // shuffle partitions (no query may silently depend on a conf).
    // Scope: runtime-modifiable SQL confs only (this runs AFTER session
    // creation — static confs like executor memory cannot change here),
    // and ';' is the entry separator so values may not contain it.
    sys.env.get("SPARK_GRAFT_CONF").foreach { spec =>
      spec.split(';').map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2) match {
          case a if a.length == 2 => a
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
        }
        require(k.trim.nonEmpty,
          s"SPARK_GRAFT_CONF entry '$kv' has an empty key")
        try s.conf.set(k.trim, v.trim)
        catch {
          case e: Throwable => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF could not set '${k.trim}' " +
              s"(static/non-runtime confs cannot be set post-session): " +
              e.getMessage, e)
        }
      }
    }
    s
  }
}
