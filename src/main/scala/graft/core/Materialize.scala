package graft.core

import org.apache.spark.sql.DataFrame

/** The engine's ONE materialization primitive — every multi-consumer or
  * iterative plan (t_doc_terms' tf frame, passageScrub's block frame,
  * connected-components and FixedPoint generations, heavyHitters'
  * summary, k-means cell assignment) pins an intermediate through this
  * helper instead of calling `localCheckpoint` directly.
  *
  * Why it exists: `localCheckpoint` stores RDD blocks UNREPLICATED on
  * executors and truncates lineage. On a real cluster — dynamic
  * allocation, spot instances, preemption — losing one executor after
  * the checkpoint kills the whole query with no recompute path. That
  * failure mode is invisible at local[32] (one JVM, nothing to lose),
  * which is exactly why it must not be hard-wired at the call sites:
  * the same plan has to run with a cluster-safe materialization when
  * deployed. MaterializeSpec shows both outcomes in one JVM by dropping a
  * materialization's blocks: `local` fails, `reliable` recounts.
  *
  * Mode selection (conf `graft.materialize.mode`):
  *   - `local`    — lazy/eager `localCheckpoint`: zero-copy in-memory
  *                  blocks, the fastest path when executor loss cannot
  *                  happen. Default when the master is local.
  *   - `reliable` — scratch-parquet round trip: the frame is written
  *                  once to durable storage (HDFS / object store in
  *                  production) and read back. Survives any executor
  *                  loss, truncates lineage (so iterative callers keep
  *                  one-step plans — the property `persist` alone
  *                  cannot give, since persisted lineage still grows
  *                  per generation and a lost replica of
  *                  `DISK_ONLY_2` re-runs the whole ancestry), and the
  *                  storage is shared-read by every consumer. Default
  *                  on a non-local master.
  *
  * Scratch location (conf `graft.materialize.scratchDir`): defaults to
  * `<spark.sql.warehouse.dir>/_graft_scratch/<appId>`. Production
  * deployments should point it at a TTL'd scratch prefix. Lifecycle:
  * every written path is registered in a JVM-local ledger;
  * [[releaseScratch]] deletes the registered paths at any quiescent
  * point (a long-lived session calls it between queries — Verify and
  * Bench do — so scratch stays bounded by ONE query's materializations
  * instead of growing for the session's lifetime), and a shutdown hook
  * plus the TTL'd prefix backstop whatever a crash leaves behind.
  *
  * Semantics contract: values are identical across modes (proven in
  * OperatorsSpec's reliable-mode equivalence gate); the one visible
  * difference is that a parquet round trip marks every column nullable,
  * which no downstream consumer in this engine depends on.
  */
object Materialize {

  val ModeKey = "graft.materialize.mode"
  val ScratchKey = "graft.materialize.scratchDir"

  /** Pin `df`'s current result for multiple downstream consumers (or
    * the next iteration of a loop), truncating lineage.
    *
    * @param eager in `local` mode: materialize now vs on first action
    *              (the `localCheckpoint(eager)` flag). `reliable` mode
    *              is inherently eager — the write is the action. */
  def apply(df: DataFrame, eager: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val mode = spark.conf.getOption(ModeKey).getOrElse(
      if (spark.sparkContext.isLocal) "local" else "reliable")
    mode match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" => roundTrip(df)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }
  }

  /** Chained-call syntax: `df.groupBy(...).agg(...).materialized()` —
    * import `graft.core.Materialize.MaterializeOps`. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized(eager: Boolean = false): DataFrame =
      Materialize(df, eager)
  }

  /** Force the reliable scratch round trip REGARDLESS of mode — for
    * sequenced big-shuffle loops (the ngram shard loop) whose
    * per-iteration shuffle files must be deterministically releasable:
    * the parquet write is a SQL execution, so with
    * `spark.sql.classic.shuffleDependency.fileCleanup.enabled` the
    * iteration's shuffle files are removed at the write's end — while a
    * local-mode `localCheckpoint` is a bare RDD job whose shuffle files
    * wait on GC + ContextCleaner, unbounded relative to a scratch-sized
    * iteration budget (r15: the mutated ×100 ngram drill ENOSPC'd on
    * exactly that lag). */
  def reliable(df: DataFrame): DataFrame = roundTrip(df)

  private def scratchRoot(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption(ScratchKey).getOrElse {
      val wh = spark.conf.get("spark.sql.warehouse.dir",
        System.getProperty("java.io.tmpdir"))
      s"$wh/_graft_scratch/${spark.sparkContext.applicationId}"
    }

  private def roundTrip(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val root = scratchRoot(spark)
    val path = s"$root/mat_${java.util.UUID.randomUUID().toString.take(16)}"
    df.write.mode("overwrite").parquet(path)
    written.computeIfAbsent(spark.sparkContext.applicationId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]()).add(path)
    cleanupOnExit(spark, root)
    spark.read.parquet(path)
  }

  // JVM-local ledger of scratch paths written per APPLICATION — keyed by
  // applicationId, not by scratch root, so a `graft.materialize.scratchDir`
  // (or warehouse-dir) change mid-session cannot strand earlier entries
  // under a root releaseScratch no longer looks at. Paths are stored
  // fully qualified, so deletion never re-derives the root.
  private val written =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** Delete every reliable-mode materialization this application has
    * written — regardless of which scratch root was configured at write
    * time — emptying the ledger.
    *
    * Contract: call only at a QUIESCENT point — after every frame
    * materialized so far has been fully consumed (board runners call it
    * between queries). A DataFrame handle returned by a prior
    * `Materialize(...)` is invalid after release (its backing files are
    * gone). No-op in `local` mode or when nothing was written. */
  def releaseScratch(spark: org.apache.spark.sql.SparkSession): Unit = {
    val q = written.remove(spark.sparkContext.applicationId)
    if (q != null) {
      val conf = spark.sparkContext.hadoopConfiguration
      q.forEach { p =>
        try {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).delete(hp, true)
        } catch { case _: Throwable => () }
      }
    }
  }

  // one shutdown hook per scratch root per JVM — best-effort local
  // cleanup so test/bench runs don't accumulate; production object
  // stores rely on the TTL'd prefix instead
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def cleanupOnExit(
      spark: org.apache.spark.sql.SparkSession, root: String): Unit = {
    if (hooked.add(root)) {
      val conf = spark.sparkContext.hadoopConfiguration
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(conf).delete(p, true)
        } catch { case _: Throwable => () }
      }))
    }
  }
}
