package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.core.{GraftSession, Materialize, Tables}
import graft.operators.TextDedup

/** The benchmark's JVM side: runs one workload's ops in closed loop with a
  * single client and writes every measurement to a JSON file; `run.py`
  * turns that file into metrics and checks the outputs.
  *
  * A run is: session, first load of every table, one untimed warm-up pass
  * that also records each op's output fingerprint (and writes the output of
  * every op that has an oracle, for the DuckDB check), untimed settle
  * passes, then timed passes until `--seconds` have been measured.
  * Set-up time is everything before the first timed op. Each pass runs the
  * ops in an order drawn from the seed. An op is `SparkEntry.queries(name)` run through
  * `GraftSql.stripTrailingSort` into the `noop` sink, as `Bench` runs it.
  * Between passes the scratch that io/stream/pipeline ops keep (ledgers,
  * incremental state, sinks) is deleted, so every pass does the same work.
  *
  * With `--trace 1` passes alternate untraced and traced; traced passes
  * record spans (pass, op, build, execute, job, stage), task metrics,
  * planning-phase times and streaming batches.
  *
  * Usage: perfbench.Harness --data DIR --ops a,b,... --seed N --seconds S
  *          --trace 0|1 --out FILE --outputs DIR
  */
object Harness {

  /** Timed passes per run, at least; with tracing, passes alternate
    * untraced and traced, so this also gives one traced pass. */
  val MinPasses = 3

  /** Untimed passes after the warm-up pass: at least [[SettlePasses]], and
    * until they have run for [[SettleShare]] of `--seconds`. Passes keep
    * speeding up for a while after the cold one, as the JIT compiles what
    * the first passes queued; on the near-dup rows the first warm passes
    * run about 1.5x the later ones. */
  val SettlePasses = 2
  val SettleShare = 0.4

  final case class Args(data: String, ops: Seq[String], seed: Long,
                        seconds: Double, trace: Boolean, out: String,
                        outputs: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("data"), need("ops").split(',').toSeq.filter(_.nonEmpty),
      need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("out"), need("outputs"))
  }

  /** Order-insensitive fingerprint of a frame's rows: row count plus the
    * wrapping sum of a 64-bit hash of every column. Doubles are hashed at
    * float precision so that summation-order noise in the last bits of a
    * double does not change the fingerprint; maps are hashed as sorted
    * entry arrays. */
  def fingerprintAggs(schema: StructType): (Column, Column) = {
    val cols = schema.fields.sortBy(_.name).toSeq
      .map(f => canon(col(s"`${f.name}`"), f.dataType))
    (count(lit(1)).as("rows"), sum(if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("hash"))
  }

  def fingerprinted(df: DataFrame, name: String): DataFrame = {
    val (rows, hash) = fingerprintAggs(df.schema)
    df.observe(name, rows, hash)
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => (c + lit(0.0)).cast(FloatType)
    case FloatType => c + lit(0.0f)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** Captures observed metrics (the fingerprints) by observation name. */
  final class Observed extends QueryExecutionListener {
    val got = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qe.observedMetrics.foreach { case (k, r) =>
        val rows = r.getLong(0)
        got.put(k, (rows, if (r.isNullAt(1)) 0L else r.getLong(1)))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def dirStats(root: File, skip: String => Boolean): (Long, Long) = {
    var files = 0L; var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else { files += 1; bytes += f.length() }
    Option(root.listFiles()).toSeq.flatten.filterNot(f => skip(f.getName)).foreach(walk)
    (files, bytes)
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Spark's own dirs and the table repack cache survive between passes;
    * everything else under the run's tmpdir is op scratch. */
  private def sparkOwned(name: String): Boolean =
    name.startsWith("blockmgr-") || name.startsWith("spark-") || name == "graft_repack"

  private def procStatusKb(key: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** CPU time of the JIT compiler threads, from /proc (0 where it is not
    * readable). A pass's CPU excludes it: compilation is warm-up work that
    * the first passes of a JVM pay and later ones do not. */
  private def jitCpuNs(): Long =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = Files.readString(Paths.get(t.getPath, "comm")).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = Files.readString(Paths.get(t.getPath, "stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L // utime + stime, 100 Hz ticks
        }
      } catch { case _: Throwable => 0L }
    }.sum

  /** Bench's fixed trivial job: min of five after two warm-ups. */
  private def floorProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(1000000L).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 2).foreach(_ => once())
    (1 to 5).map(_ => once()).min
  }

  private def logged[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"perfbench: $what took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val spans = new Spans
    val catalog = SparkEntry.queries
    val unknown = a.ops.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    val oracle = SparkEntry.oracleSql
    val cores = Runtime.getRuntime.availableProcessors()

    val tSession = Clock.nowUs
    val spark = GraftSession.local(cores, "perfbench")
    val sessionS = (Clock.nowUs - tSession) / 1e6
    val sc = spark.sparkContext
    val jobs = new JobCounter
    sc.addSparkListener(jobs)
    val observed = new Observed
    spark.listenerManager.register(observed)
    val tracer = new Tracer(spans)
    def traceOn(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(tracer); spark.listenerManager.register(tracer)
        spark.streams.addListener(tracer.streaming)
      } else {
        sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
        spark.streams.removeListener(tracer.streaming)
      }

    val tTables = Clock.nowUs
    Tables.all.foreach(t => Tables(spark, a.data, t))
    val tablesColdS = (Clock.nowUs - tTables) / 1e6

    var obsSeq = 0L
    /** One op execution. Returns its record; never throws. */
    def runOp(op: String, passId: Long, traced: Boolean, verify: Boolean): Map[String, Any] = {
      obsSeq += 1
      val obsName = s"fp$obsSeq"
      val (opId, buildId, execId) = (spans.newId(), spans.newId(), spans.newId())
      val before = if (traced) tracer.snap else Map.empty[String, Long]
      val disk0 = if (traced) dirStats(tmp, sparkOwned) else (0L, 0L)
      sc.setLocalProperty(Props.Op, op)
      var err: String = null
      val t0 = Clock.nowUs
      var t1 = t0
      try {
        sc.setLocalProperty(Props.Phase, "build")
        sc.setLocalProperty(Props.Parent, buildId.toString)
        val df0 = catalog(op)(spark, a.data)
        t1 = Clock.nowUs
        // the op's frame is analyzed while it is built; the executing
        // query's own tracker sees only the write command's analysis
        if (traced) df0.queryExecution.tracker.phases.get("analysis")
          .foreach(ph => tracer.add("phase_analysis_ms", ph.durationMs))
        sc.setLocalProperty(Props.Phase, "execute")
        sc.setLocalProperty(Props.Parent, execId.toString)
        // the oracle compares rows in order, so the verified output keeps
        // the op's trailing sort
        if (verify && oracle.contains(op))
          fingerprinted(df0, obsName).coalesce(1).write.mode("overwrite")
            .parquet(new File(a.outputs, op).getPath)
        else
          fingerprinted(GraftSql.stripTrailingSort(df0), obsName)
            .write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val t2 = Clock.nowUs
      GraftSql.drainListenerBus(spark)
      val disk1 = if (traced) dirStats(tmp, sparkOwned) else (0L, 0L)
      val tRel = Clock.nowUs
      Materialize.releaseScratch(spark)
      val relUs = Clock.nowUs - tRel
      sc.setLocalProperty(Props.Op, null)
      sc.setLocalProperty(Props.Phase, null)
      sc.setLocalProperty(Props.Parent, null)
      val fp = Option(observed.got.remove(obsName))
      if (err == null && fp.isEmpty) err = "no fingerprint observed"
      if (traced) {
        spans.add(Span(opId, passId, "op", op, op, t0, t2 + relUs))
        spans.add(Span(buildId, opId, "build", "build", op, t0, t1))
        spans.add(Span(execId, opId, "execute", "execute", op, t1, t2))
      }
      val after = if (traced) { GraftSql.drainListenerBus(spark); tracer.snap } else before
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      Map("op" -> op, "wall_s" -> (t2 - t0 + relUs) / 1e6, "build_s" -> (t1 - t0) / 1e6,
        "rows" -> fp.map(_._1), "hash" -> fp.map(_._2.toString), "error" -> Option(err),
        "jobs" -> (jobs.count(op, "build") + jobs.count(op, "execute")),
        "build_jobs" -> jobs.count(op, "build"),
        "files_written" -> (disk1._1 - disk0._1), "bytes_written" -> (disk1._2 - disk0._2),
        "scratch_bytes" -> disk1._2, "counters" -> delta)
    }

    def resetScratch(): Unit =
      Option(tmp.listFiles()).toSeq.flatten.filterNot(f => sparkOwned(f.getName))
        .foreach(deleteRecursively)

    // warm-up pass: untimed, records reference fingerprints
    new File(a.outputs).mkdirs()
    val warm = logged("warm-up pass") {
      a.ops.sorted.map { op => jobs.reset(); runOp(op, 0L, traced = false, verify = true) }
    }
    resetScratch()

    val passes = new ArrayBuffer[Map[String, Any]]()
    var firstOpUs = 0.0
    var measuredS = 0.0
    var settleS = 0.0
    var pass = 0
    var firstTimed = -1
    val rootId = spans.newId()
    // at least three timed passes, so the reported median is a middle one
    while (firstTimed < 0 || measuredS < a.seconds || pass < firstTimed + MinPasses) {
      if (firstTimed < 0 && pass >= SettlePasses && settleS >= SettleShare * a.seconds) {
        firstTimed = pass
        firstOpUs = Clock.nowUs
      }
      val timed = firstTimed >= 0
      val traced = a.trace && timed && (pass - firstTimed) % 2 == 1
      if (traced) traceOn(true)
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(a.ops)
      val passId = spans.newId()
      val cpu0 = processCpuNs() - jitCpuNs()
      val tp0 = Clock.nowUs
      val recs = order.map { op => jobs.reset(); runOp(op, passId, traced, verify = false) }
      val tp1 = Clock.nowUs
      val cpuS = (processCpuNs() - jitCpuNs() - cpu0) / 1e9
      val wall = recs.map(_("wall_s").asInstanceOf[Double]).sum
      if (traced) {
        spans.add(Span(passId, rootId, "pass", s"pass $pass", "", tp0, tp1))
        traceOn(false)
      }
      passes += Map("pass" -> pass, "span_id" -> passId, "timed" -> timed,
        "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpuS, "ops" -> recs)
      if (timed) measuredS += wall else settleS += wall
      pass += 1
      resetScratch()
    }
    val endUs = Clock.nowUs

    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
    if (a.trace) {
      spans.add(Span(rootId, 0L, "workload", "workload", "", firstOpUs, endUs))
      logged("tables_hit") {
        val n = 20
        val t0 = System.nanoTime()
        (1 to n).foreach(_ => Tables.all.foreach(t => Tables(spark, a.data, t)))
        extra("tables_hit_ms") = (System.nanoTime() - t0) / 1e6 / (n * Tables.all.size)
      }
      logged("ngram_yield") {
        val docs = Tables.documents(spark, a.data)
        extra("ngram_pairs") = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
          col("n_chars"), n = 4, threshold = 0.6, blockWidth = 20).count()
        extra("ngram_candidates") = TextDedup.ngramBlockedCandidates(docs, "doc_id", "text",
          col("n_chars"), n = 4, blockWidth = 20).count()
        Materialize.releaseScratch(spark)
      }
    }
    logged("floor_probe") { extra("floor_probe_s") = floorProbe(spark) }
    val peakRssMb = procStatusKb("VmHWM") / 1024.0
    val result = Map(
      "first_op_epoch_s" -> firstOpUs / 1e6,
      "session_s" -> sessionS, "tables_cold_s" -> tablesColdS,
      "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
      "peak_rss_mb" -> peakRssMb,
      "oracle" -> a.ops.filter(oracle.contains).map(op => op -> oracle(op)).toMap,
      "warmup" -> warm, "passes" -> passes.toSeq, "extra" -> extra.toMap)
    Files.writeString(Paths.get(a.out), Json(result))
    if (a.trace) {
      val lines = spans.all.sortBy(_.startUs).map(s => Json(Map("id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name, "op" -> s.op,
        "start_us" -> s.startUs, "end_us" -> s.endUs)))
      Files.writeString(Paths.get(a.out + ".spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    logged("stop")(spark.stop())
  }
}
