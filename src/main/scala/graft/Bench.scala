package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.GraftSql

import graft.core.QueryMetrics

/** Benchmark main — one JSON line with per-query wall seconds at the
  * SPARK_GRAFT_SF_DIR scale factor. Failed queries are reported in an
  * `errors` map (name → exception class) instead of being silently timed.
  *
  * Each query runs at least twice: the first (cold) run carries one-time
  * driver-side codegen + JIT cost (~5-9 s per query, independent of data
  * size — it would be amortized noise on any real cluster run), then
  * timed runs measure steady-state throughput. A single warm run is not
  * enough: with ~100 queries churning through one JVM, C2 deopt/reopt can
  * land a multi-second outlier on a steady sub-second query (round 5:
  * io_text_regex reported 10.99 s warm vs 0.98 s steady, NOTES_r6.md
  * "Bench: the r5 regression is closed"), so a query whose first timed
  * run still looks cold-like is re-run (bounded) and the MINIMUM timed
  * run is reported — min is the right estimator for steady-state plan
  * cost under one-sided JIT noise ([[timeRow]] is the rule).
  * Every number comes from the run itself: Bench reads no earlier
  * record, and its only input knob is SPARK_GRAFT_SF_DIR.
  * The stdout line reports warm times for the slowest queries (bounded so
  * the whole line fits the driver's 2000-char stdout tail window); the
  * complete warm+cold per-query detail lands in bench_detail.json, with
  * each row's [[QueryMetrics]] (jobs, stages, tasks, CPU, GC, input,
  * shuffle, spill, broadcast builds, generated classes compiled as
  * `cg_compiles`) from its best run and its row count from its cold run
  * ([[measureRow]] measures one run). A best run whose `cg_compiles` is
  * above 0 compiled code its earlier runs had not left in the codegen
  * cache: its plan or generated code varied between runs, or the cache
  * evicted the class. The count is JVM-global and misses executor-JVM
  * compiles under `local-cluster` (see [[QueryMetrics]]).
  *
  * Usage: Bench [name ...] — no names runs the whole catalog.
  *
  * The session disables parquet vectored IO: Hadoop's vectored range
  * reads on local files bypass the per-thread `FileSystem.Statistics`
  * that feed `taskMetrics.inputMetrics`, so with it on every parquet scan
  * reports ~0 input bytes (measured: a1 5.7 MB read vs 0.0 reported).
  */
object Bench {

  /** First three fields of /proc/loadavg (1/5/15-min host run-queue
    * averages) — empty string off Linux. */
  private def loadAvg(): String =
    try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim.split("\\s+")
      .take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** Fixed-work host-speed probe: wall seconds for a constant
    * single-threaded integer workload (xorshift64* chain — pure
    * register ALU work, no allocation, no memory traffic to speak of).
    * Run before and after the board, it makes any cross-session drift
    * in the recorded totals adjudicable from the bench artifact alone:
    * identical binaries on an identically-fast host produce identical
    * calib values, so a run whose total rose while its calib also rose
    * was a slow/contended HOST, not a slower engine. The workload is
    * JIT-warmed by an untimed 1/32 prefix; the result is folded into a
    * sink check so the loop cannot be dead-code-eliminated. */
  private def calibrate(): Double = {
    def chain(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var acc = 0L; var i = 0L
      while (i < n) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        acc += x * 0x2545F4914F6CDD1DL; i += 1
      }
      acc
    }
    val N = 1000000000L
    val sink0 = chain(N / 32) // JIT warm, untimed
    val t0 = System.nanoTime()
    val sink = chain(N)
    val sec = (System.nanoTime() - t0) / 1e9
    require(sink != 0 || sink0 != 0, "calibration sink") // defeat DCE
    sec
  }

  /** Effective gating load (r16): max(1-min, 0.7·5-min), or 0 where
    * /proc/loadavg is unreadable. The r15 gate read ONLY the 1-min
    * average, and its official record started at 1-min 3.89 while the
    * 5/15-min averages read 7.06/9.37 — a recently-busy host whose
    * caches/cgroups/IO queues were still draining, and the board ran
    * ~10% over a quiet-host same-HEAD run. Folding the 5-min average
    * in (scaled, since it decays slower than the contention it
    * measures) makes "just went quiet" wait out the drain instead of
    * sneaking under a momentary 1-min dip. */
  private def gateLoad(): Double = {
    val parts = loadAvg().split(",").toSeq
      .filter(_.nonEmpty).flatMap(_.toDoubleOption)
    val l1 = parts.headOption.getOrElse(0.0)
    val l5 = if (parts.size > 1) parts(1) else 0.0
    math.max(l1, 0.7 * l5)
  }

  /** Gate constants, sized on the 32-core r13-r18 host. LOAD GATE
    * (r15): the r14 official record ran at loadavg 27.99 on that host and
    * read +33% vs two same-HEAD controlled boards — external load, not
    * the engine — so before any timing starts Bench waits (bounded) for
    * [[gateLoad]] to fall under 4.0 (~12% of 32 cores). FLOOR GATE
    * (r18): neither the load gate nor the calib probe sees per-job
    * ceremony degradation (the r17 board-host saga: floor 0.147-0.196 vs
    * the record's 0.102 on hosts with normal calib and loadavg under the
    * gate), so Bench also waits for the floor probe itself to fall under
    * 0.135 s — clean windows on that host class measured 0.095-0.120,
    * degraded ones 0.147-0.196. Both waits and verdicts land in the env
    * block, so a board that STILL started loaded or degraded carries the
    * evidence on its face. */
  private val MaxLoad = 4.0
  private val MaxLoadWaitSec = 900
  private val MaxFloorSec = 0.135
  private val MaxFloorWaitSec = 600

  /** A warm run above this many seconds looks JIT-contaminated and is
    * retried (see [[timeRow]]). Right for the sf0.1 board, where steady
    * rows are sub-second; an sf1 row over it pays at most one extra run
    * when that run does not improve. */
  private val SlowSec = 2.0

  /** One bounded gate: sample; while the sample is over `limit` and the
    * wait is under `maxWaitSec`, log, sleep `stepSec` and resample. ONE
    * sample per iteration feeds the loop condition, the log line and the
    * verdict (r17, ADVICE: separate samples could disagree).
    * @return (waited seconds, still over `limit`, last sample) */
  private def boundedWait(what: String, limit: Double, maxWaitSec: Int,
                          stepSec: Int)(sample: () => Double): (Int, Boolean, Double) = {
    var waited = 0
    var v = sample()
    while (v > limit && waited < maxWaitSec) {
      System.err.println(
        f"bench $what gate: $v%.3f > $limit%.3f — waiting ($waited/$maxWaitSec s)")
      Thread.sleep(stepSec * 1000L)
      waited += stepSec
      v = sample()
    }
    (waited, v > limit, v)
  }

  /** The per-row timing rule. The cold run carries one-time codegen/JIT
    * cost; stateful io_/st_ rows rebuild their scratch state each call,
    * so a second run is the same work minus the JIT. Retry while the
    * best warm run still looks contaminated: either JIT-slow in absolute
    * terms (> [[SlowSec]]) or slower than its own cold run by >20% (the
    * cold run proves the plan can go faster — a warm exceeding it is
    * collector/compiler noise, not plan cost). At most twice more, and a
    * non-improving retry (not under 0.75× the best) stops retrying; a
    * failed run (`failed()` true) stops the row at once. A row with state
    * priming pays it only in the cold run, so cold is an upper bound on
    * the steady plan and the min over ALL runs is the least-contaminated
    * steady-state estimate (round 8: t_doc_terms reported 11.0 s warm
    * while its own cold run proved 2.6 s).
    * @return (cold seconds, min over cold and every warm run) */
  private[graft] def timeRow(run: () => Double,
                             failed: () => Boolean): (Double, Double) = {
    val cold = run()
    var warm = if (failed()) cold else run()
    var retries = 0
    while (!failed() && retries < 2 && (warm > SlowSec || warm > cold * 1.2)) {
      val t = run()
      val improved = t < warm * 0.75
      warm = math.min(warm, t)
      retries = if (improved) retries + 1 else 2
    }
    (cold, math.min(cold, warm))
  }

  /** One run of catalog row `name`: build its frame, strip the trailing
    * sort, write it to the noop sink under [[QueryMetrics.measure]] (the
    * wall covers frame building and the write, not the listener-bus
    * drains), then release reliable-mode scratch. With `countRows` the
    * run carries an [[Observation]] that counts the rows, which costs no
    * job; the noop sink itself reports no written records.
    * @return (wall seconds, what the run cost, rows if counted) */
  private[graft] def measureRow(spark: SparkSession, sfDir: String, name: String,
                                countRows: Boolean = false)
      : (Double, QueryMetrics, Option[Long]) = {
    val observer = if (countRows) Some(new Observation("rows")) else None
    try {
      val (_, m) = QueryMetrics.measure(spark) {
        val df = GraftSql.stripTrailingSort(SparkEntry.queries(name)(spark, sfDir))
        observer.fold(df)(o => df.observe(o, count(lit(1)).as("rows")))
          .write.format("noop").mode("overwrite").save()
      }
      (m.wallNs / 1e9, m, observer.map(_.get("rows").asInstanceOf[Long]))
    } finally graft.core.Materialize.releaseScratch(spark)
  }

  // explicit ROOT locale: the f interpolator honors the JVM default
  // locale, and a comma-decimal locale would emit invalid JSON
  private def num(pat: String, v: Double): String =
    String.format(java.util.Locale.ROOT, pat, Double.box(v))

  /** One row's `metrics` object in bench_detail.json: its cold run's
    * rows and its best run's [[QueryMetrics]]. `bc_mb` is allocated
    * hash-relation pages, which scale with heap and cores; `bc_rows`
    * does not (see [[QueryMetrics]]). */
  private def metricsJson(rows: Long, m: QueryMetrics): String = {
    val mb = 1024.0 * 1024.0
    def n(v: Double): String = num("%.3f", v)
    Seq("rows" -> rows.toString,
      "jobs" -> m.jobs.toString, "stages" -> m.stages.toString,
      "tasks" -> m.tasks.toString,
      "cpu_s" -> n(m.executorCpuNs / 1e9), "gc_s" -> n(m.gcMs / 1e3),
      "task_max_s" -> n(m.taskMs.lastOption.getOrElse(0L) / 1e3),
      "input_mb" -> n(m.inputBytes / mb), "in_rec" -> m.inputRecords.toString,
      "sh_w_mb" -> n(m.shuffleWriteBytes / mb),
      "sh_w_rec" -> m.shuffleWriteRecords.toString,
      "sh_r_mb" -> n(m.shuffleReadBytes / mb),
      "sh_r_rec" -> m.shuffleReadRecords.toString,
      "mem_spill_mb" -> n(m.memorySpillBytes / mb),
      "disk_spill_mb" -> n(m.diskSpillBytes / mb),
      "bc_builds" -> m.broadcastBuilds.toString,
      "bc_rows" -> m.broadcastRows.sum.toString,
      "bc_mb" -> n(m.broadcastBytes.sum / mb),
      "cg_compiles" -> m.codegenCompiles.toString)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such catalog row: ${unknown.mkString(", ")}")
    val (loadWaitSec, loadGateExceeded, _) =
      boundedWait("load", MaxLoad, MaxLoadWaitSec, 10)(() => gateLoad())
    val loadPre = loadAvg()
    val calibPre = calibrate()
    // see the scaladoc: vectored IO hides parquet bytes from inputMetrics
    System.setProperty("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
    val spark = graft.core.GraftSession.local(appName = "graft-bench")
    // In-session per-run floor probe: the same fixed trivial job (plan +
    // schedule + one-stage aggregate + noop sink) every query pays as
    // overhead, min-of-5 after warmup. A 215-row board's total carries
    // ~rows × floor of pure harness cost (sf0.01 measurement: median row
    // 0.22 s, min 0.06 s — the board is mostly floor at tiny sf), so the
    // floor's own number in the artifact lets a reader decompose
    // total ≈ Σ real + floor·runs and attribute drift to the floor
    // (session/JVM state) vs the operators.
    def floorProbe(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(1000000L).selectExpr("sum(id) AS s")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 2).foreach(_ => once())
      (1 to 5).map(_ => once()).min
    }
    // Sleeping warms nothing: in a cold JVM the first probes read the JIT
    // warming up, not the host. Repeat the probe without sleeping while
    // it still improves (at most 5 probes), then gate as before.
    @annotation.tailrec def warmFloor(prev: Double, probes: Int): Unit =
      if (probes < 5) {
        val v = floorProbe()
        if (v < prev) warmFloor(v, probes + 1)
      }
    warmFloor(floorProbe(), 1)
    val (floorWaitSec, floorGateExceeded, floorSec) =
      boundedWait("floor", MaxFloorSec, MaxFloorWaitSec, 20)(() => floorProbe())
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query sequence of (wallSec, gcSec-during-run) — diagnosis trail
    // for warm>cold anomalies (is a slow run compute or collector time?)
    val runLog = scala.collection.mutable.LinkedHashMap[String, Vector[(Double, Double)]]()
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // per row: the fastest run's (wall, metrics), and the cold run's rows
    val fastestRun = scala.collection.mutable.Map[String, (Double, QueryMetrics)]()
    val rowCounts = scala.collection.mutable.Map[String, Long]()
    def runOnce(name: String): Double = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val sec =
        try {
          val (s, m, rows) = measureRow(spark, sfDir, name, countRows = !runLog.contains(name))
          rows.foreach(rowCounts(name) = _)
          if (fastestRun.get(name).forall(_._1 > s)) fastestRun(name) = (s, m)
          s
        } catch { case e: Throwable =>
          errors(name) = e.getClass.getSimpleName
          (System.nanoTime() - t0) / 1e9
        }
      runLog(name) = runLog.getOrElse(name, Vector.empty) :+
        (sec, (gcMillis() - g0) / 1e3)
      sec
    }
    val results = names.map { name =>
      val (cold, best) = timeRow(() => runOnce(name), () => errors.contains(name))
      (name, cold, best)
    }
    val ok = results.filterNot { case (k, _, _) => errors.contains(k) }
    val es = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = ok.map(_._3).sum
    // The driver keeps only the LAST ~2000 chars of stdout, so the
    // contract line must fit inside that window AND be the final line
    // (see build.sbt showSuccess notes): report the slowest queries up
    // to a character budget on the line, and write the complete
    // per-query detail (warm + cold + errors) to bench_detail.json.
    def fmt(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + num("%.2f", v) }
        .mkString("{", ",", "}")
    val bySlowest = ok.map { case (k, _, w) => (k, w) }.sortBy(-_._2)
    var used = 0
    val keep = bySlowest.takeWhile { case (k, v) =>
      val c = k.length + 8 + num("%.2f", v).length
      if (used + c <= 1450) { used += c; true } else false
    }
    val runsJson = runLog.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map { case (t, g) =>
        "[" + num("%.3f", t) + "," + num("%.3f", g) + "]" }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val metricsJsonAll = ok.map { case (k, _, _) =>
      "\"" + k + "\":" + metricsJson(rowCounts(k), fastestRun(k)._2)
    }.mkString("{", ",", "}")
    // the same probe after the board: a warm session's per-job floor
    val floorPost = floorProbe()
    spark.stop()
    // Post-board fingerprint AFTER spark.stop() so the probe measures the
    // bare host, not leftover executor threads.
    val loadPost = loadAvg()
    val calibPost = calibrate()
    val env = s""""env":{"cores":${Runtime.getRuntime.availableProcessors()},""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory() >> 20},""" +
      s""""load_pre":"$loadPre","load_post":"$loadPost",""" +
      s""""load_wait_sec":$loadWaitSec,""" +
      s""""load_gate_exceeded":$loadGateExceeded,""" +
      s""""floor_wait_sec":$floorWaitSec,""" +
      s""""floor_gate_exceeded":$floorGateExceeded,""" +
      s""""calib_pre_sec":${num("%.2f", calibPre)},""" +
      s""""calib_post_sec":${num("%.2f", calibPost)},""" +
      s""""floor_probe_sec":${num("%.3f", floorSec)},""" +
      s""""floor_post_sec":${num("%.3f", floorPost)}}"""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},
         |"queries":${fmt(bySlowest)},
         |"cold_queries":${fmt(results.map { case (k, c, _) => (k, c) })},
         |"runs":$runsJson,
         |"metrics":$metricsJsonAll,
         |"errors":$es,
         |$env,
         |"sf":"$sfDir"}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"), detail)
    println(s"""{"metric":"total","value":${num("%.2f", total)},"unit":"sec","n_queries":${ok.size},"queries":${fmt(keep)},"errors":$es,$env,"detail":"bench_detail.json","sf":"$sfDir"}""")
  }
}
