package graft

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
  * cost under one-sided JIT noise.
  * The stdout line reports warm times for the slowest queries (bounded so
  * the whole line fits the driver's 2000-char stdout tail window); the
  * complete warm+cold per-query detail lands in bench_detail.json.
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

  /** LOAD GATE (r15; 5-min hole closed r16 — see [[gateLoad]]): a
    * contaminated board must be impossible to produce silently. The r14
    * official record ran at loadavg 27.99 on a 32-core host and read
    * +33% vs two same-HEAD controlled boards — external load, not the
    * engine. Before any timing starts, wait (bounded) for the effective
    * loadavg to fall under the gate; the wait and the gate verdict are
    * recorded in the env block so a board that STILL started loaded
    * carries the evidence on its face. Thresholds overridable:
    * SPARK_GRAFT_BENCH_MAX_LOAD (default 4.0 — ~12% of a 32-core host)
    * and SPARK_GRAFT_BENCH_MAX_WAIT_SEC (default 900).
    * @return (waited seconds, still-over-gate after the bounded wait) */
  private def loadGate(): (Int, Boolean) = {
    val gate = sys.env.get("SPARK_GRAFT_BENCH_MAX_LOAD")
      .flatMap(_.toDoubleOption).getOrElse(4.0)
    val maxWait = sys.env.get("SPARK_GRAFT_BENCH_MAX_WAIT_SEC")
      .flatMap(_.toIntOption).getOrElse(900)
    var waited = 0
    // ONE gateLoad() sample per iteration, reused by the loop condition,
    // the log line, and the returned verdict (r17, ADVICE): separate
    // samples could disagree — e.g. report a clean verdict after a
    // timeout iteration whose gating sample was still over, or over-gate
    // after a clean exit.
    var load = gateLoad()
    while (load > gate && waited < maxWait) {
      System.err.println(
        f"bench load gate: effective loadavg $load%.2f " +
          s"(max of 1-min, 0.7*5-min; raw ${loadAvg()}) > $gate — " +
          s"waiting ($waited/$maxWait s)")
      Thread.sleep(10000)
      waited += 10
      load = gateLoad()
    }
    (waited, load > gate)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (loadWaitSec, loadGateExceeded) = loadGate()
    val loadPre = loadAvg()
    val calibPre = calibrate()
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
    // FLOOR GATE (r18, verdict item 2): the load gate reads host run-queue
    // averages and the calib probe reads single-thread CPU speed — NEITHER
    // sees the per-job ceremony degradation the r17 board-host saga
    // documented (floor 0.147-0.196 vs the record's 0.102 on hosts whose
    // calib was NORMAL-to-fast and loadavg under the gate; every one of
    // the four degraded final-HEAD boards self-rejected on its floor
    // probe while both existing gates passed). Gate on the floor probe
    // itself: re-probe (bounded wait) until it falls under the threshold,
    // and record the wait plus the verdict in the env block so a board
    // that STILL started degraded carries the evidence on its face —
    // same additions-only discipline as the load gate. The threshold is
    // absolute (not relative to floor_ref: the prior board's own floor
    // may be a degraded one — r17's was 0.155 — and a relative gate
    // would ratchet silently): clean windows on this host class measure
    // 0.095-0.120, degraded ones 0.147-0.196, so 0.135 splits them.
    // Overridable: SPARK_GRAFT_BENCH_MAX_FLOOR (default 0.135) and
    // SPARK_GRAFT_BENCH_MAX_FLOOR_WAIT_SEC (default 600).
    val floorGate = sys.env.get("SPARK_GRAFT_BENCH_MAX_FLOOR")
      .flatMap(_.toDoubleOption).getOrElse(0.135)
    val floorMaxWait = sys.env.get("SPARK_GRAFT_BENCH_MAX_FLOOR_WAIT_SEC")
      .flatMap(_.toIntOption).getOrElse(600)
    var floorSec = floorProbe()
    var floorWaitSec = 0
    while (floorSec > floorGate && floorWaitSec < floorMaxWait) {
      System.err.println(
        f"bench floor gate: floor probe $floorSec%.3f s > $floorGate%.3f — " +
          s"waiting ($floorWaitSec/$floorMaxWait s)")
      Thread.sleep(20000)
      floorWaitSec += 20
      floorSec = floorProbe()
    }
    val floorGateExceeded = floorSec > floorGate
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query sequence of (wallSec, gcSec-during-run) — diagnosis trail
    // for warm>cold anomalies (is a slow run compute or collector time?)
    val runLog = scala.collection.mutable.LinkedHashMap[String, Vector[(Double, Double)]]()
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      try {
        org.apache.spark.sql.graft.GraftSql.stripTrailingSort(fn(spark, sfDir))
          .write.format("noop").mode("overwrite").save()
      }
      catch { case e: Throwable => errors(name) = e.getClass.getSimpleName }
      val sec = (System.nanoTime() - t0) / 1e9
      // reliable-mode drills: each run rebuilds its materializations,
      // so releasing after the sink write keeps scratch bounded
      graft.core.Materialize.releaseScratch(spark)
      runLog(name) = runLog.getOrElse(name, Vector.empty) :+
        (sec, (gcMillis() - g0) / 1e3)
      sec
    }
    val prelim = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cold = runOnce(name, fn)
      // stateful io_/st_ queries rebuild their scratch state each call, so
      // a second run is the same work minus the one-time JIT
      var warm = if (errors.contains(name)) cold else runOnce(name, fn)
      // retry while the best timed run still looks contaminated: either
      // JIT-slow in absolute terms (> slowSec) or slower than its own
      // cold run by >20% (the cold run proves the plan can go faster — a
      // warm exceeding it is collector/compiler noise, not plan cost).
      // At most twice more; genuinely-slow queries stop after one
      // non-improving retry. slowSec defaults to 2 s — right for the
      // driver's sf0.1 board where steady rows are sub-second; a larger
      // scale factor (the sf1 board) sets SPARK_GRAFT_BENCH_SLOW_SEC
      // higher so "slow because 10x the data" doesn't masquerade as
      // "slow because JIT" and triple the run.
      val slowSec = sys.env.get("SPARK_GRAFT_BENCH_SLOW_SEC")
        .map(_.toDouble).getOrElse(2.0)
      var retries = 0
      while (!errors.contains(name) && retries < 2 &&
             (warm > slowSec || warm > cold * 1.2)) {
        val t = runOnce(name, fn)
        val improved = t < warm * 0.75
        warm = math.min(warm, t)
        retries = if (improved) retries + 1 else 2
      }
      // a query with state priming (io_/st_ ensureOnce/drainOnce) pays
      // priming only in the cold run, so cold is an upper bound on the
      // steady plan and the min over ALL runs is the least-contaminated
      // steady-state estimate (round 8: t_doc_terms reported 11.0 s warm
      // while its own cold run proved 2.6 s — min-of-warm-only let the
      // contaminated retries stand)
      (name, cold, math.min(cold, warm))
    }
    // Isolation pass against the prior round: a row whose best run is
    // >2x its committed prior-round best is re-measured after the whole
    // catalog has churned through (full JIT, GC quiesced) before the
    // number is accepted — real regressions reproduce, host noise does
    // not. Prior bests come from the newest BENCH_r*.json in cwd (its
    // stdout-parsed map holds exactly the slow rows worth re-checking).
    val (prior: Map[String, Double], calibRef: Option[Double],
         floorRef: Option[Double]) = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def asDouble(v: JValue): Option[Double] = v match {
        case JDouble(d) => Some(d)
        case JInt(i) => Some(i.toDouble)
        case _ => None
      }
      // numeric round sort: lexicographic getName order breaks the first
      // time zero-padding is outgrown (r100 < r99) or absent (r9 > r10)
      val files = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => f.getName.filter(_.isDigit).toInt)
      files.lastOption.flatMap { f =>
        try {
          val root = JsonMethods.parse(java.nio.file.Files.readString(f.toPath))
          val qs = (root \ "parsed" \ "queries") match {
            case JObject(fields) => fields.flatMap { case (k, v) =>
              asDouble(v).map(k -> _) }
            case _ => Nil
          }
          // the committed record's own host-speed probe — the reference
          // point the calib-normalized total is expressed against
          val calib = asDouble(root \ "parsed" \ "env" \ "calib_pre_sec")
          // ... and its floor probe — the reference for the
          // floor-normalized total (see totalFloorNorm below)
          val floor = asDouble(root \ "parsed" \ "env" \ "floor_probe_sec")
          Some((qs.toMap, calib, floor))
        } catch { case _: Throwable => None }
      }.getOrElse((Map.empty[String, Double], None, None))
    }
    val rerunErrors = scala.collection.mutable.Map[String, String]()
    val results = prelim.map { case (name, cold, best) =>
      val suspect = !errors.contains(name) &&
        prior.get(name).exists(p => best > p * 2.0 && best - p > 0.5)
      if (!suspect) (name, cold, best)
      else {
        System.gc(); Thread.sleep(200)
        val rerun = (1 to 2).map(_ => runOnce(name, fn = SparkEntry.queries(name))).min
        // the rerun exists only to LOWER an already-valid measurement; a
        // transient rerun failure (heap churn after 200 queries, flaky
        // scratch FS) must neither invalidate the main pass's accepted
        // number nor let a fail-fast wall time masquerade as a timing —
        // but an intermittently-failing query must stay VISIBLE, so the
        // discarded failure is recorded in bench_detail's rerun_errors
        val rerunOk = !errors.contains(name)
        if (!rerunOk) {
          rerunErrors(name) = errors(name)
          errors.remove(name)
        }
        (name, cold, if (rerunOk) math.min(best, rerun) else best)
      }
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
    // explicit ROOT locale: the f interpolator honors the JVM default
    // locale, and a comma-decimal locale would emit invalid JSON
    def num(pat: String, v: Double): String =
      String.format(java.util.Locale.ROOT, pat, Double.box(v))
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
    spark.stop()
    // Post-board fingerprint AFTER spark.stop() so the probe measures the
    // bare host, not leftover executor threads.
    val loadPost = loadAvg()
    val calibPost = calibrate()
    // Calib-normalized total (r16 verdict item 3): total · (calib_ref /
    // calib_pre), where calib_ref is the committed prior record's own
    // pre-board probe — the board's total expressed at the PRIOR
    // record's host speed, so cross-host adjudication ("my 80.79 vs the
    // 74.18 record is calib-explained") is one subtraction the artifact
    // does itself. Normalization by the fixed-work probe ratio assumes
    // CPU-speed-proportional rows, which the sf0.1 board is (floor +
    // kernel dominated); the raw total stays the primary number.
    val totalNorm = calibRef.map(c => total * c / calibPre)
    val normJson = totalNorm.map(num("%.2f", _)).getOrElse("null")
    // Floor-normalized total (r17): the calib probe is pure
    // single-threaded register ALU work and CANNOT see host-side IO or
    // scheduler degradation — measured twice this round: boards on
    // "quiet" hosts with normal calib but floor 0.147-0.196 (vs the
    // record's 0.102) read +10 to +34 s with every untouched row
    // uniformly inflated. The floor probe (a full plan + schedule +
    // one-stage aggregate + noop-sink job) DOES see it, and each
    // reported row pays the floor once, so the board expressed at the
    // prior record's floor is total − n·(floor − floor_ref).
    // First-order only: multi-stage rows pay MORE degradation than one
    // floor each, so this under-corrects on a degraded host — the raw
    // total stays primary and calib/floor normalizations stay separate
    // fields (orthogonal causes: CPU speed vs per-job ceremony).
    val totalFloorNorm = floorRef.map(fr => total - ok.size * (floorSec - fr))
    val floorNormJson = totalFloorNorm.map(num("%.2f", _)).getOrElse("null")
    val env = s""""env":{"cores":${Runtime.getRuntime.availableProcessors()},""" +
      s""""load_pre":"$loadPre","load_post":"$loadPost",""" +
      s""""load_wait_sec":$loadWaitSec,""" +
      s""""load_gate_exceeded":$loadGateExceeded,""" +
      s""""floor_wait_sec":$floorWaitSec,""" +
      s""""floor_gate_exceeded":$floorGateExceeded,""" +
      s""""calib_pre_sec":${num("%.2f", calibPre)},""" +
      s""""calib_post_sec":${num("%.2f", calibPost)},""" +
      s""""calib_ref_sec":${calibRef.map(num("%.2f", _)).getOrElse("null")},""" +
      s""""floor_probe_sec":${num("%.3f", floorSec)},""" +
      s""""floor_ref_sec":${floorRef.map(num("%.3f", _)).getOrElse("null")}}"""
    val detail =
      s"""{"metric":"total","value":$total,"value_calib_norm":$normJson,"value_floor_norm":$floorNormJson,"unit":"sec","n_queries":${ok.size},
         |"queries":${fmt(bySlowest)},
         |"cold_queries":${fmt(results.map { case (k, c, _) => (k, c) })},
         |"runs":$runsJson,
         |"errors":$es,
         |"rerun_errors":${rerunErrors.map { case (k, v) =>
             "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")},
         |$env,
         |"sf":"$sfDir"}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"), detail)
    println(s"""{"metric":"total","value":${num("%.2f", total)},"value_calib_norm":$normJson,"value_floor_norm":$floorNormJson,"unit":"sec","n_queries":${ok.size},"queries":${fmt(keep)},"errors":$es,$env,"detail":"bench_detail.json","sf":"$sfDir"}""")
  }
}
