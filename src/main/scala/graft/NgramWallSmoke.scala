package graft

import org.apache.spark.sql.functions._

/** Stage decomposition of the blocked exact-ngram-Jaccard wall on a twin
  * board (r16 verdict item 1: the mutated ×100 `d_ngram_jaccard` row, at
  * 394 s, is the ladder's dominant row by 5× — is the wall the
  * block-candidate join, the verify kernel, or something upstream?).
  *
  * Times each internal boundary of [[graft.operators.TextDedup
  * .ngramJaccardPairs]] with everything upstream IDENTICAL to the
  * shipped plan (the frames come from the shared
  * `ngramBlockedInternals` — one definition, no drill-side
  * reimplementation):
  *
  *   - `est`      — the catalog's plan-sizing aggregate (also prints the
  *                  derived salt / shard / broadcast decisions)
  *   - `collapse` — exact-dup census + rep selection (count of reps)
  *   - `shingle`  — + charShingleHashes kernel over the reps
  *                  (sum of array sizes forces every hash)
  *   - `cand`     — + the salted block join, pair emission only
  *                  (count(1) over the candidate stream — pays scan,
  *                  exchanges, sort/merge and the join condition, NOT
  *                  the verify probes or the Jaccard kernel);
  *                  `cand:N` overrides the salt to N for sweeps
  *   - `cand_census` — deterministic merge-scan combo count of the
  *                  block join (host-independent)
  *   - `full`     — the whole operator, catalog parameters (the board
  *                  row, minus the orderBy the bench strips anyway)
  *   - `bcast`    — `full`, then the verify's runtime broadcast builds,
  *                  reuses and sizes read off the AQE final plan
  *   - `hist[:PCT]` — exact-Jaccard deciles over a PCT% hash-sample of
  *                  the candidate stream (default 1%): the candidate
  *                  similarity DISTRIBUTION picks the verify cut — an
  *                  early-exit merge pays off on low-Jaccard candidate
  *                  mass, a pre-merge bound sketch on mid-Jaccard mass
  *
  * Same decomposition for the simhash family (r17, the ladder's #2
  * after the ngram cut) via `sim_base` (widened scan + word shingles +
  * collapse + signature/hashed-shingle materialization), `sim_sigs`
  * (distinct signatures), `sim_census` (the banded self-join's bucket
  * combo census), `sim_cand` (+ banded self-join, hamming filter,
  * distinct — rides the materialized base within one JVM, so its wall
  * minus sim_base's is the candidate stage), `sim_hist[:PCT]`
  * (candidate jaccard deciles), and `sim_full` (the catalog row);
  * `sim_census`/`sim_cand`/`sim_full` take `:B:H` to override the band
  * geometry
  *
  * Stage wall differences attribute the row's cost: kernel+probes ≈
  * full − cand; emission ≈ cand − shingle. Single timed run per stage
  * (the multi-minute ×100 rows drown the ~5-9 s cold-JIT tax; cheap
  * stages run first, so the scan/shingle JIT is warm by the heavy ones).
  *
  * Usage: runMain graft.NgramWallSmoke <dir> <stage,stage,...>
  *   (stages from {est, collapse, shingle, cand[:SALT], cand_census,
  *   hist[:PCT], full[:SALT], bcast[:SALT], sim_base, sim_sigs,
  *   sim_census[:B:H], sim_cand[:B:H], sim_hist[:PCT], sim_full[:B:H]})
  */
object NgramWallSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val stages = args(1).split(",").toSeq
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.core.GraftSession.local(cpus, "graft-ngram-wall")
    val docs = graft.core.Tables.documents(spark, dir)
    import graft.operators.TextDedup
    // catalog parameters (DedupQueries d_ngram_jaccard)
    val (n, t, bw) = (4, 0.6, 20)
    // the estimate AND the derived plan come from the catalog's own
    // memoized derivation (review r17: an inline copy of the
    // salt/shards/bcast formulas would silently drift from the shipped
    // plan — the same hazard ngramBlockedInternals closed for the
    // frames). Lazy: stages that don't need them must not pay — or
    // time-pollute — the estimate aggregate at startup.
    lazy val est = graft.queries.DedupQueries.ngramEstStats(spark, dir)
    lazy val plan = graft.queries.DedupQueries.ngramPlan(spark, dir)
    lazy val saltDefault = plan._3
    def frames(salt: Int) = {
      val (base, _, sh, blocked) = TextDedup.ngramBlockedInternals(
        docs, "doc_id", "text", col("n_chars"), n, bw)
      (base, sh, TextDedup.blockedCandJoin(blocked, "doc_id", bw, salt))
    }
    // executor CPU seconds per stage body (r18): wall legs on this host
    // swing ~2x under co-runner load the gate can't see; task CPU time
    // measures OUR cycles only, so the A/B ratio survives the noise
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          cpuNs.addAndGet(e.stageInfo.taskMetrics.executorCpuTime)
      })
    def timed(label: String)(body: => String): Unit = {
      val t0 = System.nanoTime()
      val c0 = cpuNs.get()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener events drain async
      println(f"[ngramwall] $label%-14s $wall%9.2f s  cpu=${(cpuNs.get() - c0) / 1e9}%.1f s  $out")
    }
    stages.foreach { st =>
      val parts = st.split(":")
      val stage = parts(0)
      // first stage argument: the salt (a sample percent for the hist
      // stages); lazy, so stages that ignore it skip the estimate
      lazy val salt = if (parts.length > 1) parts(1).toInt else saltDefault
      stage match {
        case "est" =>
          timed("est")(s"pairs=${est.candidatePairs} candBytes=${est.candidateBytes} " +
            s"shingleBytes=${est.shingleBytes} salt=${plan._3} " +
            s"shards=${plan._2} bcast=${plan._1}")
        case "collapse" =>
          timed("collapse")(s"reps=${frames(1)._1.count()}")
        case "shingle" =>
          timed("shingle") {
            val r = frames(1)._2.agg(sum(size(col("__sh")))).head()
            s"sumShingles=${if (r.isNullAt(0)) 0L else r.getLong(0)}"
          }
        case "cand" =>
          timed(s"cand:$salt")(
            s"candidates=${frames(salt)._3.count()}")
        case "cand_census" =>
          // deterministic combo arithmetic of the blocked join (r18):
          // the SMJ merge scan walks Σ nx·ny over the block buckets,
          // nx = |2img(b)| and ny = |own(b)| (salt splits x rows but Σ
          // over salts restores |2img|·|own| per block, so the census
          // is salt-free)
          timed("cand_census") {
            val (_, _, _, blocked) = TextDedup.ngramBlockedInternals(
              docs, "doc_id", "text", col("n_chars"), n, bw)
            val img = blocked.groupBy(col("__blk")).agg(count(lit(1)).as("nx"))
            val own = blocked
              .filter(col("__blk") === (col("__len") / bw).cast("long"))
              .groupBy(col("__blk")).agg(count(lit(1)).as("ny"))
            val r = img.join(own, Seq("__blk"), "left_outer")
              .agg(sum((col("nx") * coalesce(col("ny"), lit(0L))).cast("long")),
                max(col("nx"))).head()
            s"scanCombos=${r.getLong(0)} maxBlock=${r.getLong(1)}"
          }
        case "hist" =>
          val pct = if (parts.length > 1) salt else 1
          timed(s"hist:$pct%") {
            val (_, sh, cand) = frames(saltDefault)
            val sample = cand.filter(
              pmod(xxhash64(col("a"), col("b")), lit(100L)) < pct)
            val sa = broadcast(sh.select(col("doc_id").as("a"), col("__sh").as("__sha")))
            val sb = broadcast(sh.select(col("doc_id").as("b"), col("__sh").as("__shb")))
            val j = sample.join(sa, "a").join(sb, "b")
              .select(TextDedup.jaccardSorted(col("__sha"), col("__shb")).as("j"))
            val q = j.agg(
              count(lit(1)).as("n"),
              expr("approx_percentile(j, array(0.1,0.25,0.5,0.75,0.9,0.95,0.99), 1000)").as("q"),
              avg(col("j")).as("mean")).head()
            s"n=${q.getLong(0)} mean=${"%.3f".format(q.getDouble(2))} " +
              s"deciles=${q.getSeq[Double](1).map(d => "%.3f".format(d)).mkString(",")}"
          }
        case "sim_base" | "sim_sigs" | "sim_census" | "sim_cand" | "sim_hist" |
             "sim_full" =>
          // catalog parameters (DedupQueries d_simhash) by default; the
          // r18 geometry A/B (verdict item 1: the banding capacity rule's
          // within-bucket combo volume) overrides via `sim_cand:B:H` /
          // `sim_full:B:H` — B bands of 64/B bits, Hamming ≤ H (the
          // DEPLOYMENT capacity knob documented on simhashPairs; the
          // catalog row keeps 16:15). Same shipped frames either way.
          val (bands, hamm) = parts match {
            case Array(_, b, h) => (b.toInt, h.toInt)
            case _              => (16, 15)
          }
          lazy val sim = TextDedup.simhashInternals(docs, "doc_id", "text",
            shingleN = 3, maxHamming = hamm, numBands = bands, minShingles = 32)
          stage match {
            case "sim_base" =>
              timed("sim_base")(s"reps=${sim._1.count()}")
            case "sim_sigs" =>
              // would collapsing identical signatures cut the banded
              // join's within-bucket combos? Only if sig-groups are big
              timed("sim_sigs")(
                s"reps=${sim._1.count()} distinctSigs=${
                  sim._1.select(col("__sim")).distinct().count()}")
            case "sim_census" =>
              // bucket-size census of the banded self-join (r18): the
              // merge scan's combo volume is Σ n_x·n_y over the
              // (band, bval, lblk) buckets of the two sides (the r17
              // pair-combo metric Σ n(n−1)/2 is also printed), and its
              // SKEW decides whether the wall is a few straggler tasks
              // (hot buckets are byte-tiny, so AQE's skew split never
              // fires) or genuine spread volume
              timed(s"sim_census:$bands:$hamm") {
                def by(df: org.apache.spark.sql.DataFrame, n: String) = df
                  .groupBy(col("__band"), col("__bval"), col("__lblk"))
                  .agg(count(lit(1)).as(n))
                val bx = by(sim._4, "nx"); val bo = by(sim._5, "ny")
                val r = bx.join(bo, Seq("__band", "__bval", "__lblk"))
                  .agg(count(lit(1)).as("nb"),
                    sum((col("nx") * col("ny")).cast("long")).as("scan"),
                    sum((col("nx") * (col("nx") - 1) / 2).cast("long")).as("pairs"),
                    max(col("nx")).as("maxx"), max(col("ny")).as("maxy")).head()
                s"buckets=${r.getLong(0)} scanCombos=${r.getLong(1)} " +
                  s"pairCombosX=${r.getLong(2)} maxBucketX=${r.getLong(3)} " +
                  s"maxBucketY=${r.getLong(4)}"
              }
            case "sim_cand" =>
              timed(s"sim_cand:$bands:$hamm")(s"candidates=${sim._6.count()}")
            case "sim_hist" =>
              val pct = if (parts.length > 1) salt else 1
              timed(s"sim_hist:$pct%") {
                val sh = sim._3
                val sample = sim._6.filter(
                  pmod(xxhash64(col("a"), col("b")), lit(100L)) < pct)
                val sa = broadcast(sh.select(col("doc_id").as("a"), col("__sh").as("__sha")))
                val sb = broadcast(sh.select(col("doc_id").as("b"), col("__sh").as("__shb")))
                val q = sample.join(sa, "a").join(sb, "b")
                  .select(TextDedup.jaccardSorted(col("__sha"), col("__shb")).as("j"))
                  .agg(count(lit(1)).as("n"),
                    expr("approx_percentile(j, array(0.1,0.25,0.5,0.75,0.9,0.95,0.99), 1000)").as("q"),
                    avg(col("j")).as("mean")).head()
                s"n=${q.getLong(0)} mean=${"%.3f".format(q.getDouble(2))} " +
                  s"deciles=${q.getSeq[Double](1).map(d => "%.3f".format(d)).mkString(",")}"
              }
            case "sim_full" =>
              timed(s"sim_full:$bands:$hamm") {
                // default geometry times the SHIPPED catalog row; an
                // override calls the same operator with the capacity-
                // mode geometry and the same broadcast decision
                val pairs =
                  if (bands == 16 && hamm == 15)
                    graft.queries.DedupQueries.queries("d_simhash")(spark, dir)
                  else {
                    val bcast = graft.queries.DedupQueries
                      .lshBcastBytes(spark, dir) <=
                      TextDedup.ngramBroadcastBudgetBytes
                    TextDedup.simhashPairs(docs, "doc_id", "text",
                      shingleN = 3, maxHamming = hamm, threshold = 0.5,
                      numBands = bands, minShingles = 32,
                      broadcastVerify = Some(bcast))
                  }
                s"pairs=${pairs.count()}"
              }
          }
        case "full" =>
          timed(s"full:$salt") {
            val (bcast, shards, _) = plan
            val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
              lenCol = col("n_chars"), n = n, threshold = t, blockWidth = bw,
              shards = shards, streamParallelism = salt,
              broadcastVerify = Some(bcast))
            s"pairs=${pairs.count()}"
          }
        case "bcast" =>
          // runtime broadcast census of the verify (r18, verdict item 6):
          // executes the full row, then walks the AQE FINAL plan (initial
          // explain never shows AQE's stage-level reuse) counting
          // broadcast BUILDS vs reuses and summing each build's dataSize
          // — the peak resident broadcast footprint of the verify stage.
          timed(s"bcast:$salt") {
            import org.apache.spark.sql.execution.SparkPlan
            import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
            import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
            val (bcast, shards, _) = plan
            val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
              lenCol = col("n_chars"), n = n, threshold = t, blockWidth = bw,
              shards = shards, streamParallelism = salt,
              broadcastVerify = Some(bcast))
            val qe = pairs.queryExecution
            val nRows = qe.executedPlan.execute().count()
            def walk(p: SparkPlan): Seq[SparkPlan] = p match {
              case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
              case q: QueryStageExec => q +: walk(q.plan)
              case _ => p +: p.children.flatMap(walk)
            }
            val nodes = walk(qe.executedPlan)
            val builds = nodes.collect { case b: BroadcastExchangeExec => b }
              .distinct
            val reused = nodes.collect { case r: ReusedExchangeExec => r }
            val sizes = builds.map(b => b.metrics("dataSize").value)
            s"rows=$nRows builds=${builds.size} reused=${reused.size} " +
              s"dataSizesMB=${sizes.map(_ / 1e6).map(d => "%.1f".format(d)).sorted.mkString(",")} " +
              s"totalMB=${"%.1f".format(sizes.sum / 1e6)}"
          }
        case other => println(s"[ngramwall] unknown stage: $other")
      }
    }
    spark.stop()
  }
}
