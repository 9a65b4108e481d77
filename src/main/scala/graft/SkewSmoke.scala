package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.QueryMetrics

/** Skew-stress harness for the salted-join capability (J13) — the
  * reference's headline workload is a 10.4 B-row fact with a manually
  * salted skew join (`sas_conversion_with_manual_salt_skewed_join.sql:
  * 30,180,191-206`), but the TPC-H fixtures are uniform, so `j13` never
  * actually stresses the skew path. This main builds a zipf-ish fixture
  * (ONE key owns ~20% of the fact) at ×10-of-sf0.1 volume and measures
  * the three production strategies head-to-head:
  *
  *   unsalted  — plain shuffle join, AQE off: the hot key hash-routes to
  *               ONE reducer; the straggler task bounds the stage.
  *   salted16  — `RuleJoins.saltedJoin` n=16, AQE off: the hot key
  *               splits across 16 (key, salt) buckets at the cost of
  *               replicating the dim 16×. What the reference hand-wrote.
  *   aqe_skew  — plain join, AQE skew-join on (thresholds scaled to the
  *               fixture the way GraftSession.cluster scales them to
  *               production partition sizes): the runtime re-plan splits
  *               the oversized partition with no query change.
  *
  * Reported per variant: wall seconds, task count, max/p50/sum of task
  * durations — max/p50 IS the skew number (a balanced stage is ~1).
  * The dim is forced non-broadcast (at reference scale the dim is
  * millions of rows; broadcasting would dodge the skew, not fix it).
  * All three variants must agree on the result checksum, and the gate
  * asserts salted AND aqe beat unsalted on both wall and task-max.
  *
  * Usage: runMain graft.SkewSmoke [nFact] [nKeys] [saltN]
  */
object SkewSmoke {

  def main(args: Array[String]): Unit = {
    val nFact = if (args.length > 0) args(0).toLong else 6000000L
    val nKeys = if (args.length > 1) args(1).toLong else 100000L
    val saltN = if (args.length > 2) args(2).toInt else 16
    val spark = graft.core.GraftSession.local(appName = "graft-skew-smoke")
    import spark.implicits._

    val out = s"${System.getProperty("java.io.tmpdir")}/graft_skew_$nFact"
    val done = new java.io.File(s"$out/_DONE")
    if (!done.exists()) {
      // hot key 0 owns every 5th row (exactly 20%); the rest spread
      // uniformly over keys 1..nKeys-1. The md5 pad keeps shuffle bytes
      // realistic — a constant-key partition of narrow rows compresses
      // to almost nothing and understates the straggler.
      spark.range(nFact).select(
          when(col("id") % 5 === 0, 0L)
            .otherwise(col("id") % (nKeys - 1) + 1L).as("k"),
          (col("id") % 97).cast("double").as("v"),
          md5(col("id").cast("string")).as("pad"))
        .write.mode("overwrite").parquet(s"$out/fact")
      spark.range(nKeys).select(col("id").as("k"),
          (col("id") % 1000).cast("double").as("dval"),
          md5(concat(lit("d"), col("id").cast("string"))).as("dpad"))
        .write.mode("overwrite").parquet(s"$out/dim")
      done.createNewFile()
    }

    val baseConfs = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val aqeOff = baseConfs ++ Map("spark.sql.adaptive.enabled" -> "false")
    // thresholds scaled fixture-ward exactly like GraftSession.cluster
    // scales them production-ward (512 MB / 5x there; the ratio to the
    // median partition is what matters, not the absolute bytes)
    val aqeSkew = baseConfs ++ Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB")

    def fact = spark.read.parquet(s"$out/fact")
    def dim = spark.read.parquet(s"$out/dim")
    // the checksum aggregate forces every joined row through the plan;
    // max(pad) keeps the wide column alive into the shuffle
    def finish(j: DataFrame): Double =
      j.agg(sum(col("v") * col("dval")).as("s"), max(col("pad")))
        .head().getDouble(0)

    case class Stat(label: String, wall: Double, sum: Double, n: Int,
                    maxS: Double, p50S: Double, checksum: Double)
    def run(label: String, confs: Map[String, String])
           (q: => DataFrame): Stat = {
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        finish(q) // warm: codegen/JIT/page cache
        val (cs, m) = QueryMetrics.measure(spark)(finish(q))
        val ts = m.taskMs
        Stat(label, m.wallNs / 1e9, ts.sum / 1e3, ts.length,
          if (ts.isEmpty) 0 else ts.last / 1e3,
          if (ts.isEmpty) 0 else ts(ts.length / 2) / 1e3, cs)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    val unsalted = run("unsalted", aqeOff)(fact.join(dim, "k"))
    val salted = run(s"salted$saltN", aqeOff)(
      graft.operators.RuleJoins.saltedJoin(fact, dim, "k", "k", saltN))
    val aqe = run("aqe_skew", aqeSkew)(fact.join(dim, "k"))

    println(f"${"variant"}%-10s ${"wall_s"}%8s ${"tasks"}%6s " +
      f"${"task_max_s"}%11s ${"task_p50_s"}%11s ${"max/p50"}%8s")
    Seq(unsalted, salted, aqe).foreach { s =>
      println(f"${s.label}%-10s ${s.wall}%8.2f ${s.n}%6d " +
        f"${s.maxS}%11.2f ${s.p50S}%11.2f ${s.maxS / math.max(s.p50S, 1e-3)}%8.1f")
    }
    require(salted.checksum == unsalted.checksum &&
      aqe.checksum == unsalted.checksum,
      s"checksum mismatch: ${unsalted.checksum} / ${salted.checksum} / ${aqe.checksum}")
    val gateSalt = salted.wall < unsalted.wall && salted.maxS < unsalted.maxS
    val gateAqe = aqe.wall < unsalted.wall && aqe.maxS < unsalted.maxS
    println(s"GATE salted beats unsalted (wall+task-max): $gateSalt")
    println(s"GATE aqe beats unsalted (wall+task-max): $gateAqe")
    spark.stop()
    if (!(gateSalt && gateAqe)) sys.exit(1)
  }
}
