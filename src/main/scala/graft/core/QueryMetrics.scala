package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.GraftSql

/** What one measured region cost, summed over every job, stage, task and
  * SQL execution inside it. `jobs` counts job starts and `stages`
  * completed stages (a skipped stage — a reused shuffle — never completes,
  * so it is not counted). Byte and record fields are task
  * metrics; `taskMs` is every task's duration, sorted ascending, so its
  * max over its median is a stage-skew number; the broadcast fields come
  * from the AQE FINAL plans (the initial plan never shows AQE's
  * stage-level exchange reuse), one entry per broadcast BUILD, in the
  * same order in both.
  *
  * `broadcastRows` is each build's row count (`numOutputRows`), the same
  * on any host. `broadcastBytes` is each build's `dataSize`: the memory
  * its hash relation ALLOCATED, not the bytes of its rows. A hash
  * relation takes whole pages of `spark.buffer.pageSize`, which Spark
  * derives from heap and cores when unset, so one build reads e.g.
  * 16.25 MB at -Xmx2g and 32.25 MB at -Xmx4g (s_srp_lsh, sf0.1, 4
  * cores). Compare it only between runs of the same heap and cores.
  *
  * Parquet input bytes read 0 under Hadoop's vectored IO, which bypasses
  * the statistics `inputMetrics` reads; a harness that reports them sets
  * `spark.hadoop.parquet.hadoop.vectored.io.enabled=false` (Bench
  * does).
  *
  * `codegenCompiles` is how many generated classes Janino compiled while
  * the region ran: the delta of Spark's `CodegenMetrics` compile-time
  * histogram count. A class found in the codegen cache
  * ([[GraftSession.CodegenCacheEntries]]) is not compiled again, so a
  * warm rerun of a plan reads 0. Two limits: the count is JVM-global, so
  * anything else compiling in the same JVM while the region runs (a
  * concurrent query, another session) is counted too; and under a
  * `local-cluster` master the executors compile in their own JVMs, whose
  * compiles are not counted (only the driver's are). */
final case class QueryMetrics(
    wallNs: Long,
    jobs: Int, stages: Int,
    inputBytes: Long, inputRecords: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long,
    memorySpillBytes: Long, diskSpillBytes: Long,
    executorCpuNs: Long, gcMs: Long,
    taskMs: IndexedSeq[Long],
    broadcastBytes: Seq[Long], broadcastRows: Seq[Long],
    codegenCompiles: Long) {
  def tasks: Int = taskMs.length
  def spillBytes: Long = memorySpillBytes + diskSpillBytes
  def broadcastBuilds: Int = broadcastBytes.length
}

/** The engine's one metrics listener. */
object QueryMetrics {

  /** Runs `body` under a fresh listener and returns its result with what
    * it cost. The listener bus is drained before registering, so an
    * earlier job's backlog cannot leak in, and after `body`, so every
    * job, stage, task and execution event of `body` is counted —
    * deterministic, no sleep. `wallNs` times `body` alone. */
  def measure[T](spark: SparkSession)(body: => T): (T, QueryMetrics) = {
    GraftSql.drainListenerBus(spark)
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val cg0 = compiles()
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      GraftSql.drainListenerBus(spark)
      (out, l.result(wallNs, compiles() - cg0))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Generated classes compiled in this JVM so far. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** (`dataSize`, `numOutputRows`) of each broadcast build in an
    * executed plan: the walk enters adaptive plans (through their final
    * plan) and query stages, and counts a build once however many
    * stages reuse it. */
  private def broadcastBuilds(plan: SparkPlan): Seq[(Long, Long)] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(plan).collect { case b: BroadcastExchangeExec => b }.distinct
      .map(b => (b.metrics("dataSize").value, b.metrics("numOutputRows").value))
  }

  private final class Listener extends SparkListener {
    private var jobs, stages = 0
    private var input, inputRec, shWrite, shWriteRec, shRead, shReadRec,
      memSpill, diskSpill, cpuNs, gcMs = 0L
    private val taskMs = ArrayBuffer.empty[Long]
    private val bcast = ArrayBuffer.empty[(Long, Long)]
    // executions whose physical plan was built: their start event carries
    // it. One that fails in analysis starts with an empty plan, and forcing
    // its `executedPlan` here would rethrow that failure.
    private val planned = scala.collection.mutable.Set.empty[Long]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized(jobs += 1)

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized(stages += 1)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        input += m.inputMetrics.bytesRead
        inputRec += m.inputMetrics.recordsRead
        shWrite += m.shuffleWriteMetrics.bytesWritten
        shWriteRec += m.shuffleWriteMetrics.recordsWritten
        shRead += m.shuffleReadMetrics.totalBytesRead
        shReadRec += m.shuffleReadMetrics.recordsRead
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        taskMs += t.taskInfo.duration
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case start: SparkListenerSQLExecutionStart if start.sparkPlanInfo.nodeName.nonEmpty =>
        synchronized(planned += start.executionId)
      case end: SparkListenerSQLExecutionEnd if synchronized(planned.remove(end.executionId)) =>
        GraftSql.executionOf(end).foreach { qe =>
          val builds = broadcastBuilds(qe.executedPlan)
          synchronized(bcast ++= builds)
        }
      case _ =>
    }

    def result(wallNs: Long, codegenCompiles: Long): QueryMetrics =
      synchronized(QueryMetrics(wallNs,
        jobs, stages, input, inputRec, shWrite, shWriteRec, shRead, shReadRec,
        memSpill, diskSpill, cpuNs, gcMs, taskMs.toIndexedSeq.sorted,
        bcast.map(_._1).toSeq, bcast.map(_._2).toSeq, codegenCompiles))
  }
}
