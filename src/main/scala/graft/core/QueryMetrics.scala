package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.GraftSql

/** What one measured region cost, summed over every task and SQL
  * execution that ended inside it. Byte and record fields are task
  * metrics; `taskMs` is every task's duration, sorted ascending, so its
  * max over its median is a stage-skew number; the broadcast fields come
  * from the AQE FINAL plans (the initial plan never shows AQE's
  * stage-level exchange reuse), one entry per broadcast BUILD.
  *
  * Parquet input bytes read 0 under Hadoop's vectored IO, which bypasses
  * the statistics `inputMetrics` reads; a harness that reports them sets
  * `spark.hadoop.parquet.hadoop.vectored.io.enabled=false` (ShuffleSmoke
  * does). */
final case class QueryMetrics(
    wallNs: Long,
    inputBytes: Long, inputRecords: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long,
    memorySpillBytes: Long, diskSpillBytes: Long,
    executorCpuNs: Long, gcMs: Long,
    taskMs: IndexedSeq[Long],
    broadcastBytes: Seq[Long]) {
  def tasks: Int = taskMs.length
  def spillBytes: Long = memorySpillBytes + diskSpillBytes
  def broadcastBuilds: Int = broadcastBytes.length
}

/** The engine's one metrics listener. */
object QueryMetrics {

  /** Runs `body` under a fresh listener and returns its result with what
    * it cost. The listener bus is drained before registering, so an
    * earlier job's backlog cannot leak in, and after `body`, so every
    * task and execution end of `body` is counted — deterministic, no
    * sleep. `wallNs` times `body` alone. */
  def measure[T](spark: SparkSession)(body: => T): (T, QueryMetrics) = {
    GraftSql.drainListenerBus(spark)
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      GraftSql.drainListenerBus(spark)
      (out, l.result(wallNs))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `dataSize` of each broadcast build in an executed plan: the walk
    * enters adaptive plans (through their final plan) and query stages,
    * and counts a build once however many stages reuse it. */
  private def broadcastBuilds(plan: SparkPlan): Seq[Long] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(plan).collect { case b: BroadcastExchangeExec => b }.distinct
      .map(_.metrics("dataSize").value)
  }

  private final class Listener extends SparkListener {
    private var input, inputRec, shWrite, shWriteRec, shRead, shReadRec,
      memSpill, diskSpill, cpuNs, gcMs = 0L
    private val taskMs = ArrayBuffer.empty[Long]
    private val bcast = ArrayBuffer.empty[Long]

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
      case end: SparkListenerSQLExecutionEnd =>
        GraftSql.executionOf(end).foreach { qe =>
          val sizes = broadcastBuilds(qe.executedPlan)
          synchronized(bcast ++= sizes)
        }
      case _ =>
    }

    def result(wallNs: Long): QueryMetrics = synchronized(QueryMetrics(wallNs,
      input, inputRec, shWrite, shWriteRec, shRead, shReadRec,
      memSpill, diskSpill, cpuNs, gcMs, taskMs.toIndexedSeq.sorted,
      bcast.toSeq))
  }
}
