package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `op` is the catalog
  * row the span belongs to ("" above op level). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      op: String, startUs: Double, endUs: Double)

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val next = new AtomicLong(0)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def newId(): Long = next.incrementAndGet()
  def add(s: Span): Unit = buf.add(s): Unit
  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
}

object Clock {
  private val originNs = System.nanoTime()
  private val originUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e6 + i.getNano / 1e3
  }
  /** Epoch microseconds on the monotonic clock. */
  def nowUs: Double = originUs + (System.nanoTime() - originNs) / 1e3
}

/** Local-property keys the harness sets on its thread before each engine
  * call; Spark copies them into every job's properties, which is how a
  * job is attributed to its op and phase. */
object Props {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
  val Parent = "perfbench.parent"
}

/** Counts jobs per (op, phase); always attached, including untraced runs,
  * because the per-pass work check compares job counts. */
final class JobCounter extends SparkListener {
  val jobs = new ConcurrentHashMap[(String, String), AtomicLong]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val op = if (p == null) "" else Option(p.getProperty(Props.Op)).getOrElse("")
    val ph = if (p == null) "" else Option(p.getProperty(Props.Phase)).getOrElse("")
    jobs.computeIfAbsent((op, ph), _ => new AtomicLong).incrementAndGet(): Unit
  }
  def count(op: String, phase: String): Long =
    Option(jobs.get((op, phase))).map(_.get).getOrElse(0L)
  def reset(): Unit = jobs.clear()
}

/** Everything the traced run records from outside the engine: job and
  * stage spans, task metrics, planning-phase times and streaming batches.
  * Counters are cumulative; the harness snapshots them around each op. */
final class Tracer(spans: Spans) extends SparkListener
    with QueryExecutionListener {
  val c = new ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v): Unit
  def snap: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    c.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, String, Double)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) None else Option(p.getProperty(k))
    val parent = prop(Props.Parent).map(_.toLong).getOrElse(0L)
    jobSpan.put(e.jobId, (spans.newId(), parent, prop(Props.Op).getOrElse(""),
      e.time * 1e3))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    add("jobs", 1)
    if (prop(Props.Phase).contains("build")) add("build_jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, op, t0) =>
      spans.add(Span(id, parent, "job", s"job ${e.jobId}", op, t0, e.time * 1e3))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    add("stages", 1)
    for (t0 <- si.submissionTime; t1 <- si.completionTime) {
      val job = Option(stageJob.get(si.stageId)).flatMap(j => Option(jobSpan.get(j)))
      spans.add(Span(spans.newId(), job.map(_._1).getOrElse(0L), "stage",
        s"stage ${si.stageId}.${si.attemptNumber()}", job.map(_._3).getOrElse(""),
        t0 * 1e3, t1 * 1e3))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add("tasks", 1)
    Option(stageSubmitMs.get(e.stageId)).foreach(t =>
      add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - t)))
    if (m != null) {
      add("exec_cpu_ns", m.executorCpuTime)
      add("exec_run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_rows", m.outputMetrics.recordsWritten)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, ph) => add(s"phase_${name}_ms", ph.durationMs) }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      add("stream_batches", 1)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
