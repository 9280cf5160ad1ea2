package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), so the
  * benchmark's own spans and Spark's listener timestamps share a clock.
  * `op` is the id shared by every span of one operation.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startMs: Double, endMs: Double)

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span store plus Spark's own listeners. Nothing is written
  * until [[Trace.write]] at exit; with tracing off only [[span]]'s timing
  * runs and no listener is registered.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) { spans.add(s); () }

  def add(parent: Long, op: Long, layer: String, name: String,
          startMs: Double, endMs: Double): Long = {
    val id = nextId()
    if (enabled) spans.add(Span(id, parent, op, layer, name, startMs, endMs))
    id
  }

  /** Time `body`, record it as a span, and return (result, seconds). The
    * span id is reserved before `body` runs so children can name it.
    */
  def span[T](parent: Long, op: Long, layer: String, name: String)
             (body: Long => T): (T, Double) = {
    val id = nextId()
    val t0 = Clock.nowMs
    val r = try body(id) finally {
      if (enabled) spans.add(Span(id, parent, op, layer, name, t0, Clock.nowMs))
    }
    (r, (Clock.nowMs - t0) / 1e3)
  }

  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()

  private def propLong(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.put(e.jobId, e); () }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobs.add(JobRec(e.jobId, s.time, e.time,
        propLong(s.properties, Trace.OpProperty),
        propLong(s.properties, "spark.sql.execution.id")))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.add(StageRec(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()),
        e.stageInfo.numTasks)); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      val run = g(_.executorRunTime)
      val sched = math.max(0L, (i.finishTime - i.launchTime) - run -
        g(_.executorDeserializeTime) - g(_.resultSerializationTime) -
        (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
      tasks.add(TaskRec(i.finishTime, run, g(_.executorCpuTime), g(_.jvmGCTime),
        g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
        g(_.shuffleWriteMetrics.bytesWritten),
        g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        g(_.peakExecutionMemory), sched, e.reason != Success))
      ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution, durNs: Long): Unit = {
      qes.add(QeRec(qe.id, durNs, qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs, p.endTimeMs) })); ()
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe, d)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(System.currentTimeMillis(), p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
      ()
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until Spark's listener buses have delivered every event
    * posted so far, so a window's counters are complete.
    */
  def drain(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  }

  /** Spark job and Catalyst-phase spans, parented by time containment to
    * the benchmark span of the same operation that was open when they
    * started (build or action), else to the operation itself.
    */
  def listenerSpans(): Seq[Span] = {
    val mine = spans.asScala.toSeq
    val byOp = mine.filter(s => s.op > 0 && s.layer != "op").groupBy(_.op)
    def parentOf(op: Long, atMs: Double): Long =
      byOp.getOrElse(op, Nil).find(s => s.startMs <= atMs && atMs <= s.endMs)
        .map(_.id).getOrElse(mine.find(s => s.op == op && s.layer == "op").map(_.id).getOrElse(0L))
    val execOp = jobs.asScala.filter(_.execId >= 0).map(j => j.execId -> j.op).toMap
    val js = jobs.asScala.toSeq.map { j =>
      Span(nextId(), parentOf(j.op, j.startMs.toDouble), j.op, "exec", s"job:${j.jobId}",
        j.startMs.toDouble, j.endMs.toDouble)
    }
    val qs = qes.asScala.toSeq.flatMap { q =>
      val op = execOp.getOrElse(q.execId, -1L)
      q.phases.map { case (n, s, e) =>
        Span(nextId(), parentOf(op, s.toDouble), op, "catalyst", n, s.toDouble, e.toDouble)
      }
    }
    js ++ qs
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try (spans.asScala.toSeq ++ listenerSpans()).sortBy(_.startMs).foreach { s =>
      w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    } finally w.close()
  }
}

object Trace {
  // raw listener records, aggregated per time window at exit
  final case class JobRec(jobId: Int, startMs: Long, endMs: Long, op: Long, execId: Long)
  final case class TaskRec(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleRead: Long, shuffleWrite: Long, spill: Long,
                           peakMem: Long, schedDelayMs: Long, failed: Boolean)
  final case class StageRec(endMs: Long, tasks: Int)
  final case class QeRec(execId: Long, durNs: Long, phases: Seq[(String, Long, Long)])
  final case class BatchRec(endMs: Long, rows: Long, durMs: Long)

  /** Spark local property carrying the operation id into job events. */
  val OpProperty = "perfbench.op"
}
