package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from the benchmark's own calls into each layer. Times are
  * milliseconds since the tracer's epoch (a `System.nanoTime` origin); the
  * span id is also set as a Spark local property on the calling thread, so
  * every job launched inside the span carries it. A disabled tracer runs
  * the body and records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val epochNs: Long = System.nanoTime()
  val epochMs: Long = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nowMs: Double = (System.nanoTime() - epochNs) / 1e6

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack.set(id :: parents)
      val (c0, n0) = codegen()
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        val (c1, n1) = codegen()
        stack.set(parents)
        sc.setLocalProperty(SpanKey, prev)
        done.add(Span(id, parents.headOption.getOrElse(0L), name, req, t0, t1,
          c1 - c0, n1 - n0))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def toJson: Seq[Map[String, Any]] = spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
    "start" -> s.start, "end" -> s.end,
    "codegen_ns" -> s.compileNs, "codegen_n" -> s.compiles))
}

object Tracer {
  val SpanKey = "graft.perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, req: String,
      start: Double, end: Double, compileNs: Long, compiles: Long)

  /** JVM-wide Janino compile time (ns) and compile count. */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Engine-side counters, registered by the benchmark on its own session:
  * every job (with the span that launched it), every task's metrics, the
  * completed stages, and each query execution's planning phases. */
final class EngineRecorder extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Any]]()
  private val tasks = new ConcurrentLinkedQueue[Array[Any]]()
  private val stages = new ConcurrentLinkedQueue[Array[Any]]()
  private val queries = new ConcurrentLinkedQueue[Array[Any]]()
  private val events = new AtomicLong(0)

  def eventCount: Int = events.get().toInt
  def anyRunning: Boolean = jobs.values().asScala.exists(_(6) == "running")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, Array(e.jobId, e.time, -1L, prop(Tracer.SpanKey),
      prop("spark.sql.execution.id"), e.stageIds.mkString(","), "running"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      events.incrementAndGet()
      j(2) = e.time
      j(6) = e.jobResult match { case JobSucceeded => "ok"; case _ => "failed" }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val i = e.stageInfo
    stages.add(Array(i.stageId, i.attemptNumber(), i.numTasks,
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
      i.failureReason.isEmpty))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    val ok = e.reason == org.apache.spark.Success
    if (m == null) tasks.add(Array(e.stageId, info.launchTime, info.finishTime,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, ok))
    else tasks.add(Array(e.stageId, info.launchTime, info.finishTime,
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.executorDeserializeTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, ok))
  }

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    events.incrementAndGet()
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    queries.add(Array(qe.id, ms("analysis"), ms("optimization"), ms("planning"), ok))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, ok = false)

  def toJson: Map[String, Any] = Map(
    "jobs_cols" -> Seq("id", "start", "end", "span", "exec", "stages", "result"),
    "jobs" -> jobs.values().asScala.toSeq.sortBy(_(0).asInstanceOf[Int]).map(_.toSeq),
    "tasks_cols" -> Seq("stage", "launch", "finish", "run_ms", "cpu_ms", "gc_ms",
      "deser_ms", "shuffle_read", "shuffle_write", "spill", "input_bytes",
      "input_records", "output_bytes", "ok"),
    "tasks" -> tasks.asScala.toSeq.map(_.toSeq),
    "stages_cols" -> Seq("id", "attempt", "tasks", "submitted", "completed", "ok"),
    "stages" -> stages.asScala.toSeq.map(_.toSeq),
    "queries_cols" -> Seq("exec", "analysis_ms", "optimization_ms", "planning_ms", "ok"),
    "queries" -> queries.asScala.toSeq.map(_.toSeq))
}
