package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the benchmark's timeline. Times are epoch
  * milliseconds (fractional), so spans from the benchmark's own calls and
  * spans rebuilt from Spark's listener events share one clock. `trace`
  * groups every span of one statement, pass or micro-batch; `parent` is
  * the id of the span that caused this one (0 for a root).
  */
final case class Span(id: Long, trace: String, name: String, parent: Long,
    start: Double, end: Double)

/** In-memory span recorder plus the Spark listeners of the traced run.
  *
  * Tracing is off until [[on]] is called and can be switched off again,
  * so one run can time alternate units with and without it. Spans stay in
  * memory and are written once, at the end of the run. Listener events
  * are attached to the benchmark span that was open on the submitting
  * thread through the `perfbench.span` / `perfbench.trace` local
  * properties, which Spark copies onto every job it starts.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  @volatile private var enabled = false

  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch ms now, from the monotonic clock. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  val counters = new Counters

  private val sparkListener = new SparkListener {
    private val jobs = scala.collection.concurrent.TrieMap.empty[Int, (Double, Long, String)]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
      val parent = prop("perfbench.span").map(_.toLong).getOrElse(0L)
      val trace = prop("streaming.sql.batchId").map("batch-" + _)
        .orElse(prop("perfbench.trace")).getOrElse("")
      jobs.put(e.jobId, (e.time.toDouble, parent, trace))
      counters.synchronized {
        counters.jobs += 1
        counters.stages += e.stageInfos.size
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (start, parent, trace) =>
        add(Span(ids.incrementAndGet(), trace, "spark.job", parent, start, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.synchronized { counters.stageTasks += e.stageInfo.numTasks }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      counters.synchronized {
        counters.tasks += 1
        if (m != null) {
          counters.taskRunMs += m.executorRunTime
          counters.taskCpuNs += m.executorCpuTime
          counters.gcMs += m.jvmGCTime
          counters.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          counters.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          counters.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          counters.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(k: String) = phases.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val parquetWrite = qe.executedPlan.collectFirst {
        case w: DataWritingCommandExec => w.cmd
      }.exists {
        case c: InsertIntoHadoopFsRelationCommand => c.fileFormat.isInstanceOf[ParquetFileFormat]
        case _ => false
      }
      counters.synchronized {
        counters.analysisMs += ms("analysis")
        counters.optimizationMs += ms("optimization")
        counters.planningMs += ms("planning")
        if (parquetWrite) counters.parquetWriteMs += durationNs / 1e6
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start recording spans and listener events. */
  def on(): Unit = if (!enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  /** Stop recording; waits until the listeners have seen every event
    * posted so far, so counts taken after this are complete.
    */
  def off(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    enabled = false
  }

  def add(s: Span): Unit = spans.synchronized { spans += s }

  def newId(): Long = ids.incrementAndGet()

  /** Time `f` as span `name`; child of the span open on this thread, in
    * trace `trace` (inherited from the parent when empty).
    */
  def span[T](name: String, trace: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val stack = open.get
      val (parent, parentTrace) = stack.headOption.getOrElse((0L, ""))
      val id = ids.incrementAndGet()
      val tr = if (trace.nonEmpty) trace else parentTrace
      open.set((id, tr) :: stack)
      sc.setLocalProperty("perfbench.span", id.toString)
      sc.setLocalProperty("perfbench.trace", tr)
      val start = nowMs
      try f
      finally {
        add(Span(id, tr, name, parent, start, nowMs))
        open.set(stack)
        sc.setLocalProperty("perfbench.span", if (parent == 0L) null else parent.toString)
        sc.setLocalProperty("perfbench.trace", if (parent == 0L) null else parentTrace)
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

/** Totals over the traced windows. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var stageTasks = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var parquetWriteMs = 0.0

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; stageTasks = 0; tasks = 0; taskRunMs = 0; taskCpuNs = 0
    gcMs = 0; shuffleWriteBytes = 0; shuffleReadBytes = 0; spillBytes = 0
    inputBytes = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0
    parquetWriteMs = 0
  }

  def toJson: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs, "stages" -> stages, "stage_tasks" -> stageTasks,
    "tasks" -> tasks, "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "parquet_write_ms" -> parquetWriteMs))
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans, null).
  */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case f: Float => write(f.toDouble, sb)
    case n: java.lang.Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(x, sb) }
      sb += ']'
    case a: Array[_] => write(a.toSeq, sb)
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
