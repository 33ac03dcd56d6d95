package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed harness call into a layer. Spans of one op share `op`. Times
  * are epoch milliseconds (comparable with listener timestamps) plus a
  * nanosecond duration for the figure itself. */
final case class Span(id: Int, op: Int, name: String, layer: String,
    parent: Int, startMs: Long, var endMs: Long = 0L, var nanos: Long = 0L)

/** Counters of one span: what its own Spark jobs did (jobs are attributed to
  * the innermost open span through a local property) and the Catalyst
  * phases of every query execution that started inside it. */
final class Counters {
  var jobs, stages, tasks, aqeReplans, executions = 0L
  var execRunMs, gcMs, shuffleWrite, shuffleRead, spill, outBytes = 0L
  var execCpuNs = 0L
  var analysisMs, optimizerMs, physicalMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans kept in memory plus the two listeners that fill their counters.
  * With `enabled = false` every call is a plain pass-through: untraced runs
  * register no listener and record nothing. */
final class Tracer(val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextOp = 0

  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val aqeByExec = new ConcurrentHashMap[Long, java.lang.Long]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val phases = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  def of(spanId: Int): Counters = counters.computeIfAbsent(spanId, _ => new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      sid.map(_.toInt).foreach { s =>
        jobSpan.put(e.jobId, s)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.put(x.toLong, s))
        of(s).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { s =>
        of(s).jobIntervals += ((jobStart.get(e.jobId), e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => of(s).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = of(s)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.execRunMs += m.executorRunTime
          c.execCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outBytes += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        aqeByExec.merge(u.executionId, 1L, (a, b) => a + b)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      phases.synchronized {
        phases += ((start, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
  }

  /** Register the listeners on a session (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver every queued listener event before counters are read. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def newOp(): Int = { nextOp += 1; nextOp }

  /** Time `body` as a span of `layer`; returns its value and wall seconds. */
  def span[T](spark: SparkSession, op: Int, layer: String, name: String)(body: => T): (T, Double) = {
    val parent = stack.headOption
    val s = Span(spans.size + 1, op, name, layer, parent.map(_.id).getOrElse(0),
      System.currentTimeMillis())
    val sc: SparkContext = spark.sparkContext
    if (enabled) {
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
    }
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.nanos = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      if (enabled) {
        stack.pop()
        if (!sc.isStopped)
          sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }
  }

  /** Attribute query-execution phases and AQE re-plans to spans. Phases go
    * to the innermost span whose window holds the execution's first phase. */
  def settle(): Unit = if (enabled) {
    phases.synchronized {
      phases.foreach { case (start, a, o, p) =>
        spans.filter(s => s.startMs <= start && start <= s.endMs)
          .sortBy(s => s.endMs - s.startMs).headOption.foreach { s =>
            val c = of(s.id)
            c.executions += 1; c.analysisMs += a; c.optimizerMs += o; c.physicalMs += p
          }
      }
      phases.clear()
    }
    aqeByExec.asScala.foreach { case (ex, n) =>
      Option(execSpan.get(ex)).foreach(s => of(s).aqeReplans += n)
    }
    aqeByExec.clear()
  }

  /** Wall seconds of `s` minus its direct children. */
  def selfSeconds(s: Span): Double =
    (s.nanos - spans.filter(_.parent == s.id).map(_.nanos).sum) / 1e9

  /** Seconds of the span's wall time during which none of its jobs ran. */
  def driverGapSeconds(s: Span): Double = {
    val iv = of(s.id).jobIntervals.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { covered += math.max(0L, hi - lo); lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    covered += math.max(0L, hi - lo)
    math.max(0.0, s.nanos / 1e9 - covered / 1e3)
  }
}
