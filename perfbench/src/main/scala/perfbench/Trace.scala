package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds (as a
  * double, sub-ms from the monotonic clock) so they line up with the
  * Spark listener's job and task timestamps. `op` is the id of the
  * top-level operation span the call belongs to. */
final case class Span(
    id: Int, name: String, layer: String, parent: Int, op: Int,
    start: Double, var end: Double = Double.NaN)

/** Per-stage task totals gathered from `onTaskEnd`. */
final class StageAcc {
  var span = -1
  var submitted = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var outRecords = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(
    id: Int, span: Int, start: Long, var end: Long, ownLayer: String, stages: Seq[Int],
    execution: Option[Long])

/** The benchmark's tracer. With tracing off every method is a plain
  * call-through: no listener is registered and no local property is
  * set, so the untraced run measures the program alone.
  *
  * With tracing on, [[span]] wraps each call the benchmark makes into
  * a layer and sets the `perfbench.span` local property, which every
  * Spark job started inside the call inherits. Three listeners on the
  * session attribute engine work to spans from outside the program:
  * a `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (analysis/optimization/planning phases) and a
  * `StreamingQueryListener` (micro-batch progress). Spans stay in
  * memory until [[finish]]. */
final class Tracer(val spark: SparkSession, val enabled: Boolean) {

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** Layer of each SQL execution, from the call site its start event
    * records (the thread that ran the action). Jobs that adaptive
    * execution submits from its own threads carry no program frame;
    * they take the layer of their execution. */
  val executionLayer = new ConcurrentHashMap[Long, String]()
  def layerOf(j: JobRec): String =
    j.execution.flatMap(e => Option(executionLayer.get(e))).filter(_ != "engine")
      .getOrElse(j.ownLayer)
  val stages = new ConcurrentHashMap[Int, StageAcc]()
  /** (phase start ms, planning ms) per successful query execution. */
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val sc = spark.sparkContext

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val details = e.stageInfos.map(_.details).mkString("\n")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time, -1L,
        Tracer.layerOfCallSite(details), e.stageIds, exec))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executionLayer.put(s.executionId, Tracer.layerOfCallSite(s.details))
      case _ => ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val acc = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.span = span
        acc.submitted = e.stageInfo.submissionTime.getOrElse(-1L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m == null || info == null) return
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.diskBytesSpilled
        acc.input += m.inputMetrics.bytesRead
        acc.output += m.outputMetrics.bytesWritten
        acc.outRecords += m.outputMetrics.recordsWritten
        acc.durations += info.duration
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        planning.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  private var nextId = 0

  /** Time `body` as a span named `name` in `layer`. A span opened with
    * no span open is a top-level operation. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, name, layer, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(nextId), nowMs)
      nextId += 1
      spans += s
      stack.push(s)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  /** The span currently open, if any. */
  def current: Option[Span] = stack.headOption

  /** Wait until every listener event posted so far is delivered, then
    * detach the listeners. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchInternals.drainListeners(sc)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(jobListener)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Layer of a Spark job from its call site: the innermost frame of
    * the program (package `graft`) named in the stage details. The ETL
    * files map onto the product's roles (the ingestor's staging write
    * is source work, the handler's pipeline count is operator work,
    * the upsert is sink work, store reads and appends are metadata);
    * any other frame maps to its module, the package under `graft`. */
  def layerOfCallSite(details: String): String = {
    val frame = details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.jobs.Executor"))
    frame match {
      case None => "engine"
      case Some(f) =>
        val file = f.substring(f.lastIndexOf('(') + 1).takeWhile(_ != ':')
        file match {
          case "IngestorJob.scala" | "JsonLinesSource.scala" => "sources"
          case "HandlerJob.scala" => "operators"
          case "ParquetUpsertSink.scala" => "sinks"
          case "MonitorStore.scala" => "meta"
          case _ =>
            val pkg = f.split('.').toSeq
            if (pkg.length > 2 && pkg(1).headOption.exists(_.isLower)) pkg(1) else "graft"
        }
    }
  }
}
