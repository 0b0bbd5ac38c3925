package graft.obs

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One stage's task totals. `name` is the stage's RDD operation scopes
  * (the physical operators it runs: Exchange, SortAggregate, ...) plus
  * the first `graft.` frame of its call site — under AQE the stage name
  * alone is a thread-capture call site, and the RDD type names read
  * "MapPartitionsRDD,ShuffledRowRDD" for every stage. Max and median
  * are over the tasks' executor run times. */
final case class Stage(
    id: Int, name: String, submittedMs: Long,
    tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    memSpillBytes: Long, diskSpillBytes: Long,
    maxTaskMs: Long, medianTaskMs: Double) {

  /** The additive totals less `before`'s, for a stage whose tasks
    * straddle two snapshots; max and median stay the whole stage's. */
  def minus(before: Stage): Stage = copy(
    tasks = tasks - before.tasks, runMs = runMs - before.runMs,
    cpuNs = cpuNs - before.cpuNs, gcMs = gcMs - before.gcMs,
    inputBytes = inputBytes - before.inputBytes,
    shuffleReadBytes = shuffleReadBytes - before.shuffleReadBytes,
    shuffleWriteBytes = shuffleWriteBytes - before.shuffleWriteBytes,
    memSpillBytes = memSpillBytes - before.memSpillBytes,
    diskSpillBytes = diskSpillBytes - before.diskSpillBytes)
}

/** One job's wall interval (epoch ms; `endMs` is -1 while running). */
final case class Job(id: Int, startMs: Long, endMs: Long)

/** One Dataset action's planning phases (analysis, optimization,
  * planning, ...) in ms, from `QueryExecution.tracker.phases`. */
final case class Action(name: String, startMs: Long, phasesMs: Map[String, Long])

/** Cumulative totals at one instant. Only differences mean anything:
  * `after.since(before)` is the window between the two. */
final case class Snapshot(
    stages: Map[Int, Stage], jobs: Map[Int, Job], actions: Vector[Action]) {

  def since(before: Snapshot): Window = Window(
    stages.valuesIterator.flatMap { s =>
      before.stages.get(s.id) match {
        case None => Some(s)
        case Some(b) if b.tasks < s.tasks => Some(s.minus(b))
        case _ => None
      }
    }.toSeq.sortBy(_.id),
    jobs.valuesIterator.filterNot(j => before.jobs.contains(j.id)).toSeq.sortBy(_.id),
    actions.drop(before.actions.size))
}

/** What ran between two snapshots. */
final case class Window(stages: Seq[Stage], jobs: Seq[Job], actions: Seq[Action]) {
  def tasks: Long = stages.map(_.tasks).sum
  def runS: Double = stages.map(_.runMs).sum / 1e3
  def cpuS: Double = stages.map(_.cpuNs).sum / 1e9
  def gcS: Double = stages.map(_.gcMs).sum / 1e3
  def inputBytes: Long = stages.map(_.inputBytes).sum
  def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def memSpillBytes: Long = stages.map(_.memSpillBytes).sum
  def diskSpillBytes: Long = stages.map(_.diskSpillBytes).sum

  /** Planning seconds per phase, summed over the window's actions. */
  def phasesS: Map[String, Double] =
    actions.flatMap(_.phasesMs).groupMapReduce(_._1)(_._2 / 1e3)(_ + _)
  def planningS: Double = phasesS.values.sum

  /** Seconds during which at least one job ran (concurrent jobs, e.g.
    * AQE broadcast builds, count once). */
  def jobsWallS: Double = {
    var covered = 0L
    var reach = Long.MinValue
    jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach {
      case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered / 1e3
  }

  /** The worst max/median task-time ratio over stages of two or more
    * tasks; 1 when no stage qualifies. */
  def skew: Double = stages.filter(_.tasks >= 2).map { s =>
    if (s.medianTaskMs > 0) s.maxTaskMs / s.medianTaskMs else 1.0
  }.foldLeft(1.0)(math.max)

  /** The stages submitted in [fromMs, toMs), with the jobs started and
    * actions planned in it. */
  def submittedIn(fromMs: Long, toMs: Long): Window = {
    def in(t: Long) = t >= fromMs && t < toMs
    Window(stages.filter(s => in(s.submittedMs)), jobs.filter(j => in(j.startMs)),
      actions.filter(a => in(a.startMs)))
  }

  def topStages(n: Int): Seq[Stage] = stages.sortBy(-_.runMs).take(n)

  /** The stages that spilled, worst memory spill first. */
  def topSpillStages(n: Int): Seq[Stage] =
    stages.filter(s => s.memSpillBytes > 0 || s.diskSpillBytes > 0)
      .sortBy(-_.memSpillBytes).take(n)

  /** The `layers` block: one JSON object splitting the window into
    * planning and execution. */
  def json: String = {
    def r3(d: Double) = math.rint(d * 1000) / 1000
    def mb(b: Long) = math.rint(b / 1048576.0 * 10) / 10
    def esc(s: String) = s.replaceAll("[\"\\\\\\n\\r\\t]", " ")
    val phases = phasesS.toSeq.sorted
      .map { case (k, v) => "\"" + esc(k) + "\":" + r3(v) }.mkString("{", ",", "}")
    val top = topStages(3).map { s =>
      s"""{"stage":${s.id},"tasks":${s.tasks},"run_s":${r3(s.runMs / 1e3)},""" +
        s""""name":"${esc(s.name)}"}"""
    }.mkString("[", ",", "]")
    s"""{"planning_s":${r3(planningS)},"phases_s":$phases,""" +
      s""""actions":${actions.size},"jobs":${jobs.size},"jobs_wall_s":${r3(jobsWallS)},""" +
      s""""stages":${stages.size},"tasks":$tasks,""" +
      s""""task_run_s":${r3(runS)},"task_cpu_s":${r3(cpuS)},"gc_s":${r3(gcS)},""" +
      s""""input_mb":${mb(inputBytes)},"shuffle_read_mb":${mb(shuffleReadBytes)},""" +
      s""""shuffle_write_mb":${mb(shuffleWriteBytes)},""" +
      s""""mem_spill_mb":${mb(memSpillBytes)},"disk_spill_mb":${mb(diskSpillBytes)},""" +
      s""""skew":${r3(skew)},"top_stages":$top}"""
  }
}

/** The one task-metrics listener: per stage, task totals and max /
  * median task time; per job, wall interval; per action, planning
  * phases. It keeps cumulative totals only — there is no reset — and
  * a measurement is the difference of two [[snapshot]]s, each taken
  * after the listener bus has delivered every event posted so far, so
  * a window can neither miss its own late task ends nor absorb an
  * earlier window's.
  *
  * A tool attaches it to its own session ([[Probe.attach]]); nothing
  * registers it globally, so sessions that do not measure carry no
  * listener. */
final class Probe private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  private final class StageAcc(val id: Int) {
    var name = ""
    var submittedMs = -1L
    var tasks, runMs, cpuNs, gcMs = 0L
    var input, shuffleRead, shuffleWrite, memSpill, diskSpill = 0L
    // task run times until the stage completes, then only max/median
    var runTimes = mutable.ArrayBuffer.empty[Long]
    var maxMs = 0L
    var medianMs = 0.0

    def settle(): Unit = if (runTimes != null) {
      val (mx, md) = Probe.maxMedian(runTimes)
      maxMs = mx; medianMs = md
      runTimes = null
    }

    def freeze: Stage = {
      val (mx, md) =
        if (runTimes == null) (maxMs, medianMs) else Probe.maxMedian(runTimes)
      Stage(id, name, submittedMs, tasks, runMs, cpuNs, gcMs, input,
        shuffleRead, shuffleWrite, memSpill, diskSpill, mx, md)
    }
  }

  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private var jobs = Map.empty[Int, Job]
  private var actions = Vector.empty[Action]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAcc(id))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val scopes = info.rddInfos.flatMap(i => Option(i.scope).flatten.map(_.name)).distinct
    val site = info.details.linesIterator.find(_.contains("graft.")).getOrElse("").trim
    synchronized {
      val acc = stage(info.stageId)
      acc.name = (scopes.mkString(",") + " @ " + site).take(300)
      acc.submittedMs = info.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val acc = stage(e.stageId)
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.input += m.inputMetrics.bytesRead
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.memSpill += m.memoryBytesSpilled
      acc.diskSpill += m.diskBytesSpilled
      if (acc.runTimes != null) acc.runTimes += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stage(e.stageInfo.stageId).settle())

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += e.jobId -> Job(e.jobId, e.time, -1L) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobs.get(e.jobId).foreach(j => jobs += j.id -> j.copy(endMs = e.time)) }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    val a = Action(funcName, start, phases.map { case (k, p) => k -> p.durationMs })
    synchronized { actions :+= a }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  /** Wait until every listener event posted so far is delivered, then
    * copy the totals. */
  def snapshot(): Snapshot = {
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    synchronized {
      Snapshot(stages.valuesIterator.map(s => s.id -> s.freeze).toMap, jobs, actions)
    }
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Probe {

  /** A new probe listening to `spark`'s context and actions. */
  def attach(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  private def maxMedian(xs: mutable.ArrayBuffer[Long]): (Long, Double) =
    if (xs.isEmpty) (0L, 0.0)
    else {
      val s = xs.toArray.sorted
      val n = s.length
      (s(n - 1), if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0)
    }
}
