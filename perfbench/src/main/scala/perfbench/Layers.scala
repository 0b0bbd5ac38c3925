package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** I/O totals of the jobs attributed to one layer. */
final class LayerIo {
  var input = 0.0
  var output = 0.0
  var shuffle = 0.0
  var outRecords = 0.0
}

/** One traced operation: its wall time, job time per layer, driver
  * time between jobs per innermost span layer, and engine figures. */
final case class OpStat(
    span: Span, wall: Double, jobByLayer: Map[String, Double],
    gapBySpanLayer: Map[String, Double], engine: Map[String, Double]) {
  def gap: Double = gapBySpanLayer.values.sum
}

/** Per-operation attribution of a traced run.
  *
  * Every top-level span is one operation. Its wall time is cut into
  * elementary intervals at every job start and end. An interval in
  * which a Spark job runs counts as self time of that job's layer (the
  * layer its call site names); an interval in which no job runs is
  * driver time between jobs, `engine.driver_gap_s`, and is further
  * split by the innermost span open at that moment. So, per operation,
  * the layer self times plus the driver gap add up to its traced wall
  * time exactly. */
final class Analysis(t: Tracer) {
  private val spans = t.spans.map(s => s.id -> s).toMap
  private val ops = t.spans.filter(_.parent < 0).toSeq
  /** Operation of a job or stage: through the span property it carried,
    * or, for work started on a thread that never saw the property (a
    * streaming query's own thread), the operation running at the time. */
  private def opOf(span: Int, at: Long): Int =
    spans.get(span).map(_.op)
      .orElse(ops.find(o => o.start <= at && at <= o.end).map(_.id))
      .getOrElse(-1)
  private val jobs = t.jobs.values.asScala.toSeq
    .map(j => (j, opOf(j.span, j.start))).filter { case (j, op) => j.end >= 0 && op >= 0 }
  private val stages = t.stages.asScala.toSeq
    .map { case (id, s) => (id, s, opOf(s.span, s.submitted)) }.filter(_._3 >= 0)
  private val planning = t.planning.asScala.toSeq

  val opStats: Seq[OpStat] = ops.map { op =>
    val lo = op.start
    val hi = op.end
    val mine = jobs.filter(_._2 == op.id).map(_._1)
      .map(j => (math.max(lo, j.start.toDouble), math.min(hi, j.end.toDouble), j))
      .filter(x => x._2 > x._1)
    val cuts = (Seq(lo, hi) ++ mine.flatMap(x => Seq(x._1, x._2))).distinct.sorted
    val byLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val gapBy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val opSpans = t.spans.filter(_.op == op.id)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        mine.filter(x => x._1 <= a && x._2 >= b).sortBy(_._3.id).headOption match {
          case Some((_, _, j)) => byLayer(t.layerOf(j)) += (b - a) / 1000
          case None =>
            val mid = (a + b) / 2
            val inner = opSpans.filter(s => s.start <= mid && s.end >= mid).maxBy(_.start)
            gapBy(inner.layer) += (b - a) / 1000
        }
      case _ => ()
    }
    val st = stages.filter(_._3 == op.id).map(_._2)
    def sum(f: StageAcc => Double) = st.map(f).sum
    val skew = st.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.map(_.toDouble).toSeq
      val m = Stats.median(d)
      if (m > 0) d.max / m else 1.0
    }.foldLeft(1.0)(math.max)
    val mb = 1048576.0
    val engine = Map(
      "engine.planning_s" -> planning.filter(p => p._1 >= lo && p._1 <= hi).map(_._2).sum / 1000.0,
      "engine.driver_gap_s" -> gapBy.values.sum,
      "engine.jobs" -> mine.size.toDouble,
      "engine.stages" -> st.size.toDouble,
      "engine.tasks" -> sum(_.tasks.toDouble),
      "engine.scheduler_delay_s" -> sum(_.schedMs / 1000.0),
      "engine.task_run_s" -> sum(_.runMs / 1000.0),
      "engine.task_cpu_s" -> sum(_.cpuNs / 1e9),
      "engine.gc_s" -> sum(_.gcMs / 1000.0),
      "engine.shuffle_write_mb" -> sum(_.shuffleWrite / mb),
      "engine.shuffle_read_mb" -> sum(_.shuffleRead / mb),
      "engine.spill_mb" -> sum(_.spill / mb),
      "engine.input_mb" -> sum(_.input / mb),
      "engine.output_mb" -> sum(_.output / mb),
      "engine.task_skew" -> skew)
    OpStat(op, (hi - lo) / 1000, byLayer.toMap, gapBy.toMap, engine)
  }

  /** Job self seconds of `layer`, summed over every operation. */
  def jobSeconds(layer: String): Double = opStats.map(_.jobByLayer.getOrElse(layer, 0.0)).sum

  /** Task I/O of the stages run by jobs of `layer`. */
  def layerIo(layer: String): LayerIo = {
    val io = new LayerIo
    val stageIds = jobs.map(_._1).filter(j => t.layerOf(j) == layer).flatMap(_.stages).toSet
    stages.filter(x => stageIds(x._1)).foreach { case (_, s, _) =>
      io.input += s.input
      io.output += s.output
      io.shuffle += s.shuffleWrite
      io.outRecords += s.outRecords
    }
    io
  }

  /** Mean per operation of each engine metric; the skew is the median
    * over operations of each operation's worst stage. */
  def engineMeans(of: Seq[OpStat] = opStats): Map[String, Double] =
    if (of.isEmpty) Map.empty
    else of.head.engine.keys.map { k =>
      val xs = of.map(_.engine(k))
      k -> (if (k == "engine.task_skew") Stats.median(xs) else xs.sum / xs.size)
    }.toMap

  /** Fill the traced run's report: one accounting line per operation,
    * the engine figures, and the per-layer JSON metrics. */
  def report(out: Outcome): Unit = {
    def f3(d: Double) = f"$d%.3f"
    opStats.foreach { o =>
      val layers = o.jobByLayer.toSeq.sortBy(_._1).map { case (l, s) => s"$l=${f3(s)}" }
      val gaps = o.gapBySpanLayer.toSeq.sortBy(_._1).map { case (l, s) => s"$l=${f3(s)}" }
      val accounted = o.jobByLayer.values.sum + o.gap
      out.opLines += s"${o.span.name}: wall=${f3(o.wall)} jobs[${layers.mkString(" ")}] " +
        s"engine.driver_gap_s=${f3(o.gap)} [${gaps.mkString(" ")}] accounted=${f3(accounted)} " +
        s"planning=${f3(o.engine("engine.planning_s"))} tasks=${o.engine("engine.tasks").toLong}"
    }
    out.tracedOps = opStats.size
    val means = engineMeans()
    Layers.engineUnits.foreach { case (k, unit) =>
      out.generic(k) = (means.getOrElse(k, 0.0), unit)
    }
    out.generic("trace.op_wall_s") = (opStats.map(_.wall).sum / math.max(1, opStats.size), "s")
  }
}

object Layers {
  def analyze(t: Tracer): Analysis = new Analysis(t)

  val engineUnits: Seq[(String, String)] = Seq(
    "engine.planning_s" -> "s", "engine.driver_gap_s" -> "s", "engine.jobs" -> "count",
    "engine.stages" -> "count", "engine.tasks" -> "count", "engine.scheduler_delay_s" -> "s",
    "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s", "engine.gc_s" -> "s",
    "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB", "engine.spill_mb" -> "MB",
    "engine.input_mb" -> "MB", "engine.output_mb" -> "MB", "engine.task_skew" -> "ratio")
}
