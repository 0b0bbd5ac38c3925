package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A named figure in the human report: value, unit and the number of
  * samples behind it. */
final case class Figure(name: String, value: Double, unit: String, samples: Int)

/** Everything one workload run hands back to [[Main]]. */
final class Outcome {
  /** Wall seconds of each measured operation (hour, query, batch). */
  val opSeconds = mutable.ArrayBuffer.empty[Double]
  /** Input items (events, queries, rows) and the op seconds they took. */
  var items = 0.0
  var itemSeconds = 0.0
  var attempted = 0
  /** Operations that threw or whose output failed a check. */
  val failedOps = mutable.LinkedHashSet.empty[String]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Workload-specific end-to-end figures (report only). */
  val figures = mutable.ArrayBuffer.empty[Figure]
  /** Module-specific per-layer figures (traced run, report only). */
  val layers = mutable.ArrayBuffer.empty[Figure]
  /** Per-operation accounting lines of the traced run. */
  val opLines = mutable.ArrayBuffer.empty[String]
  /** Per-layer metrics every workload reports (traced run, JSON). */
  val generic = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Facts worth reporting that are not failures. */
  val findings = mutable.ArrayBuffer.empty[String]
  var warmupS = 0.0
  /** Operations the traced run's per-layer means are taken over. */
  var tracedOps = 0
  var liveHeapMb = Double.NaN

  def fail(op: String, msg: String): Unit = {
    failedOps += op
    errors += s"$op: $msg"
  }
}

/** Shared run context. `genSeconds` accumulates input generation time,
  * which is excluded from `setup_s`. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val seconds: Int,
    val workDir: String,
    val cacheDir: String,
    val goldenDir: String,
    val recordGolden: Boolean,
    val processStartMs: Long) {

  var genSeconds = 0.0
  var setupS = Double.NaN

  def trace: Boolean = tracer.enabled

  /** A progress line on standard error: seconds since process start. */
  def progress(what: String): Unit = Harness.progress(processStartMs, what)

  /** Generate (or reuse) inputs; the time is kept out of `setup_s`. */
  def generating[T](body: => T): T = {
    val (r, s) = Harness.time(body)
    genSeconds += s
    progress(f"inputs ready ($s%.1f s generating)")
    r
  }

  /** Call once, immediately before the first timed operation. */
  def markFirstOp(): Unit =
    if (setupS.isNaN) {
      setupS = (System.currentTimeMillis() - processStartMs) / 1000.0 - genSeconds
      progress("first measured operation")
    }

  def goldenFile(workload: String): java.io.File =
    new java.io.File(s"$goldenDir/$workload-s$seed.json")
}

trait Workload {
  def name: String
  def run(ctx: Ctx, out: Outcome): Unit
}
