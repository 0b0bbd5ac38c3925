package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --bench-dir <dir>`.
  *
  * Prints a human report, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`. Untraced runs report
  * the end-to-end metrics, traced runs the per-layer metrics. The exit
  * code is 0 only when every output check passed. */
object Main {

  val workloads: Seq[Workload] = Seq(EtlHourly, RegistryMix)

  /** End-to-end metrics every workload reports: name → unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "items_per_s" -> "1/s", "live_heap_mb" -> "MB")

  /** Per-layer metrics every workload reports from its traced run. */
  val perLayer: Seq[(String, String)] =
    Seq("setup.session_s" -> "s", "trace.op_wall_s" -> "s") ++ Layers.engineUnits

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      benchDir: String, recordGolden: Boolean)

  def parse(argv: Seq[String]): Args = {
    def loop(rest: List[String], m: Map[String, String]): Map[String, String] = rest match {
      case Nil => m
      case "--record-golden" :: t => loop(t, m + ("record-golden" -> "1"))
      case k :: v :: t if k.startsWith("--") => loop(t, m + (k.drop(2) -> v))
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = loop(argv.toList, Map.empty)
    val a = Args(m("workload"), m.getOrElse("seed", "1").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("bench-dir"), m.contains("record-golden"))
    require(workloads.exists(_.name == a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv.toIndexedSeq)
    val bench = new File(args.benchDir).getAbsoluteFile
    val work = new File(bench, s".work/${args.workload}-${ProcessHandle.current().pid()}")
    Harness.deleteRecursively(work)
    work.mkdirs()
    val ok =
      try runOnce(args, bench, work, startMs)
      finally Harness.deleteRecursively(work)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  private def runOnce(args: Args, bench: File, work: File, startMs: Long): Boolean = {
    val wl = workloads.find(_.name == args.workload).get
    val (spark, sessionS) = Harness.time(Harness.session(work.getPath))
    val tracer = new Tracer(spark, args.trace)
    val ctx = new Ctx(spark, tracer, args.seed, args.seconds, work.getPath,
      new File(bench, ".cache").getPath, new File(bench, "golden").getPath,
      args.recordGolden, startMs)
    val out = new Outcome
    ctx.progress("session ready")
    try wl.run(ctx, out)
    catch {
      case e: Exception =>
        out.fail("run", e.toString.take(500))
        e.printStackTrace()
    }
    ctx.progress("workload done")
    tracer.finish()
    spark.stop()
    ctx.progress("session stopped")

    val correct = out.errors.isEmpty && out.attempted > 0
    println(s"perfbench workload=${wl.name} seed=${args.seed} seconds=${args.seconds} " +
      s"trace=${if (args.trace) 1 else 0} cores=${Harness.cores}")
    val e2e = Map(
      "setup_s" -> ctx.setupS,
      "op_p50_s" -> (if (out.opSeconds.isEmpty) Double.NaN else Stats.median(out.opSeconds.toSeq)),
      "items_per_s" -> out.items / out.itemSeconds,
      "live_heap_mb" -> out.liveHeapMb)
    val n = out.opSeconds.size
    def line(kind: String, name: String, v: Double, unit: String, samples: Int) =
      println(f"$kind%-7s $name%-40s ${Json.num(v)}%-22s $unit%-9s n=$samples")
    endToEnd.foreach { case (k, u) =>
      line("metric", k, e2e(k), u, if (k == "op_p50_s" || k == "items_per_s") n else 1)
    }
    line("metric", "op_error_rate", out.failedOps.size.toDouble / math.max(1, out.attempted),
      "ratio", out.attempted)
    out.figures.foreach(f => line("figure", f.name, f.value, f.unit, f.samples))
    line("figure", "setup.session_s", sessionS, "s", 1)
    line("figure", "setup.warmup_s", out.warmupS, "s", 1)
    val resultsDir = new File(bench, ".out")
    val last = new File(resultsDir, s"e2e-${wl.name}-s${args.seed}.json")
    if (args.trace) {
      out.generic("setup.session_s") = (sessionS, "s")
      out.layers.foreach(f => line("layer", f.name, f.value, f.unit, f.samples))
      out.generic.foreach { case (k, (v, u)) => line("layer", k, v, u, out.tracedOps) }
      out.opLines.foreach(l => println(s"op      $l"))
      overhead(last, e2e)
    } else if (correct) {
      resultsDir.mkdirs()
      Files.write(last.toPath, Json.render(e2e).getBytes(StandardCharsets.UTF_8))
    }
    out.findings.foreach(f => println(s"finding $f"))
    out.errors.foreach(e => println(s"error   $e"))

    val metrics =
      if (args.trace) perLayer.map { case (k, u) =>
        k -> Map("value" -> out.generic.get(k).map(_._1).getOrElse(Double.NaN), "unit" -> u)
      }
      else endToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct,
      "attempted" -> out.attempted,
      "failed" -> out.failedOps.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    correct
  }

  /** Tracing overhead: traced minus untraced end-to-end figures of the
    * same workload and seed, when an untraced run left its figures. */
  private def overhead(last: File, traced: Map[String, Double]): Unit =
    if (!last.exists()) println("trace   overhead: no untraced run of this workload and seed to compare")
    else {
      val text = new String(Files.readAllBytes(last.toPath), StandardCharsets.UTF_8)
      Seq("setup_s", "op_p50_s").foreach { k =>
        val m = ("\"" + k + "\":([-0-9.eE]+)").r.findFirstMatchIn(text)
        m.foreach { mm =>
          val u = mm.group(1).toDouble
          println(f"trace   overhead $k%-12s traced=${traced(k)}%.4f untraced=$u%.4f " +
            f"delta=${traced(k) - u}%+.4f s (${(traced(k) - u) / u * 100}%+.1f%%)")
        }
      }
    }
}
