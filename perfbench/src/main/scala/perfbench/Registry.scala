package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry

/** The `registry_mix` workload: the program's catalog over one small
  * seeded corpus (sf 0.02: 1,000 documents, 400 embeddings). A fixed,
  * family-stratified slice of `SparkEntry.queries` runs in name order,
  * each query forced so every output value is computed, followed by the
  * streaming curation paths of [[StreamPaths]]. Unmeasured warm passes
  * over both run first; then one measured query pass per 8 s of
  * `--seconds` (at least one) and the measured stream pass. The
  * operation is one query or one micro-batch.
  *
  * The slice takes sub-second queries from every registry family, where
  * driver planning, job scheduling and adaptive execution dominate (the
  * fixed-cost tail), plus the two curation-set queries that run in one
  * to two seconds at this size. A pass over all 125 queries, or over the
  * whole curation set, takes minutes at any corpus size, more than one
  * benchmark run can afford; for the same reason the workload leaves
  * out `tools.AtRestBuilds`, and the memos its queries use are built in
  * the warm pass. */
object RegistryMix extends Workload {
  val name = "registry_mix"
  val sf = 0.02

  /** Curation-set queries in the slice (the `ext` layer). */
  val curationSet: Seq[String] = Seq("docs_dsir_weights", "emb_knn_ivf")

  val queries: Seq[String] = (curationSet ++ Seq(
    "q3_shipping_priority", "q_json_props", "q6_forecast_revenue", "etl_keygen",
    "docs_fingerprint", "q_salted_join", "docs_domain_cap")).sorted

  def families: Map[String, String] =
    Seq("analytics" -> graft.AnalyticsQueries.registry, "analytics_ds" -> graft.AnalyticsDsQueries.registry,
      "etl" -> graft.EtlQueries.registry, "llm" -> graft.LlmQueries.registry,
      "scale" -> graft.ScaleQueries.registry, "curation" -> graft.CurationQueries.registry)
      .flatMap { case (f, reg) => reg.keys.map(_ -> f) }.toMap

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    // Generated in this JVM on every run, never cached: its Spark jobs
    // warm the engine before the warm pass, so a cached corpus would make
    // `setup_s` depend on whether the seed ran before.
    val dir = new File(ctx.workDir, "corpus")
    ctx.generating(new Corpus(spark, ctx.seed, sf).materialize(dir, graft.Tables.all))
    val sfDir = dir.getAbsolutePath
    val registry = SparkEntry.queries

    val t0 = System.nanoTime()
    def forced(q: String): Either[String, (Long, Long)] =
      registry.get(q) match {
        case None => Left("not in SparkEntry.queries")
        case Some(fn) =>
          try Right(Hashes.forced(fn(spark, sfDir)))
          catch { case e: Exception => Left(e.toString.take(300)) }
      }
    val reference = queries.map(q => q -> forced(q)).toMap
    ctx.progress("query warm pass done")
    val (streamIn, streamWarm) = StreamPaths.warm(ctx, sfDir, out)
    out.warmupS = Harness.secondsSince(t0)

    val samples = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val unstable = mutable.LinkedHashSet.empty[String]
    ctx.markFirstOp()
    val passes = math.max(1, math.round(ctx.seconds / 8.0).toInt)
    for (_ <- 1 to passes) {
      queries.foreach { q =>
        out.attempted += 1
        val (r, s) = Harness.time(ctx.tracer.span(q, "registry")(forced(q)))
        samples(q) += s
        (r, reference(q)) match {
          case (Left(e), _) => out.fail(q, e)
          case (Right(got), Right(ref)) if got != ref =>
            if (got._1 != ref._1) out.fail(q, s"rows ${got._1} differ from the warm pass's ${ref._1}")
            else unstable += q
          case (Right(_), Left(e)) => out.fail(q, s"warm pass failed: $e")
          case _ => ()
        }
      }
    }
    val all = samples.values.flatten.toSeq
    out.opSeconds ++= all
    out.items += all.size
    out.itemSeconds += all.sum
    StreamPaths.measure(ctx, streamIn, streamWarm, out)
    out.liveHeapMb = Harness.liveHeapMb()
    ctx.progress("last operation done")
    unstable.foreach(q => out.findings += s"$q: output hash differs between passes of one run")

    out.figures += Figure("query_p50_s", Stats.median(all), "s", all.size)
    if (Stats.beyond(all, 0.9) >= 10)
      out.figures += Figure("query_p90_s", Stats.percentile(all, 0.9), "s", all.size)
    else out.findings += s"query_p90_s not reported: ${Stats.beyond(all, 0.9)} of ${all.size} samples lie beyond it (needs 10)"
    out.figures += Figure("registry_total_s", all.sum / passes, "s", passes)
    samples.foreach { case (q, xs) => out.figures += Figure(s"query.${q}_s", Stats.median(xs.toSeq), "s", xs.size) }

    checkGolden(ctx, out, reference, unstable.toSet)

    if (ctx.trace) {
      val fam = families
      fam.values.toSeq.distinct.sorted.foreach { f =>
        val qs = queries.filter(fam.get(_).contains(f))
        if (qs.nonEmpty)
          out.layers += Figure(s"registry.${f}_s", qs.map(q => samples(q).sum).sum / passes, "s", passes)
      }
      curationSet.foreach(q => out.layers += Figure(s"curation.${q}_s", Stats.median(samples(q).toSeq), "s", passes))
      Layers.analyze(ctx.tracer).report(out)
    }
  }

  /** Compare the warm pass's (rows, hash) per query with the values
    * committed for this seed, or record them. */
  private def checkGolden(ctx: Ctx, out: Outcome, reference: Map[String, Either[String, (Long, Long)]],
      unstable: Set[String]): Unit = {
    val file = ctx.goldenFile(name)
    if (ctx.recordGolden) {
      val body = queries.map { q =>
        val v = reference(q) match {
          case Right((n, h)) => Seq(n.toString, if (unstable(q)) "*" else h.toString)
          case Left(_) => Seq("-1", "*")
        }
        "  " + Json.str(q) + ": [" + v.mkString(", ") + "]"
      }.mkString("{\n", ",\n", "\n}\n")
      file.getParentFile.mkdirs()
      Files.write(file.toPath, body.getBytes(StandardCharsets.UTF_8))
      out.findings += s"recorded ${file.getName}"
    } else if (!file.exists())
      out.findings += s"no committed query outputs for seed ${ctx.seed}: checked the measured passes against the warm pass only"
    else {
      val golden = Json.parseGolden(new String(Files.readAllBytes(file.toPath), StandardCharsets.UTF_8))
      QueryCheck.compare(golden, reference).foreach { case (q, m) => out.fail(q, m) }
    }
  }
}

/** The query output check as a pure function, so the self-test can
  * hand it a perturbed hash. */
object QueryCheck {
  def compare(golden: Map[String, Seq[String]],
      got: Map[String, Either[String, (Long, Long)]]): Seq[(String, String)] =
    (golden.keySet -- got.keySet).toSeq.sorted.map(_ -> "committed output not produced by this run") ++
    got.toSeq.sortBy(_._1).flatMap {
      case (q, Left(e)) => Seq(q -> e)
      case (q, Right((n, h))) => golden.get(q) match {
        case None => Seq(q -> "no committed output for this query")
        case Some(Seq(gn, gh)) =>
          if (gn.toLong != n) Seq(q -> s"$n rows, committed $gn")
          else if (gh != "*" && gh.toLong != h) Seq(q -> s"output hash $h, committed $gh")
          else Nil
        case Some(other) => Seq(q -> s"malformed committed value $other")
      }
    }
}
