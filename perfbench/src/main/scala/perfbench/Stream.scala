package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.StreamingEtl
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming part of `registry_mix`: streaming curation paths of
  * `streaming.StreamingEtl` (the twins `tools.StreamBench` drives),
  * fed fixed-size micro-batches (`batchDocs` documents) of the
  * workload's seeded documents.
  * Each batch after the first re-sends a fifth of the previous batch as
  * exact duplicates. The paths cover the three streaming mechanisms:
  * the state store (exact dedup), watermarked state eviction (bounded
  * dedup) and a `foreachBatch` parquet sink fed by stateful dedup
  * (curation). The other twins `tools.StreamBench` drives (DSIR
  * scoring, domain caps, semantic dedup and decontamination) are left
  * out to keep a run near a minute.
  *
  * A pass starts every path from empty state and feeds it all batches;
  * one short unmeasured pass warms the JVM first. The operation is one
  * micro-batch (`processAllAvailable` after adding its rows). Paths
  * that return a frame get a sink that computes, inside the batch, the
  * row count and order-free hash of the batch's output; the curation
  * path writes parquet partitioned by batch id, read back after the
  * pass. */
object StreamPaths {
  val batches = 3
  val batchDocs = 100
  val warmBatches = 1
  private var rowsFed = 0L

  /** Output (rows, hash) per path and batch of one pass. */
  type PassOut = mutable.LinkedHashMap[String, IndexedSeq[(Long, Long)]]

  final class Inputs(ctx: Ctx, dir: String) {
    private val spark = ctx.spark
    import spark.implicits._
    val docs: Seq[(Long, String)] = graft.Tables(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)].collect().toSeq.sortBy(_._1)
    private val slices = docs.grouped(batchDocs).take(batches).toSeq
    val docBatches: Seq[Seq[(Long, String)]] = slices.zipWithIndex.map { case (s, i) =>
      if (i == 0) s else s ++ slices(i - 1).take(slices(i - 1).length / 5)
    }
    private val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val stamped: Seq[Seq[(Long, String, java.sql.Timestamp)]] = docBatches.zipWithIndex.map { case (b, i) =>
      val ts = java.sql.Timestamp.from(t0.plusSeconds(60L * i))
      b.map { case (id, text) => (id, text, ts) }
    }
    val evalDocs: DataFrame = docs.take(math.max(10, docs.length / 100)).toDF("doc_id", "text")

    /** Distinct document texts fed to the stream: the exact-dedup
      * path's expected output row count (the corpus text is already in
      * the fingerprint's normal form: lower-case words, single spaces). */
    def distinctTexts(n: Int): Int = docBatches.take(n).flatten.map(_._2).distinct.size
  }

  /** Build the inputs and run the unmeasured warm pass. */
  def warm(ctx: Ctx, dir: String, out: Outcome): (Inputs, PassOut) = {
    val in = new Inputs(ctx, dir)
    (in, onePass(ctx, in, "warm", warmBatches, measure = None, out))
  }

  /** Measured passes, output checks, and the streaming figures. */
  def measure(ctx: Ctx, in: Inputs, warm: PassOut, out: Outcome): Unit = {
    val passes = math.max(1, math.round(ctx.seconds / 20.0).toInt)
    val perPath = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val first = out.opSeconds.size
    rowsFed = 0L
    val outs = (1 to passes).map(p => onePass(ctx, in, s"p$p", batches, Some(perPath), out))

    // every pass agrees with the warm pass on its batches and with pass
    // 1; the exact-dedup path emits one row per distinct text
    outs.zipWithIndex.foreach { case (o, i) =>
      o.foreach { case (path, vs) =>
        warm.get(path).foreach { w =>
          if (vs.take(w.size) != w)
            out.findings += s"$path: pass ${i + 1} output differs from the warm pass on the first ${w.size} batches"
        }
        if (i > 0 && outs(0)(path) != vs) out.findings += s"$path: pass ${i + 1} output differs from pass 1"
      }
      val dedupRows = o("dedup_doc").map(_._1).sum
      val expected = in.distinctTexts(batches)
      if (dedupRows != expected)
        out.fail(s"dedup_doc.p${i + 1}", s"$dedupRows rows emitted, expected $expected distinct texts")
    }
    checkGolden(ctx, out, outs.head)

    val mine = out.opSeconds.drop(first).toSeq
    out.figures += Figure("stream_batch_p50_s", Stats.median(mine), "s", mine.size)
    out.figures += Figure("stream_rows_per_s", rowsFed / mine.sum, "rows/s", mine.size)
    if (ctx.trace) {
      perPath.foreach { case (p, xs) => out.layers += Figure(s"stream.$p.batch_s", Stats.median(xs.toSeq), "s", xs.size) }
      val prog = ctx.tracer.progress.asScala.toSeq.filter(_.numInputRows > 0)
      def meanMs(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum /
        math.max(1, prog.size)
      Seq("queryPlanning" -> "stream.query_planning_ms", "addBatch" -> "stream.add_batch_ms",
        "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms")
        .foreach { case (k, n) => out.layers += Figure(n, meanMs(k), "ms", prog.size) }
      val state = prog.map(p => (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
      out.layers += Figure("stream.state_rows", state.map(_._1).foldLeft(0L)(math.max).toDouble, "count", prog.size)
      out.layers += Figure("stream.state_mb", state.map(_._2).foldLeft(0L)(math.max) / 1048576.0, "MB", prog.size)
    }
  }

  /** Run every path from empty state over the first `n` batches. With
    * `measure`, each batch is a timed operation. */
  private def onePass(ctx: Ctx, in: Inputs, tag: String, n: Int,
      measure: Option[mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]], out: Outcome): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val res: PassOut = mutable.LinkedHashMap.empty

    def drive[T: Encoder](path: String, feed: Seq[Seq[T]])(
        start: (MemoryStream[T], String) => StreamingQuery): Unit = {
      val input = MemoryStream[T]
      val tmp = new File(ctx.workDir, s"stream/$tag/$path").getAbsolutePath
      val q = start(input, tmp)
      try feed.take(n).zipWithIndex.foreach { case (batch, i) =>
        val op = s"$path.b$i"
        input.addData(batch)
        if (measure.isEmpty) q.processAllAvailable()
        else {
          out.attempted += 1
          val (_, s) = Harness.time(ctx.tracer.span(op, "stream")(q.processAllAvailable()))
          out.opSeconds += s
          out.items += 1
          out.itemSeconds += s
          rowsFed += batch.size
          measure.get.getOrElseUpdate(path, mutable.ArrayBuffer.empty) += s
        }
        q.exception.foreach(e => out.fail(s"$tag.$op", e.toString.take(300)))
      } finally q.stop()
    }

    /** A sink that forces the batch's output and records (rows, hash). */
    def hashing(df: DataFrame, path: String, tmp: String): StreamingQuery = {
      val acc = mutable.ArrayBuffer.empty[(Long, Long)]
      res(path) = IndexedSeq.empty
      df.writeStream.outputMode("update").option("checkpointLocation", tmp + "/ck")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          acc += Hashes.forced(b)
          res(path) = acc.toIndexedSeq
          ()
        }.start()
    }

    /** Per-batch (rows, hash) of a path that writes parquet by batch id. */
    def readBack(path: String, outDir: String): Unit = {
      val byBatch =
        if (new File(outDir).exists()) Hashes.forcedBy(spark.read.parquet(outDir), "__batch_id")
        else Map.empty[Long, (Long, Long)]
      res(path) = (0 until n).map(b => byBatch.getOrElse(b.toLong, (0L, 0L)))
    }

    def docsDf(s: MemoryStream[(Long, String)]) = s.toDS().toDF("doc_id", "text")
    drive("dedup_doc", in.docBatches) { (s, tmp) =>
      hashing(StreamingEtl.dedupDocStream(docsDf(s), "text"), "dedup_doc", tmp)
    }
    drive("dedup_doc_bounded", in.stamped) { (s, tmp) =>
      hashing(StreamingEtl.dedupDocStreamBounded(s.toDS().toDF("doc_id", "text", "ts"), "text", "ts",
        watermark = "25 seconds"), "dedup_doc_bounded", tmp)
    }
    drive("curation", in.docBatches) { (s, tmp) =>
      StreamingEtl.curationStream(docsDf(s), in.evalDocs, "doc_id", "text",
        outDir = tmp + "/out", checkpointDir = tmp + "/ck")
    }
    readBack("curation", new File(ctx.workDir, s"stream/$tag/curation/out").getAbsolutePath)
    res
  }

  /** Compare pass 1's per-batch outputs with the values committed for
    * this seed, or record them. */
  private def checkGolden(ctx: Ctx, out: Outcome, got: PassOut): Unit = {
    val file = ctx.goldenFile("registry_mix-stream")
    val flat = got.toSeq.flatMap { case (p, vs) =>
      vs.zipWithIndex.map { case ((r, h), b) => s"$p.b$b" -> Right((r, h)) }
    }
    if (ctx.recordGolden) {
      val body = flat.map { case (k, Right((r, h))) => "  " + Json.str(k) + s": [$r, $h]" }
        .mkString("{\n", ",\n", "\n}\n")
      file.getParentFile.mkdirs()
      Files.write(file.toPath, body.getBytes(StandardCharsets.UTF_8))
      out.findings += s"recorded ${file.getName}"
    } else if (!file.exists())
      out.findings += s"no committed stream outputs for seed ${ctx.seed}: checked passes against each other and the exact-dedup count only"
    else {
      val golden = Json.parseGolden(new String(Files.readAllBytes(file.toPath), StandardCharsets.UTF_8))
      QueryCheck.compare(golden, flat.toMap[String, Either[String, (Long, Long)]])
        .foreach { case (k, m) => out.fail(k, m) }
    }
  }
}
