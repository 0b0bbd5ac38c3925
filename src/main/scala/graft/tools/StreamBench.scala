package graft.tools

import graft.obs.Probe
import graft.sinks.ParquetUpsertSink
import graft.streaming.StreamingEtl
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.util.control.NonFatal

/** The streaming bench: the nine streaming twins of
  * [[graft.streaming.StreamingEtl]], fed from STORAGE. A driver-fed
  * MemoryStream embeds every micro-batch as a LocalRelation in the
  * task binary, which caps honest measurement at ~120 k-row batches
  * (at ~300 k rows the 150 MiB batch literal broadcast dominates and
  * the run measures driver-batch serialization, not operators). Here
  * the corpus is written ONCE as batch-sized single-file parquet
  * slices under `sliceRoot`, and each path reads them through
  * `FileStreamSource` with `maxFilesPerTrigger = 1` — one slice per
  * micro-batch, arriving from storage exactly as production batches
  * do, with NO LocalRelation anywhere (the per-path `source` field
  * records the source description as evidence).
  *
  * Per batch it records the rows of the slice it read, Spark's own
  * progress metrics (rows scanned from the source — twice the slice
  * when the plan reads its batch twice — trigger wall, state-store
  * rows) plus the task metrics of the stages the batch submitted
  * (shuffle r/w, memory/disk spill) — the at-scale cells for the state-read-pruning claims: semantic dedup's
  * cluster semi-join against a state table that grows every batch,
  * and the ngram/domain-cap `__batch_id < current` at-rest reads.
  * Progress cannot see at-rest state, so for those paths the
  * per-batch state curve is reconstructed AFTER the run from the
  * `__batch_id` partitions of the state table (batches execute
  * sequentially, so cumulative-rows-at-batch-k is exact).
  *
  * `graft.Bench` embeds [[json]] of a run over its corpus as the
  * detail file's `streaming` section. The CLI measures a rung corpus
  * `workDir/sf<sf>` and writes `FILESTREAM_BENCH_sf<sf>.json`:
  *
  *   sbt "runMain graft.tools.StreamBench [workDir] [sf] [out.json]"
  *
  * Heaviest path (semantic dedup) runs LAST — a top-rung OOM kills
  * local-mode's shared SparkContext, and late placement bounds the
  * blast radius to itself (the ScaleBench ordering lesson). */
object StreamBench {

  final case class BatchPoint(
      batchId: Long, rows: Long, scannedRows: Long, sec: Double, stateRows: Long,
      shuffleWrite: Long, shuffleRead: Long, memSpill: Long, diskSpill: Long)

  final case class PathPoint(
      name: String, source: String, batches: Seq[BatchPoint],
      atRestStateRows: Seq[Long], error: Option[String]) {
    def json: String = {
      def mb(b: Long) = math.rint(b / 1048576.0 * 10) / 10
      val bs = batches.map { b =>
        s"""{"batch_id":${b.batchId},"rows":${b.rows},"scanned_rows":${b.scannedRows},""" +
          s""""sec":${b.sec},""" +
          s""""rows_per_sec":${if (b.sec > 0) (b.rows / b.sec).toLong else 0},""" +
          s""""state_rows":${b.stateRows},""" +
          s""""shuffle_write_mb":${mb(b.shuffleWrite)},""" +
          s""""shuffle_read_mb":${mb(b.shuffleRead)},""" +
          s""""mem_spill_mb":${mb(b.memSpill)},""" +
          s""""disk_spill_mb":${mb(b.diskSpill)}}"""
      }.mkString(",")
      s""""$name":{"source":"${source.replaceAll("[\"\\\\]", "").take(120)}",""" +
        s""""batches":[$bs],""" +
        s""""at_rest_state_rows":[${atRestStateRows.mkString(",")}],""" +
        s""""error":${error.map(e => "\"" +
          e.replaceAll("[\"\\\\\n\r\t]", " ").take(160) + "\"").getOrElse("null")}}"""
    }
  }

  /** One run: the row count of every document and embedding slice, and
    * every path in run order. */
  final case class Run(docRows: Seq[Long], embRows: Seq[Long], paths: Seq[PathPoint])

  private val docBatches = 5

  /** Write `df` as ONE parquet file named `bNN.parquet` inside
    * `streamDir` (FileStreamSource orders by modification time; the
    * sequential writes preserve batch order). A rename or delete that
    * returns false throws, so a missing slice stops the slicing before
    * its marker is written. */
  private def writeSlice(df: DataFrame, streamDir: String, k: Int): Unit = {
    val tmp = new Path(streamDir + f"/_slice_$k%02d")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val fs = tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new Path(tmp, "part-*.parquet")).head.getPath
    ParquetUpsertSink.renameOrThrow(fs, part, new Path(streamDir + f"/b$k%02d.parquet"))
    ParquetUpsertSink.deleteOrThrow(fs, tmp)
  }

  /** Slice `sfDir`'s documents and embeddings under `sliceRoot` (`docs/`,
    * `emb/`) unless its `_DONE` marker already holds this slicing's
    * signature. Returns the row count of each document slice and of
    * each embedding slice, read back from the slice files. */
  private def ensureSlices(
      spark: SparkSession, sfDir: String, sliceRoot: String): (Seq[Long], Seq[Long]) = {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
    val nDocs = docs.count()
    val perDoc = math.max(1L, nDocs / docBatches)
    val emb = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val nEmb = emb.count()
    // batches as large as the document ones for the embedding paths
    // too: fewer slices rather than smaller ones
    val embBatches = math.max(2L, nEmb / perDoc).toInt
    val perEmb = math.max(1L, nEmb / embBatches)
    // cache key = the slicing parameters, not mere existence: a
    // changed batch count or a regenerated corpus must re-slice, or
    // the JSON would label stale slices with the new batch counts
    val marker = new java.io.File(s"$sliceRoot/_DONE")
    val sig = s"docBatches=$docBatches nDocs=$nDocs nEmb=$nEmb"
    val cachedSig =
      if (marker.exists())
        new String(java.nio.file.Files.readAllBytes(marker.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim
      else ""
    if (cachedSig != sig) {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(sliceRoot))
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      // ids are dense 0..n-1 (SynthGen and the registry corpus), so range
      // slicing is exact and id-monotone — the domain-cap/ngram arrival
      // contract
      (0 until docBatches).foreach { k =>
        val hi = if (k == docBatches - 1) Long.MaxValue else (k + 1) * perDoc
        writeSlice(docs
          .filter(col("doc_id") >= k * perDoc && col("doc_id") < hi)
          .withColumn("ts", lit(t0) + expr(s"INTERVAL ${60 * k} SECONDS")),
          s"$sliceRoot/docs", k)
      }
      (0 until embBatches).foreach { k =>
        val hi = if (k == embBatches - 1) Long.MaxValue else (k + 1) * perEmb
        writeSlice(emb.filter(col("vec_id") >= k * perEmb && col("vec_id") < hi),
          s"$sliceRoot/emb", k)
      }
    }
    def sliceRows(dir: String, n: Int): Seq[Long] =
      (0 until n).map(k => spark.read.parquet(f"$sliceRoot/$dir/b$k%02d.parquet").count())
    val rows = (sliceRows("docs", docBatches), sliceRows("emb", embBatches))
    // the marker goes down only once every slice is in place and the
    // slices hold the whole corpus
    if (cachedSig != sig) {
      require(rows._1.sum == nDocs && rows._2.sum == nEmb,
        s"slices under $sliceRoot hold ${rows._1.sum} of $nDocs documents and " +
          s"${rows._2.sum} of $nEmb embeddings")
      java.nio.file.Files.write(marker.toPath,
        sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    rows
  }

  /** Slice `sfDir` under `sliceRoot` (reused when already sliced) and
    * run every streaming path over the slices. `probe` must be attached
    * to `spark`; a path that throws is recorded with its error, never
    * rethrown. */
  def measure(spark: SparkSession, sfDir: String, sliceRoot: String, probe: Probe): Run = {
    val (docRows, embRows) = ensureSlices(spark, sfDir, sliceRoot)
    val docsDir = s"$sliceRoot/docs"
    val embDir = s"$sliceRoot/emb"
    def stream(dir: String): DataFrame =
      spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)

    // each data batch reads one slice, in slice order
    def run(name: String, sliceRows: Seq[Long], stateDir: Option[String] = None)(
        mk: String => StreamingQuery): PathPoint =
      try {
        val tmp = Scratch.dir(s"graft_sbench_$name")
        val t = System.nanoTime()
        val before = probe.snapshot()
        val q = mk(tmp)
        // recentProgress is recorded by the query thread itself, so
        // after processAllAvailable it holds every batch's progress
        val progress =
          try { q.processAllAvailable(); q.recentProgress.toSeq }
          finally q.stop()
        // batches run one after another, so a batch's stages are the
        // ones submitted between its trigger start and the next one's;
        // the window starts at this path's own start, so no earlier
        // path's or static side's shuffle lands in batch 0
        val window = probe.snapshot().since(before)
        val starts = progress.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
        val ends = starts.drop(1) :+ Long.MaxValue
        // the no-data trigger progress rows read no slice
        val data = progress.indices.filter(progress(_).numInputRows > 0)
        val batches = data.zip(sliceRows).map { case (i, rows) =>
          val p = progress(i)
          val w = window.submittedIn(starts(i), ends(i))
          BatchPoint(p.batchId, rows, p.numInputRows,
            Option(p.durationMs.get("triggerExecution"))
              .map(_.toDouble / 1000).getOrElse(0.0),
            p.stateOperators.map(_.numRowsTotal).sum,
            w.shuffleWriteBytes, w.shuffleReadBytes, w.memSpillBytes, w.diskSpillBytes)
        }
        val atRest = stateDir.toSeq.flatMap { sd =>
          val deltas = StreamingEtl.priorState(spark, sd, Long.MaxValue)
            .map(_.groupBy(col("__batch_id").cast("long")).count()
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
            .getOrElse(Map.empty[Long, Long])
          batches.map(_.batchId).scanLeft(0L) {
            case (acc, bid) => acc + deltas.getOrElse(bid, 0L)
          }.drop(1)
        }
        System.err.println(f"[streambench] $name done in ${(System.nanoTime() - t) / 1e9}%.1f s")
        val source = progress.lastOption
          .flatMap(_.sources.headOption).map(_.description).getOrElse("?")
        PathPoint(name, source, batches, atRest, None)
      } catch {
        case NonFatal(e) => PathPoint(name, "?", Nil, Nil, Some(e.toString))
      }

    def noopSink(df: DataFrame, tmp: String): StreamingQuery =
      df.writeStream.format("noop")
        .option("checkpointLocation", tmp + "/ck")
        .outputMode("update").start()

    // static sides / frozen models, built BEFORE the measured loop
    // (production posture: reference data and models live at rest)
    val docsBatch = spark.read.parquet(docsDir)
    val evalDocs = docsBatch.filter(col("doc_id") < docRows.sum / 100)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val dsirModel = graft.ext.text.Dsir.train(
      docsBatch.filter(col("source") === "src0"),
      docsBatch.filter(col("source") =!= "src0"), "doc_id", "text")

    import graft.ext.dedup.SemanticDedup
    import graft.ext.similarity.IvfKNN
    val embBatch = spark.read.parquet(embDir)
      .select(col("vec_id"), col("embedding"))
    val nEmb = embRows.sum
    val k = SemanticDedup.scaledClusterCount(nEmb)
    val c = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = IvfKNN.cachedSampledCentroids(
      embBatch, "vec_id", "embedding", c, source = s"$embDir#streambench")
    val fine = IvfKNN.fineCodebookTable(
      embBatch, "vec_id", "embedding", k, coarse).localCheckpoint()
    val evalSide = embBatch.filter(col("vec_id") % 7 === 0)
    val nEval = evalSide.count()
    val kd = SemanticDedup.decontaminationClusterCount(nEmb - nEval, nEval)
    val cd = math.max(1, math.ceil(math.sqrt(kd.toDouble)).toInt)
    val dcoarse = IvfKNN.cachedSampledCentroids(
      evalSide, "vec_id", "embedding", cd, source = s"$embDir#streambench_eval")
    val dfine = IvfKNN.fineCodebookTableRanked(
      evalSide, "vec_id", "embedding", kd, dcoarse).localCheckpoint()
    val evalAssigned = SemanticDedup.assigned(
      evalSide, "vec_id", "embedding", dcoarse, dfine, probes = 2)
      .localCheckpoint()

    val paths = Seq(
      run("dedup_doc", docRows) { tmp =>
        noopSink(StreamingEtl.dedupDocStream(
          stream(docsDir).select(col("doc_id"), col("text")), "text"), tmp)
      },
      run("dedup_doc_bounded", docRows) { tmp =>
        noopSink(StreamingEtl.dedupDocStreamBounded(
          stream(docsDir).select(col("doc_id"), col("text"), col("ts")),
          "text", "ts", watermark = "25 seconds"), tmp)
      },
      run("decontaminate", docRows) { tmp =>
        noopSink(StreamingEtl.decontaminateStream(
          stream(docsDir).select(col("doc_id"), col("text")),
          evalDocs, "doc_id", "text", n = 3), tmp)
      },
      run("dsir_score", docRows) { tmp =>
        noopSink(StreamingEtl.dsirScoreStream(
          stream(docsDir).select(col("doc_id"), col("text")),
          "doc_id", "text", dsirModel), tmp)
      },
      {
        val st = Scratch.dir("graft_sbench_domcap_state")
        run("domain_cap", docRows, stateDir = Some(st)) { tmp =>
          StreamingEtl.domainCapStream(
            stream(docsDir).select(col("doc_id"), col("source")),
            "doc_id", "source", maxPerDomain = 100000,
            tmp + "/out", st, tmp + "/ck")
        }
      },
      {
        val st = Scratch.dir("graft_sbench_ngram_state")
        run("ngram_dedup", docRows, stateDir = Some(st)) { tmp =>
          StreamingEtl.ngramDedupStream(
            stream(docsDir).select(col("doc_id"), col("text")),
            "doc_id", "text",
            tmp + "/out", st, tmp + "/ck")
        }
      },
      run("curation", docRows) { tmp =>
        StreamingEtl.curationStream(
          stream(docsDir).select(col("doc_id"), col("text")),
          evalDocs, "doc_id", "text", tmp + "/out", tmp + "/ck")
      },
      run("semantic_decontaminate", embRows) { tmp =>
        StreamingEtl.semanticDecontaminateStream(
          stream(embDir).where(col("vec_id") % 7 =!= 0),
          "vec_id", "embedding", dcoarse, dfine, evalAssigned,
          tmp + "/out", tmp + "/ck")
      },
      {
        val st = Scratch.dir("graft_sbench_semded_state")
        run("semantic_dedup", embRows, stateDir = Some(st)) { tmp =>
          StreamingEtl.semanticDedupStream(
            stream(embDir), "vec_id", "embedding", coarse, fine,
            tmp + "/out", st, tmp + "/ck")
        }
      })
    Run(docRows, embRows, paths)
  }

  /** JSON object: slice counts plus one entry per path, keyed by name. */
  def json(r: Run): String =
    s"""{"doc_batches":${r.docRows.size},"emb_batches":${r.embRows.size},""" +
      s""""paths":{${r.paths.map(_.json).mkString(",")}}}"""

  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "target/synth"
    val sf = if (args.length > 1) args(1).toDouble else 31.6
    val out = if (args.length > 2) args(2) else s"FILESTREAM_BENCH_sf$sf.json"
    val cpus = graft.Launch.cpus
    val spark = graft.Launch.session("graft-streambench", cpus,
      Map("spark.sql.streaming.fileSource.log.compactInterval" -> "1000"))
    val sfDir = s"$workDir/sf$sf"
    require(new java.io.File(s"$sfDir/documents.parquet").exists(),
      s"rung corpus missing at $sfDir — run ScaleBench/SynthGen first")
    val r = measure(spark, sfDir, s"$workDir/stream_sf$sf", Probe.attach(spark))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"""{"sf":$sf,"cpus":$cpus,""" + json(r).drop(1) + "\n")
    println(s"[streambench] wrote $out")
    spark.stop()
  }
}
