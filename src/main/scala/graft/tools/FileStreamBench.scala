package graft.tools

import graft.streaming.StreamingEtl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Rung-scale streaming bench fed from STORAGE, not the driver
  * (round-13 verdict task 1): the MemoryStream harness embeds every
  * micro-batch as a LocalRelation in the task binary, which caps
  * honest measurement at ~120 k-row batches (at ~300 k rows the
  * 150 MiB batch literal broadcast dominates and the run measures
  * driver-batch serialization, not operators). Here the rung corpus
  * is written ONCE as batch-sized single-file parquet slices and each
  * streaming path reads them through `FileStreamSource` with
  * `maxFilesPerTrigger = 1` — one slice per micro-batch, arriving
  * from storage exactly as production batches do, with NO
  * LocalRelation anywhere (the per-path `source` field in the output
  * JSON records the FileStreamSource description as evidence).
  *
  * Per batch it records Spark's own progress metrics (input rows,
  * trigger wall, state-store rows) plus the task metrics of the
  * stages the batch submitted (shuffle r/w, memory/disk spill) — the
  * at-scale cells for the state-read-pruning claims: semantic dedup's
  * cluster semi-join against a state table that grows by 300 k+
  * vectors per batch, and the ngram/domain-cap `__batch_id < current`
  * at-rest reads. For the at-rest-state paths the per-batch state
  * curve is reconstructed AFTER the run from the `__batch_id`
  * partition of the state table (batches execute sequentially, so
  * cumulative-rows-at-batch-k is exact).
  *
  *   sbt "runMain graft.tools.FileStreamBench [workDir] [sf] [out.json]"
  *
  * Heaviest path (semantic dedup) runs LAST — a top-rung OOM kills
  * local-mode's shared SparkContext, and late placement bounds the
  * blast radius to itself (the ScaleBench ordering lesson). */
object FileStreamBench {

  private case class BatchPoint(
      batchId: Long, rows: Long, sec: Double, stateRows: Long,
      shuffleWrite: Long, shuffleRead: Long, memSpill: Long, diskSpill: Long)

  private case class PathPoint(
      name: String, source: String, batches: Seq[BatchPoint],
      atRestStateRows: Seq[Long], error: Option[String]) {
    def json: String = {
      def mb(b: Long) = math.rint(b / 1048576.0 * 10) / 10
      val bs = batches.map { b =>
        s"""{"batch_id":${b.batchId},"rows":${b.rows},"sec":${b.sec},""" +
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

  /** Write `df` as ONE parquet file named `bNN.parquet` inside
    * `streamDir` (FileStreamSource orders by modification time; the
    * sequential writes preserve batch order). */
  private def writeSlice(df: DataFrame, streamDir: String, k: Int): Unit = {
    val s = df.sparkSession
    val tmp = streamDir + f"/_slice_$k%02d"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(tmp + "/part-*.parquet")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(streamDir + f"/b$k%02d.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "/root/synth"
    val sf = if (args.length > 1) args(1).toDouble else 31.6
    val out = if (args.length > 2) args(2) else s"FILESTREAM_BENCH_sf$sf.json"
    val docBatches = 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.fileSource.log.compactInterval", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sfDir = s"$workDir/sf$sf"
    require(new java.io.File(s"$sfDir/documents.parquet").exists(),
      s"rung corpus missing at $sfDir — run ScaleBench/SynthGen first")
    val probe = graft.obs.Probe.attach(spark)

    // ---- slice the rung corpus once (cached across runs) ----------
    val streamRoot = s"$workDir/stream_sf$sf"
    val docsDir = s"$streamRoot/docs"
    val embDir = s"$streamRoot/emb"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ensureSlices(): (Int, Int) = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("source"))
      val nDocs = docs.count()
      val perDoc = math.max(1L, nDocs / docBatches)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val nEmb = emb.count()
      // >=300k-row batches for the embedding paths too: fewer slices
      // rather than smaller ones
      val embBatches = math.max(2L, nEmb / math.max(1L, perDoc)).toInt
      val perEmb = math.max(1L, nEmb / embBatches)
      // cache key = the slicing parameters, not mere existence: a
      // changed batch count or a regenerated rung corpus must
      // re-slice, or the JSON would label stale slices with the new
      // batch counts
      val marker = new java.io.File(s"$streamRoot/_DONE")
      val sig = s"docBatches=$docBatches nDocs=$nDocs nEmb=$nEmb"
      val cachedSig =
        if (marker.exists())
          new String(java.nio.file.Files.readAllBytes(marker.toPath),
            java.nio.charset.StandardCharsets.UTF_8).trim
        else ""
      if (cachedSig != sig) {
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(streamRoot))
        // ids are dense 0..n-1 (SynthGen), so range slicing is exact
        // and id-monotone — the domain-cap/ngram arrival contract
        (0 until docBatches).foreach { k =>
          val hi = if (k == docBatches - 1) Long.MaxValue else (k + 1) * perDoc
          writeSlice(docs
            .filter(col("doc_id") >= k * perDoc && col("doc_id") < hi)
            .withColumn("ts", lit(t0) + expr(s"INTERVAL ${60 * k} SECONDS")),
            docsDir, k)
        }
        (0 until embBatches).foreach { k =>
          val hi = if (k == embBatches - 1) Long.MaxValue else (k + 1) * perEmb
          writeSlice(emb
            .filter(col("vec_id") >= k * perEmb && col("vec_id") < hi),
            embDir, k)
        }
        java.nio.file.Files.write(marker.toPath,
          sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      (docBatches, embBatches)
    }
    val (nDocSlices, nEmbSlices) = ensureSlices()
    println(s"[fsbench] slices ready: $nDocSlices doc + $nEmbSlices emb " +
      s"under $streamRoot")

    def docStream(): DataFrame =
      spark.readStream
        .schema(spark.read.parquet(docsDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(docsDir)
    def embStream(): DataFrame =
      spark.readStream
        .schema(spark.read.parquet(embDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(embDir)

    // ---- measured run harness -------------------------------------
    def run(name: String, stateDir: Option[String] = None)(
        mk: String => StreamingQuery): PathPoint =
      try {
        val tmp = Scratch.dir(s"graft_fsbench_$name")
        // (batch id, input rows, trigger seconds, state rows, trigger
        // start epoch ms) per progress event
        val marks =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long, Long)]
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            marks.synchronized {
              marks += ((p.batchId, p.numInputRows,
                Option(p.durationMs.get("triggerExecution"))
                  .map(_.toDouble / 1000).getOrElse(0.0),
                p.stateOperators.map(_.numRowsTotal).sum,
                java.time.Instant.parse(p.timestamp).toEpochMilli))
            }
          }
        }
        spark.streams.addListener(listener)
        val before = probe.snapshot()
        val src =
          try {
            val t = System.nanoTime()
            val q = mk(tmp)
            q.processAllAvailable()
            val desc = Option(q.lastProgress)
              .flatMap(_.sources.headOption).map(_.description).getOrElse("?")
            q.stop()
            println(f"[fsbench] $name done in ${(System.nanoTime() - t) / 1e9}%.1f s")
            desc
          } finally spark.streams.removeListener(listener)
        // batches run one after another, so a batch's stages are the
        // ones submitted between its trigger start and the next one's;
        // the window starts at this path's own start, so no earlier
        // path's or static side's shuffle lands in batch 0
        val window = probe.snapshot().since(before)
        val snapshot = marks.synchronized(marks.toSeq).sortBy(_._1)
        val nextStart = snapshot.drop(1).map(_._5) :+ Long.MaxValue
        val batches = snapshot.zip(nextStart).collect {
          // drop the no-data final trigger progress rows
          case ((bid, rows, sec, st, start), end) if rows > 0 =>
            val w = window.submittedIn(start, end)
            BatchPoint(bid, rows, sec, st, w.shuffleWriteBytes, w.shuffleReadBytes,
              w.memSpillBytes, w.diskSpillBytes)
        }
        // at-rest state curve from the committed __batch_id partitions
        val atRest = stateDir.map { sd =>
          val deltas = StreamingEtl.priorState(spark, sd, Long.MaxValue)
            .map(_.groupBy(col("__batch_id").cast("long").as("__batch_id"))
              .agg(count(lit(1)).as("n"))
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
            .getOrElse(Map.empty[Long, Long])
          batches.map(_.batchId).scanLeft(0L) {
            case (acc, bid) => acc + deltas.getOrElse(bid, 0L)
          }.drop(1)
        }.getOrElse(Nil)
        PathPoint(name, src, batches, atRest, None)
      } catch {
        case e: Throwable =>
          PathPoint(name, "?", Nil, Nil, Some(e.toString))
      }

    def noopSink(df: DataFrame, tmp: String): StreamingQuery =
      df.writeStream.format("noop")
        .option("checkpointLocation", tmp + "/ck")
        .outputMode("update").start()

    // static sides / frozen models, built BEFORE the measured loop
    // (production posture: reference data and models live at rest)
    val docsBatch = spark.read.parquet(docsDir)
    val nDocs = docsBatch.count()
    val evalDocs = docsBatch.filter(col("doc_id") < nDocs / 100)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val dsirModel = graft.ext.text.Dsir.train(
      docsBatch.filter(col("source") === "src0"),
      docsBatch.filter(col("source") =!= "src0"), "doc_id", "text")

    import graft.ext.dedup.SemanticDedup
    import graft.ext.similarity.IvfKNN
    val embBatch = spark.read.parquet(embDir)
      .select(col("vec_id"), col("embedding"))
    val nEmb = embBatch.count()
    val k = SemanticDedup.scaledClusterCount(nEmb)
    val c = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = IvfKNN.cachedSampledCentroids(
      embBatch, "vec_id", "embedding", c, source = s"$embDir#fsbench")
    val fine = IvfKNN.fineCodebookTable(
      embBatch, "vec_id", "embedding", k, coarse).localCheckpoint()
    val evalSide = embBatch.filter(col("vec_id") % 7 === 0)
    val nEval = evalSide.count()
    val kd = SemanticDedup.decontaminationClusterCount(nEmb - nEval, nEval)
    val cd = math.max(1, math.ceil(math.sqrt(kd.toDouble)).toInt)
    val dcoarse = IvfKNN.cachedSampledCentroids(
      evalSide, "vec_id", "embedding", cd, source = s"$embDir#fsbench_eval")
    val dfine = IvfKNN.fineCodebookTableRanked(
      evalSide, "vec_id", "embedding", kd, dcoarse).localCheckpoint()
    val evalAssigned = SemanticDedup.assigned(
      evalSide, "vec_id", "embedding", dcoarse, dfine, probes = 2)
      .localCheckpoint()

    val results = Seq(
      run("dedup_doc") { tmp =>
        noopSink(StreamingEtl.dedupDocStream(
          docStream().select(col("doc_id"), col("text")), "text"), tmp)
      },
      run("dedup_doc_bounded") { tmp =>
        noopSink(StreamingEtl.dedupDocStreamBounded(
          docStream().select(col("doc_id"), col("text"), col("ts")),
          "text", "ts", watermark = "25 seconds"), tmp)
      },
      run("decontaminate") { tmp =>
        noopSink(StreamingEtl.decontaminateStream(
          docStream().select(col("doc_id"), col("text")),
          evalDocs, "doc_id", "text", n = 3), tmp)
      },
      run("dsir_score") { tmp =>
        noopSink(StreamingEtl.dsirScoreStream(
          docStream().select(col("doc_id"), col("text")),
          "doc_id", "text", dsirModel), tmp)
      },
      {
        val st = Scratch.dir("fsb_domcap_state")
        run("domain_cap", stateDir = Some(st)) { tmp =>
          StreamingEtl.domainCapStream(
            docStream().select(col("doc_id"), col("source")),
            "doc_id", "source", maxPerDomain = 100000,
            tmp + "/out", st, tmp + "/ck")
        }
      },
      {
        val st = Scratch.dir("fsb_ngram_state")
        run("ngram_dedup", stateDir = Some(st)) { tmp =>
          StreamingEtl.ngramDedupStream(
            docStream().select(col("doc_id"), col("text")),
            "doc_id", "text",
            tmp + "/out", st, tmp + "/ck")
        }
      },
      run("curation") { tmp =>
        StreamingEtl.curationStream(
          docStream().select(col("doc_id"), col("text")),
          evalDocs, "doc_id", "text", tmp + "/out", tmp + "/ck")
      },
      run("semantic_decontaminate") { tmp =>
        StreamingEtl.semanticDecontaminateStream(
          embStream().where(col("vec_id") % 7 =!= 0),
          "vec_id", "embedding", dcoarse, dfine, evalAssigned,
          tmp + "/out", tmp + "/ck")
      },
      {
        val st = Scratch.dir("fsb_semded_state")
        run("semantic_dedup", stateDir = Some(st)) { tmp =>
          StreamingEtl.semanticDedupStream(
            embStream(), "vec_id", "embedding", coarse, fine,
            tmp + "/out", st, tmp + "/ck")
        }
      })

    val json = s"""{"sf":$sf,"doc_batches":$nDocSlices,""" +
      s""""emb_batches":$nEmbSlices,"cpus":$cpus,""" +
      s""""paths":{${results.map(_.json).mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(s"[fsbench] wrote $out")
    spark.stop()
  }
}
