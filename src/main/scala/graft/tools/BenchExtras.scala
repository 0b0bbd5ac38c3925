package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-side measurement of the costs the query loop deliberately
  * amortizes away (round-4 verdict tasks 2 and 5):
  *
  *  - [[AtRestBuilds]]: every at-rest / index structure the engine
  *    keeps (exact IVF codebooks, bucketed layout, BPE tokenizer, reference
  *    models in [[graft.Artifacts]]; the z-order layout) is
  *    built here EXPLICITLY and timed, so BENCH_DETAIL carries the
  *    one-time build cost as its own line instead of hiding it in a
  *    first rep. Running the builds before the query loop also means
  *    every query rep measures steady-state latency — build cost and
  *    query latency stop contaminating each other.
  *  - [[StreamBench]]: two-micro-batch throughput + state-store size
  *    for the streaming curation paths, which were correctness-tested
  *    but never measured.
  *
  * Both are bench HARNESS code: driver-side collects here are bench
  * inputs (bounded by the bench SF), not engine operators.
  */
object AtRestBuilds {

  /** (name, build action). Each action is idempotent per session —
    * builds land in the [[graft.Artifacts]] entries the registered
    * queries look up, so the query loop that follows measures steady
    * state. The z-order layout is not stored: no query reads it, and
    * it is rebuilt on every call. */
  def all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "ivf_exact_codebook_iter1" -> { (s, dir) =>
      val e = graft.Tables(s, dir, "embeddings")
      graft.ext.similarity.IvfKNN.cachedLloydTrain(
        e, "vec_id", "embedding", k = 8, source = dir, iterations = 1)
      ()
    },
    // incremental: iteration 1 is memoized by the line above, so this
    // times exactly one further exact-Lloyd step
    "ivf_exact_codebook_iter2" -> { (s, dir) =>
      val e = graft.Tables(s, dir, "embeddings")
      graft.ext.similarity.IvfKNN.cachedLloydTrain(
        e, "vec_id", "embedding", k = 8, source = dir, iterations = 2)
      ()
    },
    "bucketed_layout" -> { (s, dir) =>
      graft.ScaleQueries.ensureBucketedLayout(s, dir)
    },
    // BPE tokenizer training (8 merges over the documents vocabulary)
    // — the at-rest artifact behind docs_bpe_merges/docs_bpe_tokenize
    "bpe_tokenizer" -> { (s, dir) =>
      graft.ext.text.BpeTrainer.cachedTrain(
        graft.Tables(s, dir, "documents"), "text",
        graft.ext.text.BpeTrainer.RegistryMerges, source = dir)
      ()
    },
    // fixed-snapshot bigram-LM reference model (doc_id < 5000) — the
    // at-rest artifact behind docs_lm_score_ref; flat in the corpus
    // size by construction
    "lm_ref_model" -> { (s, dir) =>
      graft.ext.text.NgramLm.cachedRefTrain(
        graft.Tables(s, dir, "documents"), "doc_id", "text",
        maxRefId = graft.ext.text.NgramLm.RegistryRefSnapshotMaxId,
        source = dir)
      ()
    },
    // fixed-snapshot trained quality classifier (doc_id < 5000, the
    // lm_ref_model twin) — 257 longs of driver-held metadata behind
    // docs_quality_clf_ref; training cost flat in the scored corpus
    "quality_clf_model" -> { (s, dir) =>
      graft.ext.text.QualityClassifier.cachedRefTrain(
        graft.Tables(s, dir, "documents"), "doc_id", "text",
        maxRefId = graft.ext.text.NgramLm.RegistryRefSnapshotMaxId,
        iters = graft.ext.text.QualityClassifier.RegistryIters,
        source = dir)
      ()
    },
    // at-rest z-order clustering of events on (user bucket, hour
    // bucket) — the write ZOrderSpec audits for both-dims skipping
    "zorder_layout" -> { (s, dir) =>
      val ev = graft.Tables(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        col("user_id").bitwiseAND(lit(1023L)).as("ub"),
        (expr("unix_micros(ts) div 3600000000") - lit(473352L))
          .bitwiseAND(lit(1023L)).as("hb"))
      val z = ev.withColumn("zkey",
        graft.operators.ZOrder.zValue(col("ub"), col("hb"), 10))
      val out = graft.tools.Scratch.dir("graft_zorder_bench")
      graft.operators.ZOrder.cluster(z, "zkey", 8)
        .write.mode("overwrite").parquet(out + "/events_z")
    })

  /** Run and time every build; failures are recorded, never thrown —
    * a broken build must surface in the detail file, not kill the
    * bench. Returns (name, seconds or error). */
  def measure(spark: SparkSession, sfDir: String): Seq[(String, Either[String, Double])] =
    all.map { case (name, build) =>
      val t0 = System.nanoTime()
      try {
        build(spark, sfDir)
        name -> Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          name -> Left(e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160))
      }
    }

  /** JSON object fragment: {"name":sec,…,"errors":{…}}. */
  def json(rs: Seq[(String, Either[String, Double])]): String = {
    def ms(t: Double) = (math.rint(t * 1000) / 1000).toString
    val ok = rs.collect { case (k, Right(t)) => "\"" + k + "\":" + ms(t) }
    val err = rs.collect { case (k, Left(e)) => "\"" + k + "\":\"" + e + "\"" }
    // an empty ok list must not leave a leading comma (a filtered
    // bench rerun skips every build and wrote invalid JSON)
    (ok :+ s""""errors":{${err.mkString(",")}}""").mkString("{", ",", "}")
  }
}

/** Five-batch streaming micro-bench over the curation streaming
  * paths. Per path: rows and wall seconds per micro-batch
  * (throughput) and the state-store row count after each batch —
  * the state CURVE is the point (round-5 verdict task 5): the exact
  * dedup variant's state must grow with distinct content while the
  * watermarked `dedup_doc_bounded` variant's plateaus once the
  * watermark starts evicting expired fingerprints. Every batch b ≥ 1
  * re-sends a fifth of batch b−1 as exact duplicates, so the dedup
  * paths must process-and-drop the dups without growing state for
  * them; batches carry event times 60 s apart against a 25 s
  * watermark, so each batch's fingerprints expire one batch later on
  * the bounded path. */
object StreamBench {

  case class PathResult(
      name: String,
      rows: Seq[Long],
      secs: Seq[Double],
      stateRows: Seq[Long],
      error: Option[String])

  val numBatches = 5

  def measure(spark: SparkSession, sfDir: String): Seq[PathResult] = {
    import spark.implicits._
    import graft.streaming.StreamingEtl
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // bench input: the documents table, replayed in numBatches
    // micro-batches; batch b re-sends a fifth of batch b-1's slice
    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    val per = math.max(1, docs.length / numBatches)
    val slices = docs.grouped(per).take(numBatches).toSeq
    val batches = slices.zipWithIndex.map { case (s, i) =>
      if (i == 0) s else s ++ slices(i - 1).take(slices(i - 1).length / 5)
    }
    // event times for the watermarked path: batch i's rows all carry
    // t0 + 60·i seconds, so the 25 s watermark evicts batch i-2's
    // fingerprints while batch i processes (dups are re-sent one
    // batch apart and so are still recognized)
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val stamped = batches.zipWithIndex.map { case (b, i) =>
      val ts = java.sql.Timestamp.from(t0.plusSeconds(60L * i))
      b.map { case (id, text) => (id, text, ts) }
    }
    val evalDocs = docs.take(math.max(10, docs.length / 100))
      .toDF("doc_id", "text")

    def run[T: org.apache.spark.sql.Encoder](name: String, feed: Seq[Seq[T]])(
        mk: (org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T],
             String) => org.apache.spark.sql.streaming.StreamingQuery): PathResult =
      try {
        val input =
          org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
        val tmp = graft.tools.Scratch.dir(s"graft_sbench_$name")
        val q = mk(input, tmp)
        val rows = Seq.newBuilder[Long]
        val secs = Seq.newBuilder[Double]
        val state = Seq.newBuilder[Long]
        feed.foreach { batch =>
          input.addData(batch)
          val t = System.nanoTime()
          q.processAllAvailable()
          secs += (System.nanoTime() - t) / 1e9
          rows += batch.length.toLong
          state += Option(q.lastProgress).toSeq
            .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
        }
        q.stop()
        PathResult(name, rows.result(), secs.result(), state.result(), None)
      } catch {
        case e: Throwable => PathResult(name, Nil, Nil, Nil,
          Some(e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)))
      }

    Seq(
      run("dedup_doc", batches) { (input, tmp) =>
        StreamingEtl.dedupDocStream(input.toDS().toDF("doc_id", "text"), "text")
          .writeStream.format("memory").queryName(s"sb_dedup_${System.nanoTime()}")
          .option("checkpointLocation", tmp + "/ck")
          .outputMode("update").start()
      },
      run("dedup_doc_bounded", stamped) { (input, tmp) =>
        StreamingEtl.dedupDocStreamBounded(
            input.toDS().toDF("doc_id", "text", "ts"), "text", "ts",
            watermark = "25 seconds")
          .writeStream.format("memory").queryName(s"sb_dedupb_${System.nanoTime()}")
          .option("checkpointLocation", tmp + "/ck")
          .outputMode("update").start()
      },
      run("decontaminate", batches) { (input, tmp) =>
        StreamingEtl.decontaminateStream(
            input.toDS().toDF("doc_id", "text"), evalDocs, "doc_id", "text", n = 3)
          .writeStream.format("memory").queryName(s"sb_decon_${System.nanoTime()}")
          .option("checkpointLocation", tmp + "/ck")
          .outputMode("update").start()
      },
      run("curation", batches) { (input, tmp) =>
        StreamingEtl.curationStream(
          input.toDS().toDF("doc_id", "text"), evalDocs, "doc_id", "text",
          outDir = tmp + "/out", checkpointDir = tmp + "/ck")
      }, {
        // DSIR scoring: model frozen at rest BEFORE the measured loop
        // (target = src0 split of the rung corpus), each batch scores
        // statelessly against the broadcast λ table
        val full = graft.Tables(spark, sfDir, "documents")
          .select(col("doc_id").cast("long"), col("text"), col("source"))
        val dsirModel = graft.ext.text.Dsir.train(
          full.filter(col("source") === "src0"),
          full.filter(col("source") =!= "src0"), "doc_id", "text")
        run("dsir_score", batches) { (input, tmp) =>
          StreamingEtl.dsirScoreStream(
              input.toDS().toDF("doc_id", "text"), "doc_id", "text",
              dsirModel)
            .writeStream.format("memory")
            .queryName(s"sb_dsir_${System.nanoTime()}")
            .option("checkpointLocation", tmp + "/ck")
            .outputMode("update").start()
        }
      }, {
        // domain caps: id-monotone slices (no dup resend — the cap's
        // arrival-order contract), state at rest per batch
        val domainSlices = graft.Tables(spark, sfDir, "documents")
          .select(col("doc_id").cast("long"), col("source"))
          .orderBy(col("doc_id"))
          .as[(Long, String)].collect().toSeq
          .grouped(per).take(numBatches).toSeq
        run("domain_cap", domainSlices) { (input, tmp) =>
          StreamingEtl.domainCapStream(
            input.toDS().toDF("doc_id", "source"), "doc_id", "source",
            maxPerDomain = 100,
            tmp + "/out", tmp + "/state", tmp + "/ck")
        }
      }) ++ semanticPaths(spark, sfDir)
  }

  /** The two embedding-space streaming twins at rung scale (rounds
    * 12-13): both assign against a FROZEN at-rest codebook — trained
    * once here, before the measured loop, exactly the production
    * posture. Semantic DEDUP is the state-heavy path (state = every
    * assigned vector, re-read and cluster-pruned per batch); semantic
    * DECONTAMINATION is stateless stream-static (the eval side is an
    * at-rest assigned table). */
  private def semanticPaths(
      spark: SparkSession, sfDir: String): Seq[PathResult] = {
    import spark.implicits._
    import graft.streaming.StreamingEtl
    import graft.ext.dedup.SemanticDedup
    import graft.ext.similarity.IvfKNN
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long"), col("embedding"))
    val vecs = corpus.as[(Long, Seq[Float])].collect().toSeq
    val per = math.max(1, vecs.length / numBatches)
    // id-monotone batches (the dedup stream's parity precondition)
    val batches = vecs.sortBy(_._1).grouped(per).take(numBatches).toSeq

    def run(name: String, feed: Seq[Seq[(Long, Seq[Float])]])(
        mk: (org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])],
             String) => org.apache.spark.sql.streaming.StreamingQuery): PathResult =
      try {
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        val tmp = graft.tools.Scratch.dir(s"graft_sbench_$name")
        val q = mk(input, tmp)
        val rows = Seq.newBuilder[Long]
        val secs = Seq.newBuilder[Double]
        feed.foreach { batch =>
          input.addData(batch)
          val t = System.nanoTime()
          q.processAllAvailable()
          secs += (System.nanoTime() - t) / 1e9
          rows += batch.length.toLong
        }
        q.stop()
        // at-rest state (foreachBatch parquet, not operator state):
        // report rows written under the state/out dirs per batch is
        // not exposed by lastProgress — leave stateRows empty
        PathResult(name, rows.result(), secs.result(), Nil, None)
      } catch {
        case e: Throwable => PathResult(name, Nil, Nil, Nil,
          Some(e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)))
      }

    // semantic dedup: codebook frozen over the whole stream corpus
    val k = SemanticDedup.scaledClusterCount(vecs.length.toLong)
    val c = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = IvfKNN.cachedSampledCentroids(
      corpus, "vec_id", "embedding", c, source = s"$sfDir#sbench")
    val fine = IvfKNN.fineCodebookTable(corpus, "vec_id", "embedding", k, coarse)
    // semantic decontamination: eval split + its own eval-anchored codebook
    val evalSide = corpus.filter(col("vec_id") % 7 === 0)
    val trainVecs = batches.map(_.filter(_._1 % 7 != 0))
    val kd = SemanticDedup.decontaminationClusterCount(
      vecs.count(_._1 % 7 != 0).toLong, vecs.count(_._1 % 7 == 0).toLong)
    val cd = math.max(1, math.ceil(math.sqrt(kd.toDouble)).toInt)
    val dcoarse = IvfKNN.cachedSampledCentroids(
      evalSide, "vec_id", "embedding", cd, source = s"$sfDir#sbench_eval")
    val dfine = IvfKNN.fineCodebookTableRanked(
      evalSide, "vec_id", "embedding", kd, dcoarse)
    val evalAssigned = SemanticDedup.assigned(
      evalSide, "vec_id", "embedding", dcoarse, dfine, probes = 2)
      .localCheckpoint()

    Seq(
      run("semantic_dedup", batches) { (input, tmp) =>
        StreamingEtl.semanticDedupStream(
          input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
          coarse, fine, outDir = tmp + "/out", stateDir = tmp + "/state",
          checkpointDir = tmp + "/ck")
      },
      run("semantic_decontaminate", trainVecs) { (input, tmp) =>
        StreamingEtl.semanticDecontaminateStream(
          input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
          dcoarse, dfine, evalAssigned, outDir = tmp + "/out",
          checkpointDir = tmp + "/ck")
      })
  }

  /** Standalone entry point (`runMain graft.tools.StreamBench [sfDir]`)
    * so the streaming section can be measured or smoked without a
    * full ladder rung. Prints the same JSON fragment the rung embeds. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(json(measure(spark, sfDir)))
    spark.stop()
  }

  /** JSON object fragment keyed by path name. */
  def json(rs: Seq[PathResult]): String = {
    def ms(t: Double) = (math.rint(t * 1000) / 1000).toString
    rs.map { r =>
      val base = r.error match {
        case Some(e) => s""""error":"$e""""
        case None =>
          val rps = r.rows.zip(r.secs).map { case (n, s) =>
            if (s > 0) math.rint(n / s).toLong else 0L }
          s""""rows":[${r.rows.mkString(",")}],""" +
            s""""sec":[${r.secs.map(ms).mkString(",")}],""" +
            s""""rows_per_sec":[${rps.mkString(",")}],""" +
            s""""state_rows":[${r.stateRows.mkString(",")}]"""
      }
      "\"" + r.name + "\":{" + base + "}"
    }.mkString("{", ",", "}")
  }
}
