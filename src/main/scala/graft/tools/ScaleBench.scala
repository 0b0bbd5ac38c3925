package graft.tools

import graft.ext.dedup.NearDup
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Scale-validation bench (round-4 verdict task 1): measure the
  * scaling CURVE of the heavy operators instead of arguing it.
  *
  * Method: [[SynthGen]] produces the same table shapes as the driver
  * corpus at any SF (schemas pinned to the real corpus by
  * SynthGenSpec), so we grow corpora from the SAME generator at a
  * ladder of SFs (default 0.1 → 1.0 → 3.16, i.e. 10× and 31.6×) and
  * time each heavy query at every rung. Because generator,
  * distributions, session and host are all held fixed, the per-query
  * time ratio isolates the engine's data-scaling behavior: a
  * structurally linear operator should track ≤ the corpus ratio (with
  * a constant-overhead discount at small absolute sizes — fixed
  * per-query costs like planning, shuffle setup, and 32-task
  * scheduling floors don't grow with the data). A super-linear
  * outlier (time ratio ≫ corpus ratio) is a scale bug in some stage
  * and must be diagnosed by name.
  *
  * Per-rung observability (round-5 verdict tasks 1/3/4 — the sf10
  * rung's minhash blowup was undiagnosable from wall time alone):
  *  - every measured query records shuffle read/write bytes and
  *    memory/disk spill from the fastest rep's task metrics, so
  *    memory-pressure onset and shuffle growth are visible per rung;
  *  - the LSH pair miners additionally record [[MineStats]] (bucket
  *    count, max bucket, candidate mass pre/post skew-cap, survivors)
  *    from one untimed stats pass, so super-linearity is
  *    attributable to candidate inflation vs verify cost vs shuffle;
  *  - the upsert queries record files written + promote seconds
  *    ([[graft.sinks.ParquetUpsertSink.ioStats]]), separating commit/
  *    small-file cost from merge compute.
  *
  * Methodology matches [[graft.Bench]]: min-of-N reps (default 2) per
  * query per SF, at-rest builds run explicitly BEFORE the query loop
  * and ALSO at min-of-N with [[graft.Artifacts]] cleared between reps (their
  * cost reported per-SF in a "builds" section — index builds scale
  * with the corpus too and must not hide in a first rep, and a
  * single-shot build cell would carry shared-host noise the query
  * rows' min filters out), count() to force, caches kept within an
  * SF, cleared between SFs.
  *
  * JIT control: the first measured pass of a fresh JVM pays classload,
  * codegen compilation and C2 warmup for EVERY plan shape — enough at
  * these sizes to make a 10×-smaller corpus time SLOWER than the big
  * one. So the whole heavy list AND all at-rest builds first run
  * UNTIMED against an extra, tiny corpus (sfs.min/10): same plan
  * shapes, negligible data cost. The builds are memoized per corpus
  * dir, so the warm-up does not consume the measured rungs' builds —
  * those still run (and are timed) first-time-per-dir.
  *
  * Usage: `runMain graft.tools.ScaleBench [workDir] [sf ...]`
  * Writes `SCALE_BENCH.json` to the working directory. Corpora are
  * reused if already generated (delete workDir to regenerate).
  */
object ScaleBench {

  /** The queries whose 100 TB posture SURVEY §8.5 argues structurally;
    * this bench converts each argument into a measured curve. */
  val heavy: Seq[String] = Seq(
    "docs_minhash_pairs",    // banded LSH: O(n·bands) candidate join
    "docs_token_stats",      // pure map over every doc (linear reference)
    "docs_decontaminate",    // broadcast eval grams, map-only train side
    "docs_decontaminate_cross", // corpus-vs-corpus: 8-byte gram-hash shuffle join
    "docs_dup_groups",       // pair mining + size-gated components
    "docs_block_dedup",      // corpus-wide first-occurrence + reassembly
    "docs_pack_shards",      // two-level distributed prefix sum
    "docs_curation_pipeline",// fused multi-stage curation plan
    // round-14: the cap→dedup→decontaminate→DSIR→pack composition —
    // cap-first means only the heap aggregate sees the full corpus
    "docs_curation_pipeline_v2", // round-13-operator composed pipeline
    // round-13 new operator: two 8192-cell gram aggregates (bounded
    // collects) + one broadcast-λ scoring pass — the decontaminate
    // cost class with a fixed-width reduce
    "docs_dsir_weights",     // DSIR hashed-ngram importance weights
    "docs_domain_cap",       // bounded-heap per-domain cap (no window)
    "docs_bpe_tokenize",     // BPE: one corpus agg + vocab-sized merge loop
    "emb_semantic_dedup",    // map-only assign + one cluster shuffle
    "emb_semantic_decontaminate", // eval-anchored codebook, cross-split cluster join
    "emb_knn_ivf",           // pruned ANN probe (codebook built at-rest)
    // round-13 (round-12 verdict task 1b): the packed-argmax Lloyd
    // TABLE trainer + exact codebook-as-data assignment — the row the
    // round-12 rewrite fixed by plan shape but never measured at sf100
    "emb_ivf_lloyd_table",   // 1 Lloyd step + exact assign, codebook as data
    "etl_upsert",            // merge-on-write upsert
    "etl_upsert_partitioned",// partition-scoped merge-on-write
    "etl_keygen",            // per-row surrogate keys (pure map)
    "q9_nation_profit",      // multi-join star aggregation
    "q_range_join",          // prefix-sum interval aggregation
    "q_range_join_user",     // keyed interval aggregation (one per-key window)
    "q_sessionize",          // per-user ordered window
    // q_pagerank is NOT in the ladder: the synthetic trade graph is
    // dense (≈6 edges per lineitem row — 120 M directed edges at
    // sf10), so four power iterations cost ~8× the heaviest miner
    // per rung. Its per-iteration plan is the DupGroups shape the
    // ladder already measures; the registry bench times it at sf0.1.
    "docs_tfidf_pairs",      // df-pruned term-routed sparse cosine pairs
    // round-9 additions (round-8 verdict task 5): each new component
    // gets its decade measured in the same artifact as the rest
    "multimodal_decode",     // real ImageIO decode over synthesized blobs
    // round-14 new operator: real encode → ImageIO decode → 63-bit
    // dHash → the docs_simhash_pairs pigeonhole miner; pair mass is
    // linear by the planted-family corpus design
    "multimodal_phash_pairs", // perceptual-hash image near-dup mining
    // round-14 audio analogue: real RIFF/WAVE encode → JDK sound-stack
    // decode → 63-bit frame-energy delta-sign fingerprint → the same
    // pigeonhole miner; same planted-family linear pair mass
    "multimodal_audio_fp_pairs", // audio-fingerprint near-dup mining
    "docs_embed_knn",        // text→hashed-idf vector→JL→exact cosine KNN
    "docs_quality_clf",      // iterated-agg trained classifier + corpus score
    "docs_quality_clf_ref",  // scoring vs the fixed at-rest model (flat training)
    // hashed (production-width) form FIRST: the string form is the
    // oracle-only contrast row and the rung's most disk-hungry shuffle
    // (27 GB + ~25 GB spill at sf100 — it ENOSPC'd the round-10 rung);
    // running it after its production twin means a disk-gate skip
    // costs the contrast cell, never the production measurement
    "docs_ngram_dedup_hashed", // stride-1 repeated-n-gram removal, 8-byte gram-hash shuffle key
    "docs_ngram_dedup",      // same pass at exact-string width (oracle path)
    // second-to-last: the bigram-LM model join is corpus-sized on
    // BOTH sides under the Heaps-law synthetic vocabulary (most
    // bigrams are unique), so it carries the same OOM class as the
    // miners — late placement bounds the blast radius if a rung
    // kills the shared SparkContext
    // the fixed-reference-model twin FIRST: model FLAT in the corpus
    // (built at-rest on the doc_id<5000 snapshot) — the evidence that
    // scoring itself is linear once the model stops growing with the
    // scored corpus (round-7 verdict task 6). Ordered BEFORE the
    // self-scoring row so an OOM-class lm_score casualty at the top
    // rung cannot take this cell with it.
    "docs_lm_score_ref",     // bigram-LM scoring vs fixed at-rest model
    "docs_lm_score",         // bigram-LM scoring: count aggs + model join
    // the WIDE (b=5) SimHash scheme — what simhashSchemeFor
    // auto-selects past ~1.05 M docs, i.e. the miner a production
    // corpus actually runs (round-12 verdict task 1b: it had no rung
    // cells). Unlike the 4×16-bit form below it is NOT excluded at
    // sf100: bucket keys are 2-chunk combinations (~25 bits — the
    // scheme rule keeps n well under the keyspace), so the cell
    // measures the engine, not the saturation cap.
    "docs_simhash_pairs_wide", // 5-chunk pigeonhole bucket join (production scheme)
    // LAST by design: the heaviest-memory query in the list. Its
    // nested sort-merge pair joins buffer whole key groups, and a
    // top-rung executor OOM kills local-mode's shared SparkContext —
    // every query AFTER the casualty then fails with "stopped
    // SparkContext" and the rung's artifact is lost wholesale (this
    // happened: a 24 g sf31.6 rerun died here and took 17 queries
    // with it). Running it last bounds the blast radius to itself.
    "docs_simhash_pairs")    // pigeonhole bucket join

  /** One measured rep: wall seconds + that rep's task-metric window
    * + (for the instrumented queries) upsert IO. */
  private case class Rep(
      sec: Double, rows: Long, window: graft.obs.Window,
      upsertIo: Option[graft.sinks.ParquetUpsertSink.UpsertIo])

  private case class QueryPoint(
      name: String, err: Option[String], best: Option[Rep],
      mineStats: Option[MineStats],
      recall: Option[RecallSampler.Recall],
      gramStats: Option[graft.ext.dedup.BlockDedup.GramHashStats] = None,
      scratchFreeGb: Option[Double] = None)

  /** Candidate-generation health of one LSH mining run — the numbers
    * that tell you whether candidate mass is inflating super-linearly
    * BEFORE the bill arrives (round-5 verdict task 7: the sf10 ladder
    * rung went 13.5× for 3.16× data and nothing in the artifact could
    * attribute it to candidate count vs verify cost vs shuffle).
    * `candidates` is Σ c·(c−1)/2 over surviving buckets — exactly the
    * within-bucket join's output mass, the quantity that must grow
    * ~linearly with the corpus for LSH to be scale-safe. */
  private[graft] case class MineStats(
      buckets: Long,          // distinct bucket keys
      collidingBuckets: Long, // buckets with ≥ 2 members
      maxBucket: Long,        // largest bucket (pre-cap)
      droppedBuckets: Long,   // buckets over the skew cap (excluded)
      candidatesPreCap: Long, // Σ c(c-1)/2 over ALL buckets
      candidates: Long,       // Σ c(c-1)/2 over surviving buckets
      survivors: Long) {      // verified output pairs
    def json: String =
      s"""{"buckets":$buckets,"colliding_buckets":$collidingBuckets,""" +
        s""""max_bucket":$maxBucket,"dropped_buckets":$droppedBuckets,""" +
        s""""candidates_pre_cap":$candidatesPreCap,"candidates":$candidates,""" +
        s""""survivors":$survivors}"""
  }

  /** Materialize one miner's lazy plan — the `(pairs, caches,
    * bucketSizes)` triple a `NearDup.*PairsPlanFull` builder returns —
    * with its [[MineStats]]: one aggregation over the bucket-size frame
    * (it reads the plan's cached signatures, which the pair write then
    * reuses — no re-mining), then [[NearDup.materializeAndRelease]]
    * writes, reads back and releases the caches. `cap` is the
    * builder's `maxBucketSize`. */
  private[graft] def materializeWithStats(
      plan: (DataFrame, Seq[DataFrame], DataFrame), tag: String, cap: Int)
      : (DataFrame, MineStats) = {
    import org.apache.spark.sql.functions._
    val (out, caches, bucketSizes) = plan
    // `/` is double division in Spark; the product is even so the
    // long cast is exact (and c(c-1) stays far under 2^53)
    val pairsOf = (col("c") * (col("c") - 1) / lit(2L)).cast("long")
    val r =
      try bucketSizes.agg(
        count(lit(1)).as("b"),
        coalesce(sum(when(col("c") >= 2, 1L).otherwise(0L)), lit(0L)).as("cb"),
        coalesce(max(col("c")), lit(0L)).as("mx"),
        coalesce(sum(when(col("c") > cap, 1L).otherwise(0L)), lit(0L)).as("db"),
        coalesce(sum(pairsOf), lit(0L)).as("pre"),
        coalesce(sum(when(col("c") <= cap, pairsOf).otherwise(lit(0L))), lit(0L))
          .as("post")
      ).head()
      catch { case NonFatal(e) => caches.foreach(_.unpersist()); throw e }
    val pairs = NearDup.materializeAndRelease(out, tag, caches: _*)
    (pairs, MineStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), pairs.count()))
  }

  /** The registered LSH miners' exact parameters, replayed through
    * their lazy plan builders for the untimed candidate-stats pass;
    * the mined pair frame additionally feeds the planted-pair recall
    * sampler (round-6 verdict task 5 — the skew caps drop buckets at
    * a recall cost that was never measured per rung). SemDeDup has no
    * mine stats but gets the planted-detection rate from one verdict
    * re-run. */
  private def mineStatsFor(
      spark: SparkSession, dir: String, sf: Double, name: String)
      : (Option[MineStats], Option[RecallSampler.Recall]) = {
    import graft.ext.multimodal.Multimodal
    val cap = 1000 // every registered miner's maxBucketSize
    def docs = graft.Tables(spark, dir, "documents")
    def simhashRow(numChunks: Int) = {
      val (pairs, st) = materializeWithStats(NearDup.simhashPairsPlanFull(
        docs, "doc_id", "text", maxHamming = 3, cap, numChunks), "simhash", cap)
      (Some(st), Some(RecallSampler.simhashRecall(spark, dir, sf, pairs)))
    }
    // the image and audio rows share one hash frame between the miner
    // and the planted truth — the decode pass is the row's dominant
    // cost and must not run twice per rung. It is written to scratch
    // and read back, not cached: the miner caches its input and
    // materializeAndRelease unpersists it, and Dataset.cache() returns
    // the SAME object, so a caller-held cache of the frame would be
    // released with it and the truth pass would silently re-decode
    def hashRow(tag: String, hashed: DataFrame) = {
      val path = Scratch.dir(s"graft_${tag}_hashes") + "/hashes"
      hashed.write.parquet(path)
      val hashes = spark.read.parquet(path)
      val (pairs, st) = materializeWithStats(NearDup.hammingPairsPlanFull(
        hashes, docs.count(), maxHamming = 3, cap, numChunks = 0), tag, cap)
      (Some(st), Some(RecallSampler.phashRecallFromHashes(hashes, pairs)))
    }
    name match {
      case "docs_minhash_pairs" =>
        val (pairs, st) = materializeWithStats(NearDup.minhashPairsPlanFull(
          docs, "doc_id", "text", shingleSize = 2, bands = 16, rowsPerBand = 4,
          threshold = 0.5, cap), "minhash", cap)
        (Some(st), Some(RecallSampler.minhashRecall(spark, dir, sf, pairs)))
      case "docs_simhash_pairs" => simhashRow(numChunks = 0)
      // the registered wide row's exact parameters (numChunks = 5 —
      // the simhashSchemeFor selection past ~1.05 M docs); recall
      // truth is scheme-independent (exact hamming <= 3 on planted
      // pairs), so the same sampler measures what the 2-chunk
      // combination buckets + skew cap lose
      case "docs_simhash_pairs_wide" => simhashRow(numChunks = 5)
      case "multimodal_phash_pairs" =>
        hashRow("phash", Multimodal.dhashImages(Multimodal.phashCorpus(spark, docs)))
      case "multimodal_audio_fp_pairs" =>
        hashRow("afp", Multimodal.afpHashes(Multimodal.afpCorpus(spark, docs)))
      case "emb_semantic_dedup" =>
        val verdicts = graft.SparkEntry.queries(name)(spark, dir)
        (None, Some(RecallSampler.semdedupRecall(spark, sf, verdicts, dir)))
      case "emb_semantic_decontaminate" =>
        val flags = graft.SparkEntry.queries(name)(spark, dir)
        (None, Some(RecallSampler.semdeconRecall(spark, sf, flags, dir)))
      case _ => (None, None)
    }
  }

  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "target/synth"
    val sfs: Seq[Double] =
      if (args.length > 1) args.drop(1).map(_.toDouble).toSeq.sorted
      else Seq(0.1, 1.0, 3.16)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt.max(1)
    val cpus = graft.Launch.cpus
    // SPARK_GRAFT_ONLY=a,b restricts the heavy list (isolated reruns,
    // same contract as graft.Bench)
    val only = graft.Launch.only(heavy)
    // SPARK_GRAFT_SKIP=a,b drops named queries but — unlike ONLY —
    // keeps the run FULL: the at-rest builds still run and the skip is
    // recorded in the artifact note. Needed because the sf100 rung
    // deliberately excludes docs_simhash_pairs (its fixed pigeonhole
    // keyspace makes post-cap candidates ∝ n², so the cell would
    // measure the cap, not the engine) yet the
    // round-6 verdict asks for sf100 BUILD cells, which ONLY-mode
    // reruns skip.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    require((skip -- heavy.toSet).isEmpty,
      s"SPARK_GRAFT_SKIP names not in ScaleBench.heavy: " +
        s"${(skip -- heavy.toSet).toSeq.sorted.mkString(",")}")
    // Shuffle sizing must scale with the data or the ladder measures
    // memory pressure instead of the engine: a fixed 32-partition run
    // OOM'd the 316× rung's window+agg stages (UnsafeExternalSorter
    // couldn't acquire a single 16 KB page — 32 tasks each buffering
    // 1/32 of the corpus exhausted unified memory). The declarative
    // form of "more partitions at more data" is a high AQE initial
    // partition count: every shuffle STARTS fine-grained and AQE
    // coalesces small partitions back up, so per-task state is
    // bounded at every rung while small rungs keep big-partition
    // efficiency — exactly what a production cluster config does.
    //
    // Round 11 (verdict task 1 — the sf100 spill-onset class): BOTH
    // knobs now scale with the rung, set per-rung at runtime (they
    // are SQL confs):
    //  - initialPartitionNum grows linearly past sf10 (512 at sf10 —
    //    unchanged, cross-round comparable — ~1618 at sf31.6, 5120 at
    //    sf100), so a corpus-sized shuffle CAN be split finer;
    //  - the AQE advisory target shrinks past sf10 (64 MB at sf10 →
    //    16 MB at sf100): AQE coalesces by serialized target size, so
    //    a bigger initial count alone re-merges to the same ~64 MB
    //    tasks — and 64 MB serialized is ~5-10× that deserialized in
    //    window/agg state, which under 24 g ÷ 32 concurrent tasks is
    //    exactly the spill-onset regime the round-10 ladder measured
    //    (docs_embed_knn 101 GB memory spill at sf100). Shrinking the
    //    advisory target is the local-mode analogue of a cluster
    //    scaling executors with the data: per-task state stays at its
    //    sf10 level at every rung.
    def initialPartsFor(sf: Double): Int =
      math.max(512L, math.round(512.0 * sf / 10.0)).toInt
    def advisoryMbFor(sf: Double): Int =
      math.max(16L, math.round(64.0 / math.max(1.0, sf / 10.0))).toInt
    val spark = graft.Launch.session("graft-scalebench", cpus, Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        initialPartsFor(sfs.max).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${advisoryMbFor(sfs.max)}m"))
    val probe = graft.obs.Probe.attach(spark)
    def ms(t: Double) = (math.rint(t * 1000) / 1000).toString
    def mb(b: Long) = (math.rint(b / 1048576.0 * 10) / 10).toString

    // a corpus dir is reusable only if complete AND stamped with the
    // CURRENT generator version: the round-6 artifact reused every
    // rung (gen_sec all zero) with nothing recording which generator
    // wrote them — a distribution change would silently measure the
    // old corpus (round-6 advice). Version mismatch ⇒ regenerate.
    def ensureCorpus(sf: Double): (String, Double) = {
      val dir = s"$workDir/sf$sf"
      val done = new java.io.File(s"$dir/embeddings.parquet/_SUCCESS")
      if (done.exists() && SynthGen.dirVersion(dir).contains(SynthGen.version))
        (dir, 0.0)
      else {
        val t0 = System.nanoTime()
        SynthGen.generate(spark, dir, sf)
        (dir, (System.nanoTime() - t0) / 1e9)
      }
    }

    val selected = heavy.filter(q => only.forall(_.contains(q)) && !skip(q))
    val upsertQueries = Set("etl_upsert", "etl_upsert_partitioned")

    // Within-rung scratch-disk management (round-10 verdict task 2:
    // two consecutive rounds an sf100 cell died on host ENOSPC from
    // shuffle scratch accumulated by EARLIER rows in the same rung
    // JVM). Three parts:
    //  - a pre-row free-disk gate: a row scheduled when free scratch
    //    is below the floor is SKIPPED with an explicit recorded
    //    decision instead of dying mid-shuffle and voiding the cell;
    //  - a System.gc() between rows: shuffle files are deleted by the
    //    ContextCleaner only after their ShuffleDependency is GC'd, so
    //    an explicit collection between rows releases the previous
    //    rows' scratch instead of letting it stack until the JVM
    //    happens to collect;
    //  - per-rung high-water accounting in the artifact (free at rung
    //    start, minimum observed, the delta = scratch high-water).
    val scratchDir = sys.env.get("SPARK_LOCAL_DIRS")
      .map(_.split(",").head).filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir"))
    def freeGb: Double =
      math.rint(new java.io.File(scratchDir).getUsableSpace / 1e8) / 10
    val minFreeGb = 20.0
    // footprint-aware floors: rows whose own transient scratch exceeds
    // the generic floor would pass the gate and then ENOSPC mid-row —
    // the exact-string n-gram form shuffles ~27 GB of gram strings at
    // sf100 (the round-9/10 casualty; its production twin measures the
    // same plan at hash width, so skipping THIS row costs only the
    // oracle-contrast cell — the verdict-sanctioned demotion, applied
    // as an explicit gate instead of delisting)
    val perQueryFloorGb = Map("docs_ngram_dedup" -> 35.0)
    def floorFor(name: String): Double =
      math.max(minFreeGb, perQueryFloorGb.getOrElse(name, 0.0))

    // at-rest builds at min-of-N too: they are single-shot by design
    // (they land in the artifact store the query loop reads), which made
    // their cells the run's noise magnet on a shared host — a burst
    // during one rung's build phase wrote an 8×-elevated cell the
    // queries' min-of-2 would have filtered. Clearing the artifact
    // store between reps forces a true rebuild (it also drops the
    // Tables frames and the PQ/SQ quantizers, which the next read
    // rebuilds); after the last rep the builds are warm again for the
    // query loop.
    def measureBuilds(dir: String): Seq[(String, Either[String, Double])] = {
      val reps0 = (0 until reps).map { r =>
        if (r > 0) graft.Artifacts.clear()
        AtRestBuilds.measure(spark, dir)
      }
      reps0.transpose.map { attempts =>
        val name = attempts.head._1
        val oks = attempts.collect { case (_, Right(t)) => t }
        if (oks.nonEmpty) name -> Right(oks.min)
        else attempts.head
      }.toSeq
    }

    // measure one SF: explicit at-rest builds first (timed), then the
    // heavy loop at min-of-N — identical shape to graft.Bench
    def measure(dir: String, sf: Double)
        : (Seq[(String, Either[String, Double])], Seq[QueryPoint]) = {
      // per-rung shuffle sizing (both are runtime SQL confs): see the
      // session-builder comment
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartsFor(sf).toString)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisoryMbFor(sf)}m")
      val builds = if (only.isEmpty) measureBuilds(dir) else Seq.empty
      val qs = selected.map { name =>
        val fn = graft.SparkEntry.queries(name)
        val freeBefore = freeGb
        val repsSeen = Seq.newBuilder[Rep]
        var err: Option[String] = None
        if (freeBefore < floorFor(name))
          err = Some(s"SKIPPED by disk gate: scratch free ${freeBefore}GB < " +
            s"${floorFor(name)}GB floor (explicit decision, not a crash)")
        var r = 0
        while (r < reps && err.isEmpty) {
          if (upsertQueries(name)) graft.sinks.ParquetUpsertSink.resetIoStats()
          val before = probe.snapshot()
          val t0 = System.nanoTime()
          val ran =
            try {
              // Force.rows, not count(): a bare count lets Catalyst
              // prune pure-map projections to parquet metadata and
              // eliminate aggregate-keyed left joins — the flat
              // token_stats/keygen/lm_score rows of the earlier ladder
              // artifacts measured exactly that (round-7 fix)
              val rows = graft.tools.Force.rows(fn(spark, dir))
              Some((rows, (System.nanoTime() - t0) / 1e9))
            }
            catch { case NonFatal(e) =>
              err = Some(e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
              None
            }
          val window = probe.snapshot().since(before)
          ran.foreach { case (rows, sec) =>
            repsSeen += Rep(sec, rows, window,
              if (upsertQueries(name)) Some(graft.sinks.ParquetUpsertSink.ioStats)
              else None)
          }
          // which named stage carries the memory spill — the evidence
          // that adjudicates map-side-sort vs reduce-agg vs window
          // pressure; prints nothing when nothing spilled
          window.topSpillStages(6).foreach { s =>
            System.err.println(s"[scalebench]   spill $name rep$r: stage${s.id} " +
              s"mem=${s.memSpillBytes / 1048576}MB disk=${s.diskSpillBytes / 1048576}MB [${s.name}]")
          }
          r += 1
        }
        val best = repsSeen.result().sortBy(_.sec).headOption
        val (stats, recall) =
          if (err.isEmpty)
            try mineStatsFor(spark, dir, sf, name)
            catch { case NonFatal(_) => (None, None) }
          else (None, None)
        // hash-collision accounting for the hashed gram key (round-10
        // verdict task 6): one untimed stats pass per rung turns the
        // in-code birthday bound into a measured number. Gated on the
        // disk floor like the queries — its gram-string exchange is
        // the widest shuffle in the rung.
        // the stats pass shuffles distinct gram STRINGS (~25 GB at
        // sf100) — gated at the string-form floor, it is optional
        // telemetry and must never starve the rows behind it
        val gstats =
          if (name == "docs_ngram_dedup_hashed" && err.isEmpty &&
              freeGb >= perQueryFloorGb("docs_ngram_dedup"))
            try Some(graft.ext.dedup.BlockDedup.gramHashStats(
              graft.Tables(spark, dir, "documents"), "doc_id", "text",
              graft.CurationQueries.NgramW))
            catch { case NonFatal(_) => None }
          else None
        // release the row's scratch before the next row: reusable
        // tables (the events-sized upsert targets) are wiped
        // explicitly — wipe-at-call alone leaves the LAST copy on disk
        // until the tag's next invocation, which starved 14 sf100 rows
        // behind the upserts — and a GC lets the ContextCleaner delete
        // shuffle files whose dependencies are no longer referenced
        graft.tools.Scratch.wipeReusable()
        System.gc()
        // progress to stderr: a 30-minute detached run must be
        // observable before its final JSON line
        System.err.println(s"[scalebench] $dir $name " +
          best.map(r => f"${r.sec}%.2fs").getOrElse("-") +
          recall.map(rc => s" recall=${rc.rate}").getOrElse("") +
          gstats.map(g => s" collided_grams=${g.collidedGrams}").getOrElse("") +
          s" free=${freeGb}GB" +
          err.map(e => s" ERROR $e").getOrElse(""))
        QueryPoint(name, err, best, stats, recall, gstats, Some(freeBefore))
      }
      (builds, qs)
    }

    // warm-up corpus: a tenth of the smallest rung, clamped — JIT
    // warm-up only needs the plan SHAPES, and an unclamped sfs.min/10
    // would make a single-rung sf100 process warm up over a full sf10
    // corpus (an entire untimed rung's worth of work)
    val (dirW, _) = ensureCorpus(math.min(sfs.min / 10, 0.1))
    val rungs = sfs.map(sf => sf -> ensureCorpus(sf))

    // untimed JIT warm-up: every build and every heavy plan shape once,
    // against the tiny corpus (see scaladoc)
    if (only.isEmpty) AtRestBuilds.measure(spark, dirW)
    selected.foreach { q =>
      try graft.tools.Force.rows(graft.SparkEntry.queries(q)(spark, dirW))
      catch { case NonFatal(_) => () }
    }

    val measured = rungs.map { case (sf, (dir, gen)) =>
      spark.catalog.clearCache()
      val (builds, qs) = measure(dir, sf)
      (sf, gen, builds, qs)
    }

    // codebook residency per rung (round-6 verdict task 1 "done"
    // criterion): SemDeDup's K = n/250 codebook ROWS grow linearly
    // with the corpus while only the C = ceil(sqrt(K)) coarse vectors
    // are driver-resident plan literals — the artifact carries both so
    // the ladder demonstrates rows ∝ n with driver bytes ~sqrt(n)
    val codebookJson = measured.map { case (sf, _, _, _) =>
      val n = SynthGen.nEmb(sf)
      val k = graft.ext.dedup.SemanticDedup.scaledClusterCount(n)
      val c = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      s"""{"sf":$sf,"emb_rows":$n,"codebook_rows":$k,"coarse_vectors":$c,""" +
        s""""driver_floats":${c * 64},"fine_floats":${k.toLong * 64},""" +
        s""""simhash_chunks":${
          NearDup.simhashSchemeFor(SynthGen.nDocs(sf))}}"""
    }.mkString("[", ",", "]")

    val qJson = selected.map { name =>
      val points = measured.map { case (_, _, _, qs) => qs.find(_.name == name).get }
      // per-rung arrays with null for a rung that produced no
      // measurement — a single failure at the top rung must not
      // discard the curve beneath it (the error is recorded by rung)
      def arr(f: Rep => String): String =
        points.map(_.best.map(f).getOrElse("null")).mkString(",")
      // ratio over the rungs that actually MEASURED, labeled with the
      // sf span those rungs cover: if an end rung errors, a bare
      // last/first ratio would silently span a smaller corpus range
      // than the artifact's corpus_ratio implies (round-6 advice)
      val ok = sfs.zip(points).collect {
        case (sf, p) if p.best.isDefined => (sf, p.best.get.sec) }
      val ratio =
        if (ok.length >= 2 && ok.head._2 > 0) ok.last._2 / ok.head._2 else -1.0
      val ratioSpan =
        if (ok.length >= 2) ok.last._1 / ok.head._1 else -1.0
      val base =
        s""""sec":[${arr(r => ms(r.sec))}],""" +
          s""""rows":[${arr(_.rows.toString)}],""" +
          s""""shuffle_write_mb":[${arr(r => mb(r.window.shuffleWriteBytes))}],""" +
          s""""shuffle_read_mb":[${arr(r => mb(r.window.shuffleReadBytes))}],""" +
          s""""mem_spill_mb":[${arr(r => mb(r.window.memSpillBytes))}],""" +
          s""""input_read_mb":[${arr(r => mb(r.window.inputBytes))}],""" +
          s""""disk_spill_mb":[${arr(r => mb(r.window.diskSpillBytes))}],""" +
          s""""ratio":${ms(ratio)},"ratio_sf_span":${ms(ratioSpan)}"""
      val errJson = points.zip(measured).collect {
        case (p, (sf, _, _, _)) if p.err.isDefined =>
          "\"sf" + sf + "\":\"" + p.err.get + "\""
      }
      val errs =
        if (errJson.isEmpty) "" else s""","errors":{${errJson.mkString(",")}}"""
      val mine =
        if (points.exists(_.mineStats.isDefined))
          s""","lsh_stats":[${points.map(_.mineStats.map(_.json).getOrElse("null")).mkString(",")}]"""
        else ""
      val gram =
        if (points.exists(_.gramStats.isDefined))
          s""","gram_hash_stats":[${points.map(_.gramStats.map(_.json).getOrElse("null")).mkString(",")}]"""
        else ""
      val scratch =
        s""","scratch_free_gb":[${points.map(_.scratchFreeGb.map(_.toString).getOrElse("null")).mkString(",")}]"""
      val rec =
        if (points.exists(_.recall.isDefined))
          s""","planted_recall":[${points.map(_.recall.map(_.json).getOrElse("null")).mkString(",")}]"""
        else ""
      val io =
        if (points.exists(_.best.exists(_.upsertIo.isDefined)))
          s""","upsert_io":[${points.map(_.best.flatMap(_.upsertIo).map(_.json).getOrElse("null")).mkString(",")}]"""
        else ""
      "\"" + name + "\":{" + base + errs + mine + gram + scratch + rec + io + "}"
    }.mkString("{", ",", "}")

    def buildJson(bs: Seq[(String, Either[String, Double])]) =
      bs.map {
        case (k, Right(t)) => "\"" + k + "\":" + ms(t)
        case (k, Left(e)) => "\"" + k + "\":\"" + e.take(120) + "\""
      }.mkString("{", ",", "}")
    val buildsJson = measured.map { case (sf, _, builds, _) =>
      "\"sf" + sf + "\":" + buildJson(builds)
    }.mkString("{", ",", "}")

    // a filtered rerun skips the at-rest builds, so a build-dependent
    // query's first rep absorbs memoized build cost — recorded in the
    // partial artifact so a reader can't mistake it for steady state
    val note =
      if (only.nonEmpty)
        s""""note":"filtered rerun: at-rest builds skipped; first rep of """ +
          s"""build-dependent queries absorbs build cost","""
      else if (skip.nonEmpty)
        s""""note":"full run (builds) with queries skipped by """ +
          s"""design: ${skip.toSeq.sorted.mkString(",")}","""
      else ""
    // per-rung scratch summary: free at rung start (first measured
    // row's pre-check), minimum pre-row free seen in the rung, and
    // their delta — the rung's scratch high-water (verdict task 2:
    // "record scratch high-water per rung in the artifact")
    val scratchJson = measured.map { case (sf, _, _, qs) =>
      val frees = qs.flatMap(_.scratchFreeGb)
      val start = frees.headOption.getOrElse(freeGb)
      val mn = if (frees.nonEmpty) frees.min else start
      s""""sf$sf":{"dir":"$scratchDir","free_gb_start":$start,""" +
        s""""free_gb_min":$mn,"high_water_gb":${ms(start - mn)},""" +
        s""""gate_floor_gb":$minFreeGb}"""
    }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"scale_curve",$note"sfs":[${sfs.mkString(",")}],""" +
        s""""gen_version":"${SynthGen.version}",""" +
        s""""corpus_ratio":${ms(sfs.max / sfs.min)},"reps":$reps,""" +
        s""""cpus":$cpus,""" +
        s""""initial_partitions":[${sfs.map(initialPartsFor).mkString(",")}],""" +
        s""""advisory_mb":[${sfs.map(advisoryMbFor).mkString(",")}],""" +
        s""""scratch":$scratchJson,""" +
        s""""heap":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",""" +
        s""""gen_sec":[${measured.map(m => ms(m._2)).mkString(",")}],""" +
        s""""codebook_residency":$codebookJson,""" +
        s""""builds":$buildsJson,"queries":$qJson}"""
    // a filtered rerun must not clobber the full committed artifact;
    // SPARK_GRAFT_OUT redirects any run (e.g. the sf100 extension
    // ladder writes SCALE_BENCH_SF100.json, not the five-rung file)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT",
      if (only.isEmpty) "SCALE_BENCH.json" else "SCALE_BENCH_PARTIAL.json")
    val w = new java.io.PrintWriter(outFile)
    try w.println(detail) finally w.close()
    println(detail)
    spark.stop()
  }
}
