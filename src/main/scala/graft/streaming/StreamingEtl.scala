package graft.streaming

import graft.config.EntitySchema
import graft.ext.text.TextFunctions
import graft.jobs.{HandlerJob, Pipelines}
import graft.operators.{EntitySplit, KeyGen}
import graft.sinks.ParquetUpsertSink
import graft.sources.JsonLinesSource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming variant of the reference pipeline (SURVEY.md
  * §2.7): the hourly-batch-with-cursor contract becomes a file-source
  * stream with checkpointed exactly-once progress.
  *
  * Correspondence to the reference's simulated-streaming mechanics:
  *  - monitor-table cursor → streaming checkpoint (file-source offsets);
  *  - hourly tumbling file buckets → event-time windows + watermark;
  *  - upsert-on-key idempotence → the hourly product's own keyed
  *    upsert ([[graft.sinks.ParquetUpsertSink.upsert]]) per
  *    micro-batch, on the deterministic surrogate key, so a re-sent
  *    key takes its latest payload however late it arrives;
  *  - retry-failed-hour → replayable source + checkpoint recovery.
  *
  * `Trigger.AvailableNow` gives the reference's batch cadence (drain
  * everything currently landed, then stop) while keeping incremental
  * state — the recommended modern form of "hourly incremental batch".
  * At scale the same topology runs continuously with a processing-time
  * trigger; state stores shard by key across executors.
  */
object StreamingEtl {

  /** Streaming read of the landing area: the ingestor's landing records
    * ([[graft.sources.JsonLinesSource.readStream]]) over the union
    * source schema. `maxFilesPerTrigger` is the ingestion rate limit: each
    * micro-batch takes at most that many files, so a backlog (or a
    * misbehaving upstream dumping thousands of files) drains as a
    * SEQUENCE of bounded batches instead of one unbounded one —
    * per-batch shuffle and sink commit sizes stay flat.
    * AvailableNow honors it while still draining to the end. */
  def eventStream(spark: SparkSession, landingDir: String,
      schemas: Seq[EntitySchema] = EntitySchema.reference,
      maxFilesPerTrigger: Int = 64): DataFrame =
    JsonLinesSource.readStream(spark, landingDir, Pipelines.unionSourceStruct(schemas),
      maxFilesPerTrigger)

  /** Run one AvailableNow drain of an entity into its warehouse table
    * at `outDir`; returns when drained. Each micro-batch takes the
    * hourly handler's path: the `on = entity` split,
    * [[graft.jobs.HandlerJob.entityPipeline]], then the keyed upsert
    * ([[upsertInto]]). Exactly-once: a replayed batch re-runs an
    * idempotent upsert. */
  def drainEntity(
      spark: SparkSession,
      landingDir: String,
      schema: EntitySchema,
      outDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 64): Unit = {
    val stream = eventStream(spark, landingDir, Seq(schema), maxFilesPerTrigger)
    val keyed = HandlerJob.entityPipeline(
      EntitySplit(stream, "on", Seq(schema.entity))(schema.entity), schema)
    eachBatch(keyed, checkpointDir, trigger = Trigger.AvailableNow())(
      upsertInto(outDir, KeyGen.columnName)).awaitTermination()
  }

  /** Hourly event counts per entity with a watermark — the streaming
    * twin of the reference's hourly file buckets. */
  def hourlyCounts(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    stream
      .withColumn("at_ts", col("at").try_cast("timestamp"))
      .withWatermark("at_ts", watermark)
      .groupBy(window(col("at_ts"), "1 hour"), col("on"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("hour_start"),
        col("on").as("entity"),
        col("n_events"))

  /** Streaming corpus dedup: fingerprint each incoming document and
    * keep only first-seen content — the streaming twin of
    * NearDup.exact for continuous ingestion pipelines. Without a
    * watermark the dedup state grows with distinct content —
    * [[dedupDocStreamBounded]] is the bounded-state variant for
    * streams with an event-time column. */
  def dedupDocStream(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .dropDuplicates("fingerprint")

  /** Bounded-state streaming dedup: `withWatermark` +
    * `dropDuplicatesWithinWatermark` on the content fingerprint. The
    * state store keeps a fingerprint only until the watermark passes
    * its event time + delay, so state size tracks the DISTINCT
    * CONTENT RATE × the watermark window instead of growing with the
    * whole corpus — the trade-off is that a duplicate arriving more
    * than `watermark` after its first copy is no longer recognized
    * (at-scale pipelines pair this with a periodic batch
    * [[graft.ext.dedup.NearDup.exact]] sweep for long-range dups).
    * This is the standard Structured Streaming state-bounding
    * contract; the exact variant above is the unbounded twin, and the
    * streaming bench measures both state curves side by side. */
  def dedupDocStreamBounded(
      docs: DataFrame,
      textCol: String,
      eventTimeCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** The static eval split's distinct n-gram set, broadcast — the
    * static side of both gram decontamination paths. Token arrays are
    * staged into their own projection (r15): the shingle tree
    * references its token argument ~2n+3× and zip_with is
    * CodegenFallback, so raw tokens(text) re-tokenized per reference;
    * the multi-referenced non-cheap alias blocks CollapseProject,
    * pinning one tokenize per row. */
  private def evalGramSet(evalDocs: DataFrame, textCol: String, n: Int): DataFrame =
    broadcast(evalDocs
      .select(TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(explode(TextFunctions.shinglesFromTokens(col("__toks"), n)).as("g"))
      .distinct())

  /** Streaming decontamination: flag incoming documents that share
    * n-gram shingles with a STATIC benchmark split — a stream-static
    * join, the standard shape for enriching/filtering a stream
    * against reference data. The static side's distinct gram set is
    * broadcast (stateless join — no streaming state at all), and the
    * per-doc overlap count aggregates in update mode. At scale the
    * static side is a benchmark suite (tiny) while the stream is the
    * ingest firehose; the stream side never shuffles before the
    * match. */
  def decontaminateStream(
      docStream: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    // plain count, not count_distinct (unsupported on streams): the
    // shingle arrays are already per-doc distinct and a document is
    // one stream row, so the exploded (doc, gram) pairs are unique
    docStream
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(TextFunctions.shinglesFromTokens(col("__toks"), n)).as("g"))
      .join(evalGramSet(evalDocs, textCol, n), Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))

  // ------------------------------------------------ exactly-once protocol

  /** The exactly-once protocol of the foreachBatch streams — the
    * paper's idempotent re-delivery (an upsert on a deterministic key,
    * SURVEY §2.7) in Structured Streaming form. foreachBatch is
    * at-least-once: a crash after a batch's writes but before its
    * offset commit replays the batch under the SAME `batchId` on
    * restart. Three rules make the committed output exactly-once:
    *  1. every write is [[writeBatch]]: the frame tagged
    *     `__batch_id = batchId`, committed as that one partition by
    *     the sink's staged promote ([[graft.sinks.ParquetUpsertSink]]),
    *     so a replay replaces its own partition instead of appending a
    *     second copy, and a crash mid-commit recovers to before or after;
    *  2. every state read is [[priorState]]: the sink's committed read
    *     ([[graft.sinks.ParquetUpsertSink.read]]), pinned to
    *     `__batch_id < batchId`, so a replay re-reads exactly the state
    *     its first attempt saw (its own delta excluded);
    *  3. a stateful stream writes its state delta FIRST and its output
    *     second ([[statefulAppend]]): a crash between the two replays
    *     under rules 1 and 2 and replaces both partitions.
    * This starts such a stream: Append mode, checkpointed offsets,
    * `body(batch, batchId)` per micro-batch. [[upsertStream]] and
    * [[scd2Stream]] get the same guarantee from the same sink instead
    * (keyed upsert, versioned history). */
  private def foreachBatchAppend(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(stream, checkpointDir, OutputMode.Append)(body)

  /** Start `stream` in `mode` under `trigger` with checkpointed
    * offsets, running `body(batch, batchId)` per micro-batch. */
  private def eachBatch(stream: DataFrame, checkpointDir: String,
      mode: OutputMode = OutputMode.Update, trigger: Trigger = Trigger.ProcessingTime(0L))(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** Rule 1 of [[foreachBatchAppend]]: batch `batchId`'s idempotent
    * write of `df` under `dir`. An empty `df` leaves `dir` as it was. */
  private def writeBatch(df: DataFrame, batchId: Long, dir: String): Unit =
    ParquetUpsertSink.stageAndPromote(df.sparkSession,
      df.withColumn("__batch_id", lit(batchId)), dir, Some("__batch_id"))

  /** Rule 2 of [[foreachBatchAppend]]: the state under `dir` as batch
    * `batchId` must see it — the committed deltas of earlier batches;
    * None until some batch committed state. `Long.MaxValue` reads
    * every committed delta. */
  private[graft] def priorState(
      s: SparkSession, dir: String, batchId: Long): Option[DataFrame] =
    ParquetUpsertSink.read(s, dir).map(_.filter(col("__batch_id") < batchId))

  /** Rule 3 of [[foreachBatchAppend]]: start a stateful stream whose
    * micro-batch `step(batch, prior)` turns the batch and its
    * [[priorState]] under `stateDir` into (output, state delta). The
    * delta lands under `stateDir` first, the output under `outDir`
    * second. */
  private def statefulAppend(stream: DataFrame, outDir: String, stateDir: String,
      checkpointDir: String)(
      step: (DataFrame, Option[DataFrame]) => (DataFrame, DataFrame)): StreamingQuery =
    foreachBatchAppend(stream, checkpointDir) { (batch, batchId) =>
      val (output, delta) = step(batch, priorState(batch.sparkSession, stateDir, batchId))
      writeBatch(delta, batchId, stateDir)
      writeBatch(output, batchId, outDir)
    }

  /** End-to-end streaming curation: continuous ingestion of raw
    * documents into a curated training corpus —
    *
    *  1. cross-batch exact dedup upstream of the sink
    *     ([[dedupDocStream]], the only STATEFUL stage: state size =
    *     distinct fingerprints, one long per doc);
    *  2. per micro-batch: quality gate, n-gram decontamination against
    *     the static eval split (exploded grams semi-joined to the
    *     broadcast gram set, then a left-anti back onto the batch —
    *     the batch twin of [[decontaminateStream]]), PII scrub on the
    *     survivors;
    *  3. land survivors in the curated corpus path under the
    *     [[foreachBatchAppend]] protocol.
    *
    * Everything per-batch is stateless and broadcast-joined, so the
    * firehose side never shuffles. */
  def curationStream(
      docStream: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      checkpointDir: String,
      n: Int = 3,
      minQuality: Double = 0.3): StreamingQuery = {
    val evalGrams = evalGramSet(evalDocs, textCol, n)
    foreachBatchAppend(dedupDocStream(docStream, textCol), checkpointDir) { (batch, batchId) =>
      // the batch feeds TWO branches of the final plan (the anti-join
      // probe and `contaminated`), and a foreachBatch batch re-executes
      // its whole upstream — including the STATEFUL dedupe operator —
      // once per branch (`persist()` does not reliably capture the
      // localized batch plan; measured: state commits doubled).
      // localCheckpoint materializes the batch ONCE and hands both
      // branches the stored blocks: single state commit, half the work.
      val b = batch.localCheckpoint()
      // quality gate over a staged token column (r15): the score
      // references the token array ~6× (size/stop-hits/length fold)
      // and re-tokenized per reference over raw text
      val good = b
        .withColumn("__toks", TextFunctions.tokens(col(textCol)))
        .filter(TextFunctions.qualityScoreFromTokens(
          col(textCol), col("__toks")) >= minQuality)
      val contaminated = good
        .select(col(idCol),
          explode(TextFunctions.shinglesFromTokens(col("__toks"), n)).as("g"))
        .join(evalGrams, Seq("g"))
        .select(col(idCol)).distinct()
      writeBatch(good.join(contaminated, Seq(idCol), "left_anti")
        .withColumn(textCol, TextFunctions.scrubPii(col(textCol)))
        .drop("fingerprint", "__toks"), batchId, outDir)
    }
  }

  /** Streaming upsert sink: every micro-batch MERGEs into a keyed
    * parquet table via foreachBatch + ParquetUpsertSink — the
    * streaming twin of the reference's ON CONFLICT loader, giving
    * last-write-wins per key ACROSS batches (dropDuplicates only
    * dedups within state). Returns the started query. */
  def upsertStream(
      stream: DataFrame,
      tablePath: String,
      key: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(stream, checkpointDir)(upsertInto(tablePath, key))

  /** The micro-batch body of [[upsertStream]] and [[drainEntity]]:
    * upsert the batch into the table at `tablePath` on `key`. */
  private def upsertInto(tablePath: String, key: String): (DataFrame, Long) => Unit =
    (batch, _) => ParquetUpsertSink.upsert(batch.sparkSession, batch, tablePath, key)

  /** Streaming SCD2 maintenance: each micro-batch is merged into the
    * type-2 history table with [[graft.operators.Scd2.mergeBatch]].
    *
    * Exactly-once across restarts without any side file:
    *  - the version is `batchId + 1` (foreachBatch's batchId is
    *    stable under checkpoint replay);
    *  - a replayed batch is detected by `valid_from == version`
    *    already present in the history and SKIPPED — merging is
    *    idempotent per version;
    *  - the history is the sink's committed read and the rewrite its
    *    staged promote ([[graft.sinks.ParquetUpsertSink]]); both run
    *    its `recover` first: a complete history exists at every instant.
    *
    * Per batch the merge is one per-key window over the BATCH plus
    * one equi join against history (Scd2's contract); Scd2Spec owns
    * the merge semantics, StreamingSpec drives this wrapper across
    * batches and a restart. */
  def scd2Stream(
      stream: DataFrame,
      tablePath: String,
      key: Seq[String],
      ord: Seq[org.apache.spark.sql.Column],
      checkpointDir: String): StreamingQuery =
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        val version = (batchId + 1).toInt
        val history = ParquetUpsertSink.read(s, tablePath)
        val alreadyApplied = history.exists(h =>
          !h.filter(col("valid_from") === version).isEmpty)
        if (!alreadyApplied)
          ParquetUpsertSink.stageAndPromote(s,
            graft.operators.Scd2.mergeBatch(history, batch, key, ord, version), tablePath)
      }
    }

  /** Streaming quality scoring against the AT-REST classifier model
    * (round-10 verdict task 5): the frozen
    * [[graft.ext.text.QualityClassifier.cachedRefTrain]] weights —
    * 257 longs of plan literals — score every incoming document as a
    * PURE MAP ([[graft.ext.text.QualityClassifier.scoreMap]]): no
    * shuffle, no watermark, no state store, so the same model scores
    * batch corpora and the ingest firehose identically. The model is
    * trained ONCE at rest and reused across every micro-batch — the
    * fastText/CCNet posture: model flat in the stream, scoring linear
    * in it. Output per doc: (idCol, label, margin, pred). */
  def scoreStream(
      docStream: DataFrame,
      idCol: String,
      textCol: String,
      w: Array[Long]): DataFrame =
    graft.ext.text.QualityClassifier.scoreMap(docStream, idCol, textCol, w)

  /** Streaming DSIR importance scoring: score the ingest firehose
    * against a FROZEN [[graft.ext.text.DsirModel]] (λ table + the
    * mean-relative selection threshold, trained ONCE at rest on a
    * reference target/raw snapshot — the same frozen-model posture as
    * [[scoreStream]]'s quality weights). The λ join itself is
    * STATELESS (broadcast static side — the stream never shuffles to
    * meet the model); the per-doc weight aggregate in update mode
    * carries ONE state row per doc seen (measured: state_rows = docs,
    * the [[decontaminateStream]] state class — bounded by documents,
    * not grams; at scale pair with a watermark on an event-time
    * column to evict settled docs, or run the scoring inside
    * foreachBatch where a doc never spans batches). The null-λ
    * sentinel union keeps blank docs present with a (0, 0, 0.0,
    * false) row. Batch and stream run the LITERAL same
    * [[graft.ext.text.Dsir.scoreAgainst]] code (the
    * `flagsFromAssigned` structural-parity idiom), so stream output
    * per doc is row-identical to scoring the same docs in one batch —
    * a doc's weight depends only on its own grams and the frozen
    * model. */
  def dsirScoreStream(
      docStream: DataFrame,
      idCol: String,
      textCol: String,
      model: graft.ext.text.DsirModel): DataFrame =
    graft.ext.text.Dsir.scoreAgainst(docStream, idCol, textCol, model,
      spread = false)

  /** Cross-batch hashed-gram dedup (round-10 verdict task 5): the
    * streaming twin of
    * [[graft.ext.dedup.BlockDedup.dedupNgramsHashed]]. Structured
    * Streaming's built-in stateful operators can't express this pass
    * (dedup state lives on GRAM keys while the output reassembles on
    * DOC keys — `dropDuplicates` drops the non-first rows the
    * coverage stage needs), so the state is an explicit AT-REST
    * hash table under `seenDir` — 8 bytes per distinct gram, the
    * standard at-rest-index posture of production streaming dedup —
    * and each micro-batch runs the incremental kernel
    * ([[graft.ext.dedup.BlockDedup.dedupNgramsHashedIncremental]]):
    * a gram is duplicated if seen earlier in the batch OR present in
    * the state table; the batch's genuinely-new first-occurrence
    * hashes are the state delta. Exactly-once: the
    * [[foreachBatchAppend]] protocol. */
  def ngramDedupStream(
      docStream: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      seenDir: String,
      checkpointDir: String,
      gramTokens: Int = 20): StreamingQuery =
    statefulAppend(docStream, outDir, seenDir, checkpointDir) { (batch, prior) =>
      // the batch feeds the gram ranking AND the coverage/reassembly
      // branches — materialize once (the curationStream lesson:
      // foreachBatch re-executes the upstream per branch)
      graft.ext.dedup.BlockDedup.dedupNgramsHashedIncremental(batch.localCheckpoint(),
        idCol, textCol, gramTokens, prior.map(_.select(col("gram"))))
    }

  /** Streaming per-domain frequency caps — the cross-batch twin of
    * [[graft.ext.text.DomainCap.cap]]: keep at most `maxPerDomain`
    * documents per domain across the WHOLE stream, first-N in arrival
    * order. State is at-rest per-batch deltas under `stateDir` —
    * `(domainCol, kept_n, max_kept_id, seen_n, __batch_id)`, one row
    * per domain touched by the batch — read back as an aggregate
    * (sum/max), the [[ngramDedupStream]] posture: built-in stateful
    * operators can't express "admit until a per-key budget is spent"
    * without buffering per-key rows, and the at-rest table is
    * domain-cardinality-sized, never corpus-sized. Exactly-once: the
    * [[foreachBatchAppend]] protocol.
    *
    * Per batch: the batch is first capped by the bounded-heap batch
    * operator (≤ N candidate rows per domain leave the map side — a
    * hot domain's firehose never reaches the state join), then the
    * ≤ N survivors rank against the domain's remaining budget (a
    * window BOUNDED at N rows per domain).
    *
    * Contract — ids unique and per-domain monotone across batches
    * (the arrival-order corpus convention): equality with the batch
    * operator's kept SET then holds because each domain's first N
    * arrivals are its N lowest ids. Enforced loudly EXACTLY where it
    * can change the result: a late id (at or below the domain's
    * `max_kept_id`) throws whenever the domain's cumulative pre-cap
    * arrival total exceeds the budget — in that case the batch
    * operator over the concatenated corpus would have kept a
    * different set (kept = min(seen, N) always, so this subsumes the
    * full-domain case AND the not-yet-full domain that overflows in
    * the same batch the late id arrives). A late id while the
    * domain's total is still within budget merely reorders arrivals
    * inside an identical kept set, so it is legal. Null domains are
    * one capped group, exactly as the batch operator's `groupBy`
    * treats them: the state join is null-safe (`<=>`), so a null
    * domain's budget persists across batches instead of resetting.
    * Output rows carry `n_domain_so_far` — the domain's
    * cumulative pre-cap total as of the emitting batch (a streaming
    * append can't know future totals; the batch operator's `n_domain`
    * is the final-batch value of this running count). */
  def domainCapStream(
      docStream: DataFrame,
      idCol: String,
      domainCol: String,
      maxPerDomain: Int,
      outDir: String,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    statefulAppend(docStream, outDir, stateDir, checkpointDir) { (batch, priorDeltas) =>
      val prior = priorDeltas.map(
        _.groupBy(col(domainCol))
          .agg(sum(col("kept_n")).as("__kept0"),
            max(col("max_kept_id")).as("__maxid"),
            sum(col("seen_n")).as("__seen0")))
      val capped = graft.ext.text.DomainCap.cap(
        batch.select(col(idCol), col(domainCol)), idCol, domainCol,
        maxPerDomain)
      val joined = prior match {
        // null-safe: a null domain is one capped group (the batch
        // operator's groupBy semantics) — Seq(domainCol) equi-join
        // would never match the null state key, resetting a null
        // domain's budget every batch
        case Some(st) =>
          val stR = st.withColumnRenamed(domainCol, "__st_dom")
          capped.join(stR, col(domainCol) <=> col("__st_dom"), "left")
            .drop("__st_dom")
        case None => capped
          .withColumn("__kept0", lit(null).cast("long"))
          .withColumn("__maxid", lit(null).cast("long"))
          .withColumn("__seen0", lit(null).cast("long"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(domainCol)).orderBy(col(idCol))
      // materialize: the ranked frame feeds the state delta AND the
      // output (foreachBatch re-executes upstream per branch)
      val ranked = joined
        .withColumn("__kept", coalesce(col("__kept0"), lit(0L)))
        // divergence condition, exactly: a late id changes the kept
        // set iff the domain's cumulative pre-cap total exceeds the
        // budget (kept = min(seen, N), so "full domain" is the
        // special case seen_prev >= N; an overflowing not-yet-full
        // domain diverges the same way and must throw too)
        .filter(assert_true(
          col(idCol) > coalesce(col("__maxid"), lit(Long.MinValue)) ||
            coalesce(col("__seen0"), lit(0L)) + col("n_domain")
              <= lit(maxPerDomain.toLong),
          lit(s"non-monotone '$idCol': a late id at or below the " +
            "domain's max kept id arrived while the domain's " +
            "cumulative arrivals exceed the budget — the kept set " +
            "would diverge from the batch operator " +
            "(domain-cap stream contract)")).isNull)
        .withColumn("__rn", row_number().over(w))
        .withColumn("__keptFlag",
          (col("__rn") <= lit(maxPerDomain.toLong) - col("__kept"))
            .cast("long"))
        .localCheckpoint()
      (ranked.filter(col("__keptFlag") === 1L)
        .select(col(idCol), col(domainCol),
          (col("n_domain") + coalesce(col("__seen0"), lit(0L)))
            .as("n_domain_so_far")),
        ranked.groupBy(col(domainCol))
          .agg(sum(col("__keptFlag")).as("kept_n"),
            max(when(col("__keptFlag") === 1L, col(idCol))).as("max_kept_id"),
            max(col("n_domain")).as("seen_n")))
    }

  /** Streaming semantic dedup (the last major curation operator
    * without a twin): each micro-batch of embedding rows is assigned
    * against a FROZEN at-rest codebook (`coarse` literals + the
    * distributed `fine` table — the production posture: the index is
    * trained once, the stream only assigns) and receives SemDeDup
    * verdicts against this batch plus all earlier batches via
    * [[graft.ext.dedup.SemanticDedup.verdictsIncremental]].
    *
    * State is the `ngramDedupStream` at-rest pattern: every assigned
    * vector lands under `stateDir` as `(vid, v, n, list_id)`, and the
    * kernel prunes the prior state to the batch's touched clusters.
    * Exactly-once: the [[foreachBatchAppend]] protocol.
    *
    * Batch parity (StreamingSpec): with id-monotone arrival the
    * concatenated verdict partitions equal
    * [[graft.ext.dedup.SemanticDedup.verdicts]] on the union corpus
    * (same codebook), row-identical. */
  def semanticDedupStream(
      vecStream: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[graft.ext.similarity.IvfKNN.Centroid],
      fine: DataFrame,
      outDir: String,
      stateDir: String,
      checkpointDir: String,
      threshold: Double = 0.3,
      probes: Int = 2): StreamingQuery =
    statefulAppend(vecStream, outDir, stateDir, checkpointDir) { (batch, prior) =>
      graft.ext.dedup.SemanticDedup.verdictsIncremental(batch.localCheckpoint(),
        idCol, vecCol, coarse, fine, threshold, probes,
        prior.map(_.select(col("vid"), col("v"), col("n"), col("list_id"))))
    }

  /** Stream-static semantic decontamination — the streaming twin of
    * [[graft.ext.dedup.SemanticDedup.decontaminate]], and the
    * embedding-space sibling of [[decontaminateStream]]'s gram
    * overlap: the eval (benchmark) corpus is AT REST — assigned once
    * against the frozen eval-anchored codebook
    * ([[graft.ext.dedup.SemanticDedup.assigned]] produces
    * `evalAssigned`) — and each micro-batch of train vectors assigns
    * against the SAME codebook and joins the static eval-assigned
    * table by cluster. Verdicts depend only on the batch row and the
    * static eval side, so the stream is STATELESS (unlike
    * [[semanticDedupStream]], whose drop rule couples batches):
    * exactly-once is the [[foreachBatchAppend]] protocol's idempotent
    * write alone, and batch/stream parity is structural — both paths
    * call the same
    * [[graft.ext.dedup.SemanticDedup.flagsFromAssigned]] kernel
    * (StreamingSpec pins concatenated stream output row-identical to
    * the batch operator). */
  def semanticDecontaminateStream(
      vecStream: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[graft.ext.similarity.IvfKNN.Centroid],
      fine: DataFrame,
      evalAssigned: DataFrame,
      outDir: String,
      checkpointDir: String,
      threshold: Double = 0.3,
      probes: Int = 2): StreamingQuery =
    foreachBatchAppend(vecStream, checkpointDir) { (batch, batchId) =>
      // localCheckpoint: the assigned batch feeds the pair join and
      // the output spine (the curationStream lesson)
      val t = graft.ext.dedup.SemanticDedup
        .assigned(batch, idCol, vecCol, coarse, fine, probes)
        .localCheckpoint()
      writeBatch(graft.ext.dedup.SemanticDedup
        .flagsFromAssigned(t, evalAssigned, idCol, threshold), batchId, outDir)
    }

  /** Watermarked stream-stream join: each purchase matched to clicks
    * from the same user within the preceding hour. Both sides carry
    * watermarks so join state is bounded and late rows are dropped —
    * the canonical attribution-join topology. */
  def purchaseAttribution(
      purchases: DataFrame, // user_id, ts, purchase_id
      clicks: DataFrame,    // user_id, ts, click_id
      watermark: String = "2 hours"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark).as("p")
    val c = clicks.withColumnRenamed("ts", "click_ts")
      .withWatermark("click_ts", watermark).as("c")
    p.join(c,
      expr("""p.user_id = c.user_id AND
              click_ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"""))
  }

  // ------------------------------------------------- stateful sessionization

  case class SessionInput(userId: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOutput(userId: Long, nEvents: Long, sumValue: Double,
      startMs: Long, endMs: Long)

  /** Gap-based sessionization with explicit state
    * (`flatMapGroupsWithState`): emits a session when the gap between
    * consecutive events exceeds `gapMs`, or on EVENT-TIME state
    * timeout — once the watermark passes a user's last event + gap,
    * their open session is flushed and the state REMOVED, so state
    * stays bounded by currently-active users instead of growing with
    * every user ever seen. (Event-time, not processing-time: the flush
    * condition is the same gap the in-batch check uses, it needs no
    * continuous empty-batch triggering, and it is deterministic under
    * replay.) State is per-user and sharded by the streaming state
    * store — the custom-state primitive the DataFrame window version
    * cannot express incrementally.
    *
    * @param watermark max event lateness before the flush clock
    *                  advances (also bounds how late a session-
    *                  extending event may arrive) */
  def sessionize(
      events: Dataset[SessionInput],
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"): Dataset[SessionOutput] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionOutput](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: flush the open session
            val s = state.get
            state.remove()
            Iterator.single(SessionOutput(userId, s.n, s.sum, s.start, s.last))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOutput]
            sorted.foreach { e =>
              val t = e.ts.getTime
              st match {
                case null =>
                  st = SessionState(t, t, 1, e.value)
                case s if t - s.last > gapMs =>
                  out += SessionOutput(userId, s.n, s.sum, s.start, s.last)
                  st = SessionState(t, t, 1, e.value)
                case s =>
                  st = SessionState(s.start, t, s.n + 1, s.sum + e.value)
              }
            }
            if (st != null) {
              state.update(st)
              // flush once the watermark clears last+gap; clamp above
              // the current watermark (required by the API when a
              // late-arriving batch would otherwise set it in the past)
              state.setTimeoutTimestamp(
                math.max(st.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }
}
