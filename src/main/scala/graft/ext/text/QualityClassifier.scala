package graft.ext.text

import graft.functions.PolyHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relationally-trained text quality classifier (round-8 verdict gap
  * #3) — the fastText-quality-filter posture of real LLM data
  * pipelines: a LINEAR model over hashed token features, trained by
  * iterated corpus passes, scored corpus-wide with the weight vector
  * riding the plan. It complements (does not replace) the
  * hand-weighted [[TextFunctions.qualityScoreFromTokens]] cheap gate.
  *
  * Model: batch subgradient descent on the perceptron loss with
  * class-balanced, harmonically-decayed steps, plus Gallant's POCKET
  * rule — the returned weights are whichever iterate (including the
  * zero start) misclassified fewest documents. Design notes, each
  * forced by the relational/oracle constraints:
  *  - per-iteration update = (centroid of misclassified POSITIVE
  *    docs) − (centroid of misclassified NEGATIVE docs), each class
  *    normalized separately: a plain `Σ y·x` batch step oscillates
  *    between the all-positive and all-negative half-spaces when
  *    classes are imbalanced (measured: it never left the baseline);
  *    the balanced step lands at a useful boundary in one pass;
  *  - every quantity is INTEGER fixed-point (×1000 weights, floor
  *    division with non-negative operands only — Scala `/` truncates
  *    toward zero while SQL `//` floors, so negatives never meet a
  *    division): training is bit-exact across engines and the DuckDB
  *    oracle retrains from scratch as generated per-iteration CTEs
  *    (the Lloyd/PageRank/BPE precedent) — logistic regression's
  *    `exp`/`ln` would have no cross-engine contract;
  *  - the pocket rule makes the output monotone in quality: w₀ = 0
  *    (predict-all-negative) is a candidate, so the trained model is
  *    NEVER worse than the majority-class baseline, and measured
  *    accuracy beats it by 6–10 points at every test scale.
  *
  * Training target (the distillation label): "natural prose" =
  * stopword density ≥ 8% (`25·stopHits ≥ 2·nTokens`, integer
  * compare) — the CCNet-style is-this-real-language signal, exactly
  * expressible in SQL and sitting near the corpus density median so
  * both classes are populated.
  *
  * Scale shape: the weight vector is Dim+1 = 257 longs (~2 KB) —
  * index metadata, held on the driver like the IVF codebook and
  * entering each pass as plan literals (under the 4 KB budget). Each
  * iteration is one corpus-keyed aggregate (margins), one filtered
  * re-aggregate partial-combined to ≤Dim+1 rows per task (the
  * class-split update sums), and a 257-row collect. No corpus-sized
  * driver state, no window, no cross join. Features are computed once
  * and cached across passes.
  */
object QualityClassifier {

  /** Hashed feature buckets; index Dim is the bias feature. 256 keeps
    * stopword buckets mostly uncontaminated (32 stopwords spread over
    * 256 buckets), which is what makes the density label
    * near-linearly-separable in count space — at 32 buckets every
    * stopword bucket is swamped by other vocabulary and no linear
    * boundary exists (measured). */
  val Dim = 256

  /** Fixed-point scale of the weight space. */
  val Scale = 1000L

  /** Pocket-training iterations of the REGISTRY query and the at-rest
    * build — one constant so the bench's build memo and the query's
    * lookup can never key on different iteration counts (the
    * RegistryRefSnapshotMaxId rationale). */
  val RegistryIters = 4

  /** All stopwords across the language inventories — the vocabulary
    * of the labeling rule. */
  val labelVocab: Seq[String] = TextFunctions.stopwords.flatMap(_._2)

  /** Per-document hashed token counts, long form (id, bucket, cnt),
    * plus a bias row (bucket = Dim, cnt = 1) for EVERY document —
    * blank documents carry only the bias, so every doc gets a margin. */
  def features(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // data-scaled barrier before the token explode (the sf100
    // spill-onset class — see TextFunctions.spreadForExplode)
    val toks = TextFunctions.spreadForExplode(docs).select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val counts = toks
      .groupBy(col(idCol),
        pmod(PolyHash.polyhash(col("tok"), 31), lit(Dim.toLong)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val bias = docs.select(col(idCol),
      lit(Dim.toLong).as("bucket"), lit(1L).as("cnt"))
    counts.unionByName(bias)
  }

  /** The integer label: +1 iff the doc has tokens and ≥8% of them
    * are stopwords (25·hits ≥ 2·n), else −1. */
  def labels(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // staged token projection (r15; the scoreMap staging rule): the
    // label predicate references the token array three times and a
    // flat select re-tokenized per reference
    val toks = col("__toks")
    val hits = TextFunctions.vocabHits(toks, labelVocab)
    docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        when(size(toks) > 0 && hits * 25 >= size(toks) * 2, lit(1))
          .otherwise(lit(-1)).as("y"))
  }

  /** Margin of every doc under a weight vector (inlined as a Dim+1
    * long literal — scheme metadata): Σ cnt·w[bucket], exact BIGINT. */
  private def margins(feats: DataFrame, idCol: String, w: Array[Long]): DataFrame = {
    val wLit = array(w.toIndexedSeq.map(lit): _*)
    feats.groupBy(col(idCol))
      .agg(sum(col("cnt") * element_at(wLit, col("bucket").cast("int") + 1))
        .as("margin"))
  }

  /** Misclassified docs under `w`: y·margin ≤ 0. */
  private def misclassified(feats: DataFrame, lab: DataFrame, idCol: String,
                            w: Array[Long]): DataFrame =
    margins(feats, idCol, w)
      .join(lab, idCol)
      .filter(col("y") * col("margin") <= 0)
      .select(col(idCol), col("y"))

  /** Pocket training: `iters` balanced-decayed batch steps, returning
    * the iterate (w₀…w_iters) with the fewest misclassified docs
    * (ties → earliest). Deterministic and integer-exact — the DuckDB
    * oracle replays the identical iteration chain. */
  def train(docs: DataFrame, idCol: String, textCol: String,
            iters: Int): Array[Long] = {
    // Hash-partition the cached features ONCE by the iteration key, at
    // the same data-scaled width the explode barrier uses: every pass
    // of the loop below aggregates or joins on idCol (margins'
    // groupBy, the misclassified join, the final per-bucket agg's
    // feats⋈mis side), so a cache partitioned by (idCol) makes each
    // of the ~2·iters+3 corpus-frame passes EXCHANGE-FREE — without
    // this, every pass re-shuffled the corpus-sized frame at the
    // session's initial partition count, which the round-11 scaled
    // ladder turned from 512 into 5120 at sf100 and the cell went
    // 133 → 901 s (flat at sf10 where the knobs match round 10:
    // the regression was per-iteration shuffles × knob scaling, not
    // the explode barrier).
    val width = TextFunctions.spreadWidth(docs)
    val feats = features(docs, idCol, textCol)
      .repartition(width, col(idCol)).cache()
    val lab = labels(docs, idCol, textCol)
      .repartition(width, col(idCol)).cache()
    try trainOnCached(feats, lab, idCol, iters)
    finally { feats.unpersist(); lab.unpersist() }
  }

  /** The pocket-training loop over ALREADY-CACHED, idCol-partitioned
    * feature/label frames — split out (r14) so [[trainAndScore]] can
    * reuse the SAME cached frames for its final scoring pass instead
    * of re-deriving the corpus explode+aggregate a third time. */
  private def trainOnCached(feats: DataFrame, lab: DataFrame,
                            idCol: String, iters: Int): Array[Long] = {
    var w = Array.fill(Dim + 1)(0L)
    val pocket = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
    var t = 1
    while (t <= iters) {
      // mis feeds exactly ONE consumer (the per-bucket aggregate), so
      // it rides the plan uncached — the .cache()/.unpersist() pair
      // that used to wrap it materialized every iteration's
      // misclassified set into block storage for a single read (r14)
      val mis = misclassified(feats, lab, idCol, w)
      // one aggregate: per-bucket misclassified count-sums split by
      // class, plus the two class sizes (partial-combined, tiny)
      val agg = feats.join(mis, idCol)
        .groupBy(col("bucket"))
        .agg(sum(when(col("y") === 1, col("cnt")).otherwise(0L)).as("up"),
          sum(when(col("y") === -1, col("cnt")).otherwise(0L)).as("un"))
        .collect()
      // class sizes ride the bias bucket (cnt=1 per doc)
      val biasRow = agg.find(_.getLong(0) == Dim.toLong)
      val np = biasRow.map(_.getLong(1)).getOrElse(0L)
      val nn = biasRow.map(_.getLong(2)).getOrElse(0L)
      pocket += ((np + nn) -> w.clone())
      // balanced decayed step: f(x) = x·Scale div (max(1,n_class)·t)
      // — operands non-negative on both sides of the subtraction, so
      // floor division agrees across engines
      val upd = agg.map { r =>
        r.getLong(0).toInt ->
          (r.getLong(1) * Scale / (math.max(1L, np) * t) -
            r.getLong(2) * Scale / (math.max(1L, nn) * t))
      }.toMap
      w = w.zipWithIndex.map { case (v, b) => v + upd.getOrElse(b, 0L) }
      t += 1
    }
    pocket += (misclassified(feats, lab, idCol, w).count() -> w)
    pocket.zipWithIndex.minBy { case ((err, _), i) => (err, i) }._1._2
  }

  /** [[train]] over a FIXED reference snapshot (`idCol < maxRefId`),
    * kept in [[graft.Artifacts]] — the CCNet/fastText-true posture
    * (round-9 verdict task 3, the [[NgramLm.cachedRefTrain]] twin): a
    * production quality filter trains ONCE on a labeled reference
    * corpus and scores any corpus against the frozen weights, so
    * training cost and model size stay FLAT as the scored corpus grows.
    * The model is Dim+1 = 257 longs (~2 KB of driver-held index
    * metadata — unlike the LM's vocab-sized table it needs no at-rest
    * parquet), entering every scoring pass as plan literals under the
    * 4 KB budget. The snapshot token invalidates the entry if the
    * corpus files are rewritten in place. */
  def cachedRefTrain(docs: DataFrame, idCol: String, textCol: String,
      maxRefId: Long, iters: Int, source: String): Array[Long] =
    graft.Artifacts.ofCorpus(docs, "quality-ref",
        (source, idCol, textCol, maxRefId, iters))(
      train(docs.filter(col(idCol) < maxRefId), idCol, textCol, iters))

  /** Corpus-wide scoring under trained weights: one aggregate pass,
    * weights as plan literals. Output: (id, label, margin, pred). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            w: Array[Long]): DataFrame = {
    val feats = features(docs, idCol, textCol)
    margins(feats, idCol, w)
      .join(labels(docs, idCol, textCol), idCol)
      .select(col(idCol), col("y").as("label"), col("margin"),
        when(col("margin") > 0, lit(1)).otherwise(lit(-1)).as("pred"))
  }

  /** The trained weight vector as an at-rest TABLE `(idx, weight)`,
    * idx 0..Dim with the bias at idx = Dim — the catalog-resident
    * form of the model, so a frozen classifier can live next to the
    * corpus it scores and the SQL surface (`graft_quality_score`)
    * takes it as a table argument: the same at-rest-model posture as
    * `graft_lm_score`'s model table, just Dim+1 rows instead of a
    * vocab-sized one. */
  def weightsTable(spark: org.apache.spark.sql.SparkSession,
      w: Array[Long]): DataFrame = {
    require(w.length == Dim + 1,
      s"weights must be Dim+1 = ${Dim + 1} long, got ${w.length}")
    import spark.implicits._
    w.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("idx", "weight")
  }

  /** Inverse of [[weightsTable]]: one BOUNDED collect (exactly Dim+1 =
    * 257 rows — index metadata, never corpus-sized) validating shape
    * and idx coverage, so a malformed model table fails loudly instead
    * of scoring with silently-zero buckets. */
  def weightsFromTable(model: DataFrame): Array[Long] = {
    val rows = model
      .select(col("idx").cast("int"), col("weight").cast("long"))
      .collect()
    require(rows.length == Dim + 1,
      s"quality model table must have exactly ${Dim + 1} rows " +
        s"(idx 0..$Dim), got ${rows.length}")
    val w = new Array[Long](Dim + 1)
    val seen = new Array[Boolean](Dim + 1)
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "null idx/weight in quality model table")
      val i = r.getInt(0)
      require(i >= 0 && i <= Dim && !seen(i),
        s"bad or duplicate idx $i in quality model table")
      seen(i) = true
      w(i) = r.getLong(1)
    }
    w
  }

  /** Train-then-score in one call (the registry query). Scoring
    * re-derives from the at-rest corpus AFTER train() has released
    * its caches — an r14 variant scored over the still-held training
    * caches with a scratch materialization to release them, which won
    * at sf0.1 but measured 16.1 → 20.2 s at the sf10 rung (the
    * corpus-sized scored output paid a scratch write + read-back
    * while both caches were still pinned); fresh derivation is the
    * scale-correct shape. Since r15 the scoring pass is [[scoreMap]]
    * (margin-identical, spec-pinned): one shuffle-free map pass
    * instead of the explode → (id,bucket) agg → per-id agg → label
    * join chain — measured 9.0 → 4.5 s at sf0.1 and 15.9 → 15.0 s at
    * the sf10 rung (training dominates there); the pure-scoring twin
    * (docs_quality_clf_ref) measured 7.3 → 1.2 s at sf10. */
  def trainAndScore(docs: DataFrame, idCol: String, textCol: String,
                    iters: Int): DataFrame =
    scoreMap(docs, idCol, textCol, train(docs, idCol, textCol, iters))

  /** Scoring as a PURE MAP — no shuffle, no per-doc aggregate, so it
    * runs STATELESS on a stream (the round-10 verdict task-5 twin)
    * AND is the fastest batch form: the per-doc margin
    * Σ_buckets cnt·w[bucket] + w[Dim] is identically a fold over the
    * token array of w[bucket(tok)] (cnt just counts tokens per
    * bucket), seeded with the bias weight. Same output columns as
    * [[score]] and pinned margin-identical to it in
    * QualityClassifierSpec. r15 measured the fold BEATING the
    * explode-aggregate chain at every scale (sf0.1 ONLY-cells 1.16 →
    * 0.41 s, sf10 rung 7.3 → 1.2 s — the r14 "partial-combined agg
    * wins at corpus scale" assumption was never measured and is
    * wrong: the agg pays explode rows + two hash aggs + a label join
    * for values one array pass computes), so the registry queries
    * score through THIS form; [[score]] remains the TVF surface
    * (SqlApiSpec plan-identity) and the at-rest-model batch API. */
  def scoreMap(docs: DataFrame, idCol: String, textCol: String,
               w: Array[Long]): DataFrame = {
    require(w.length == Dim + 1, s"weight vector must be ${Dim + 1} longs")
    val wLit = array(w.toIndexedSeq.map(lit): _*)
    // STAGED projections, deliberately (r15): a flat select would
    // reference the token array three times (margin fold, label size,
    // label hits) and the margin fold twice (margin + pred) — each
    // reference re-evaluates the full expression per row (tokenize
    // ×3, the 257-literal fold ×2) AND doubles the λ-array literal in
    // the analyzed plan past RegistryPlanGateSpec's 4 KB budget.
    // Multi-referenced non-cheap aliases block CollapseProject, so
    // each layer evaluates once.
    val toks = col("__toks")
    val margin = aggregate(toks, lit(w(Dim)),
      (acc, t) => acc + element_at(wLit,
        pmod(PolyHash.polyhash(t, 31), lit(Dim.toLong)).cast("int") + 1))
    val hits = TextFunctions.vocabHits(toks, labelVocab)
    val y = when(size(toks) > 0 && hits * 25 >= size(toks) * 2, lit(1))
      .otherwise(lit(-1))
    docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), y.as("label"), margin.as("margin"))
      .select(col(idCol), col("label"), col("margin"),
        when(col("margin") > 0, lit(1)).otherwise(lit(-1)).as("pred"))
  }
}
