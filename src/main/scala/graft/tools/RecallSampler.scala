package graft.tools

import graft.ext.dedup.NearDup
import graft.ext.similarity.CosineKNN
import graft.ext.text.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-rung recall of the approximate miners against the PLANTED
  * near-dup structure (round-6 verdict task 5): LSH recall is
  * spec-asserted at fixture scale (LlmOpsSpec ≥0.9/≥0.8), but the
  * skew caps drop buckets at scale at a recall cost nothing
  * measured — 730 over-cap buckets at the 316× rung. SynthGen plants
  * 5% near-dup docs and 5% near-dup embeddings with a DETERMINISTIC
  * (dup, base) rule, so the ground truth at any rung is computable
  * without mining: regenerate the planted pair list from the rule,
  * keep the pairs that are TRUE positives under the miner's own
  * exact acceptance measure (Jaccard ≥ t / hamming ≤ h / cosine ≥ t
  * — a planted pair can legitimately fall below threshold), and
  * count how many the miner's output contains.
  *
  * All truth sets are O(planted) = 5% of the corpus: inputs are
  * semi-joined to the involved ids before any text/vector work.
  */
object RecallSampler {

  case class Recall(truth: Long, found: Long) {
    def rate: Double =
      if (truth > 0) math.rint(found.toDouble / truth * 10000) / 10000 else -1.0
    def json: String = s"""{"truth":$truth,"found":$found,"recall":$rate}"""
  }

  /** Canonical (doc_a < doc_b) planted doc pairs at `sf`. */
  private def plantedDocs(spark: SparkSession, sf: Double): DataFrame =
    SynthGen.plantedDocPairs(spark, sf).select(
      least(col("dup_id"), col("base_id")).as("doc_a"),
      greatest(col("dup_id"), col("base_id")).as("doc_b"))

  private def involvedIds(planted: DataFrame): DataFrame =
    planted.select(col("doc_a").as("doc_id"))
      .union(planted.select(col("doc_b").as("doc_id")))
      .distinct()

  /** Recall of a mined (doc_a, doc_b) pair frame against the planted
    * pairs that clear exact `shingleSize`-gram Jaccard ≥ `threshold`
    * (the MinHash miner's own verification measure). */
  def minhashRecall(
      spark: SparkSession, dir: String, sf: Double, pairs: DataFrame,
      shingleSize: Int = 2, threshold: Double = 0.5): Recall = {
    val planted = plantedDocs(spark, sf)
    val docs = graft.Tables(spark, dir, "documents")
      .join(involvedIds(planted), "doc_id")
      .select(col("doc_id"), TextFunctions.shinglesFromTokens(
        TextFunctions.tokens(col("text")), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    val truth = planted
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("__i") / (size(col("sh_a")) + size(col("sh_b")) - col("__i"))
        >= threshold)
      .select(col("doc_a"), col("doc_b"))
      .cache()
    try Recall(truth.count(),
      truth.join(pairs, Seq("doc_a", "doc_b"), "left_semi").count())
    finally truth.unpersist()
  }

  /** Recall against the planted pairs within hamming ≤ `maxHamming`
    * of each other (the SimHash miner's verification measure). */
  def simhashRecall(
      spark: SparkSession, dir: String, sf: Double, pairs: DataFrame,
      maxHamming: Int = 3): Recall = {
    val planted = plantedDocs(spark, sf)
    val sims = NearDup.withSimhash(
        graft.Tables(spark, dir, "documents")
          .join(involvedIds(planted), "doc_id")
          .select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("sim"))
    val truth = planted
      .join(sims.select(col("doc_id").as("doc_a"), col("sim").as("sim_a")), "doc_a")
      .join(sims.select(col("doc_id").as("doc_b"), col("sim").as("sim_b")), "doc_b")
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .select(col("doc_a"), col("doc_b"))
      .cache()
    try Recall(truth.count(),
      truth.join(pairs, Seq("doc_a", "doc_b"), "left_semi").count())
    finally truth.unpersist()
  }

  /** SemDeDup planted-dup detection rate: of the planted embedding
    * pairs whose exact rounded cosine clears the dedup threshold, the
    * fraction where the HIGHER id was dropped (`kept = false`). The
    * keep-lowest-id rule means a detected pair always drops the
    * higher id; a drop via some OTHER neighbor also counts — this is
    * the planted-structure DETECTION rate (did clustering route the
    * dup near enough to be caught), the quantity the cluster-probe
    * approximation can lose. `verdicts` is the (vec_id, list_id,
    * kept) frame the registered query produces. */
  def semdedupRecall(
      spark: SparkSession, sf: Double, verdicts: DataFrame,
      dir: String, threshold: Double = 0.3): Recall = {
    val planted = SynthGen.plantedEmbPairs(spark, sf).select(
      least(col("dup_id"), col("base_id")).as("id_a"),
      greatest(col("dup_id"), col("base_id")).as("id_b"))
    val emb = graft.Tables(spark, dir, "embeddings")
      .join(planted.select(col("id_a").as("vec_id"))
        .union(planted.select(col("id_b").as("vec_id"))).distinct(), "vec_id")
      .select(col("vec_id"), col("embedding"))
    val truth = planted
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .filter(CosineKNN.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("vec_id"))
      .cache()
    try Recall(truth.count(),
      truth.join(verdicts.filter(!col("kept")), Seq("vec_id"), "left_semi").count())
    finally truth.unpersist()
  }

  /** Semantic-decontamination planted detection rate: of the planted
    * embedding pairs that STRADDLE the registry row's split (one side
    * `vec_id % 7 = 0` — eval — the other train) and clear the exact
    * rounded-cosine threshold, the fraction whose TRAIN side is
    * flagged contaminated. A flag via some other eval neighbor also
    * counts — like [[semdedupRecall]], this measures whether the
    * eval-anchored clustering routed the pair into one cluster, the
    * thing the probe approximation can lose. `flags` is the
    * (vec_id, list_id, n_eval_hits, contaminated) frame the
    * registered query produces. */
  def semdeconRecall(
      spark: SparkSession, sf: Double, flags: DataFrame,
      dir: String, threshold: Double = 0.3): Recall = {
    val planted = SynthGen.plantedEmbPairs(spark, sf).select(
      col("dup_id").as("id_a"), col("base_id").as("id_b"))
    val straddle = planted
      .filter((col("id_a") % 7 === 0) =!= (col("id_b") % 7 === 0))
      .select(
        when(col("id_a") % 7 === 0, col("id_b")).otherwise(col("id_a")).as("train_id"),
        when(col("id_a") % 7 === 0, col("id_a")).otherwise(col("id_b")).as("eval_id"))
    val emb = graft.Tables(spark, dir, "embeddings")
      .join(straddle.select(col("train_id").as("vec_id"))
        .union(straddle.select(col("eval_id").as("vec_id"))).distinct(), "vec_id")
      .select(col("vec_id"), col("embedding"))
    val truth = straddle
      .join(emb.select(col("vec_id").as("train_id"), col("embedding").as("vt")), "train_id")
      .join(emb.select(col("vec_id").as("eval_id"), col("embedding").as("ve")), "eval_id")
      .filter(CosineKNN.cosine(col("vt"), col("ve")) >= threshold)
      .select(col("train_id").as("vec_id")).distinct()
      .cache()
    try Recall(truth.count(),
      truth.join(flags.filter(col("contaminated")), Seq("vec_id"), "left_semi").count())
    finally truth.unpersist()
  }

  /** Recall of a hamming miner over the image or audio corpus
    * against the corpus's OWN planted families (the media corpora
    * plant their near-dups by construction — doc_id/4 families — so no
    * SynthGen pair table is involved): truth is every within-family
    * pair of `hashes` at exact hamming ≤ 3, scheme- and
    * cap-independent. Pass the hash frame the miner just consumed —
    * re-running the corpus-wide decode pass for truth would double the
    * untimed stats pass at every rung. */
  def phashRecallFromHashes(hashes: DataFrame, pairs: DataFrame): Recall = {
    val truth = graft.ext.multimodal.MediaNearDup
      .plantedTruthFromHashes(hashes, maxHamming = 3)
      .cache()
    try Recall(truth.count(),
      truth.join(pairs, Seq("doc_a", "doc_b"), "left_semi").count())
    finally truth.unpersist()
  }
}
