package graft.ext.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.dedup.NearDup

/** Image near-duplicate mining over perceptual hashes — the missing
  * multimodal curation operator: a 100 TB multimodal crawl carries the
  * same picture re-encoded, re-scaled, and brightness-shifted across
  * thousands of pages, and token-level dedup never sees it.
  *
  * Composition, not new machinery: [[Multimodal.phashCorpus]] encodes
  * real BMP/PNG blobs, [[MediaCodecs.dhash64]] reduces each DECODED
  * image to a 64-bit difference hash (brightness-invariant by
  * construction), and [[NearDup.hammingPairsPlanFull]] — the exact
  * pipeline behind `docs_simhash_pairs`, chunk-combination pigeonhole
  * buckets + skew cap + verify-BEFORE-dedup — mines hamming-≤h pairs.
  * Scale posture is inherited wholesale: the decode+hash stage is a
  * shuffle-free per-partition map, candidates stay bucketed (never
  * all-pairs), verification is one xor+popcount on in-row values
  * before the dedup exchange, and the adaptive scheme widens the
  * keyspace past ~1.05 M docs.
  *
  * Reference scope note: the reference pipeline (door2door-etl) has no
  * image operators at all; this extends the LLM-curation surface the
  * same way the text miners do.
  */
object MediaNearDup {

  /** Near-duplicate image pairs at `hamming <= maxHamming` over the
    * planted-family corpus derived from `docs` (one image per
    * doc_id). Output: (doc_a, doc_b, hamming), doc_a < doc_b. */
  def phashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      numChunks: Int = 0): DataFrame = {
    val hashes = Multimodal.dhashImages(Multimodal.phashCorpus(docs.sparkSession, docs))
    val (out, caches, _) = NearDup.hammingPairsPlanFull(
      hashes, docs.count(), maxHamming, maxBucketSize, numChunks)
    NearDup.materializeAndRelease(out, "phash", caches: _*)
  }

  /** Near-duplicate AUDIO pairs at `hamming <= maxHamming` over the
    * planted-family clip corpus derived from `docs` (one RIFF/WAVE
    * clip per doc_id). Same machinery as [[phashPairs]] with
    * [[MediaCodecs.afp64]] as the signature: the decode+fingerprint
    * stage is a shuffle-free per-partition map and the pigeonhole
    * miner, skew cap, and verify-before-dedup ordering are inherited
    * unchanged. Output: (doc_a, doc_b, hamming), doc_a < doc_b. */
  def audioFpPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      numChunks: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val hashes = Multimodal.afpHashes(Multimodal.afpCorpus(spark, docs))
    val (out, caches, _) = NearDup.hammingPairsPlanFull(
      hashes, docs.count(), maxHamming, maxBucketSize, numChunks)
    NearDup.materializeAndRelease(out, "afp", caches: _*)
  }

  /** The TRUE planted-pair frame for recall measurement over a
    * `(doc, sim)` hash frame: every within-family pair whose hashes
    * are within `maxHamming` (truth is scheme- and cap-independent —
    * exactly what the miner can lose to skew caps or, at hamming >
    * h·scheme bounds, never sees). Linear in the corpus: ≤ 6
    * pairs/family. */
  def plantedTruthFromHashes(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val fam = hashes.select(col("doc"), col("sim"),
      (col("doc") / 4).cast("long").as("__fam"))
    val a = fam.select(col("__fam"), col("doc").as("doc_a"), col("sim").as("sim_a"))
    val b = fam.select(col("__fam"), col("doc").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, "__fam")
      .filter(col("doc_a") < col("doc_b"))
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .select(col("doc_a"), col("doc_b"))
  }
}
