package graft.ext.dedup

import graft.ext.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sub-document (paragraph/block-level) deduplication: split every
  * document into fixed-size token blocks, keep each distinct block
  * only at its FIRST occurrence corpus-wide (lowest doc id, then
  * block position), and reconstruct documents from their surviving
  * blocks — the line/paragraph-level dedup pass web-scale corpus
  * pipelines run (RefinedWeb/CCNet remove repeated boilerplate lines
  * across pages; fixed token blocks stand in for lines here because
  * the synthetic corpus has no line structure).
  *
  * Scale posture: one explode (corpus × blocks-per-doc rows, ids +
  * short block strings only), one shuffle keyed by block content for
  * the first-occurrence window, one shuffle back by doc id for
  * reconstruction. The block window sorts only within identical
  * blocks (group size = duplication factor, bounded by construction);
  * nothing is all-pairs.
  */
object BlockDedup {

  /** (id, n_blocks, n_kept, text_kept) per document; `text_kept`
    * rejoins the surviving blocks in position order. Documents whose
    * every block was seen earlier keep an empty string. */
  def dedupBlocks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 20): DataFrame = {
    // staged token projection (r15) — the lambda captures the token
    // array per element; see stringGrams
    val toks = col("__toks")
    // ceil(n/blockTokens) block slices; the final partial block keeps
    // its stragglers
    // empty docs produce zero blocks (sequence(0,-1) would throw, so
    // gate on token count); they are absent from the output like any
    // doc whose block list is empty
    val blocks = docs
      .select(col(idCol).as("doc"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(
        col("doc"),
        posexplode(
          when(size(toks) === 0, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(0),
                (ceil(size(toks) / lit(blockTokens.toDouble)) - 1).cast("int")),
              i => concat_ws(" ", slice(toks, i * blockTokens + 1, lit(blockTokens)))))))
      .select(col("doc"), col("pos"), col("col").as("block"))
    val firstSeen = blocks.withColumn("rk",
      row_number().over(
        Window.partitionBy(col("block"))
          .orderBy(col("doc"), col("pos"))))
    val kept = firstSeen.filter(col("rk") === 1)
    blocks.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_blocks"))
      .join(
        kept.groupBy(col("doc"))
          .agg(count(lit(1)).as("n_kept"),
            concat_ws(" ", array_sort(
              collect_list(struct(col("pos"), col("block"))))
              .getField("block")).as("text_kept")),
        Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** SHIFT-ROBUST exact-substring dedup: every overlapping token
    * W-gram (stride 1 — one gram per token position), first
    * occurrence corpus-wide wins (lowest doc id, then position,
    * within-doc repeats included), and every token covered by a
    * NON-first occurrence of any gram is removed — the
    * repeated-n-gram removal pass of "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al. 2022), where
    * [[dedupBlocks]]' aligned fixed blocks miss a duplicate shifted
    * by any non-multiple of the block size (a 19-token prefix defeats
    * block identity entirely — measured in NearDupStatsSpec).
    *
    * Plan shape: one gram explode (corpus × ~1 row per token; gram
    * strings make the shuffle ~W× the corpus bytes — exact strings
    * keep the result collision-free and the DuckDB oracle
    * byte-exact; [[dedupNgramsHashed]] is the production-width
    * variant), one first-occurrence window sorted only WITHIN
    * identical grams (group size = duplication factor), one
    * token-position explode, and a per-doc coverage window with a
    * BOUNDED (W−1)-row frame — nothing corpus-wide, nothing
    * all-pairs.
    *
    * @return (idCol, n_tokens, n_kept, text_kept) per non-empty doc;
    *         docs shorter than `gramTokens` carry no gram and are
    *         kept whole. */
  def dedupNgrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int = 20): DataFrame =
    dedupNgramsKeyed(docs, idCol, textCol, gramTokens, hashKey = false)

  /** [[dedupNgrams]] with the first-occurrence shuffle keyed by
    * `xxhash64(gram)` instead of the gram string — the production
    * posture at 100 TB: the gram-keyed exchange carries (doc, pos,
    * 8-byte key) instead of (doc, pos, ~W·avg-token-bytes string).
    * Measured in the ladder (SCALE_BENCH_SF100_REFORCED.json): the
    * QUERY's total shuffle roughly halves (the coverage-join and
    * reassembly shuffles are identical in both variants and make up
    * the rest); the gram exchange itself — the entire delta — drops
    * ~17× (~130-byte grams → 8-byte keys). The trade is hash
    * collisions: two
    * DIFFERENT grams sharing a 64-bit hash would dedup as one. At the
    * test corpora the output is pinned identical to the exact-string
    * form (NgramHashParitySpec); at 100 TB scale (~10¹² grams) the
    * birthday bound puts the expected number of colliding PAIRS
    * around 10¹²·(10¹²−1)/2/2⁶⁴ ≈ 3·10⁴ — a ~10⁻⁸ fraction of
    * tokens wrongly removed, the standard accepted trade of
    * suffix-array/hash-based dedup pipelines (Lee et al. 2022 use
    * exact suffix matching but production replications hash). */
  def dedupNgramsHashed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int = 20): DataFrame =
    dedupNgramsKeyed(docs, idCol, textCol, gramTokens, hashKey = true)

  /** Empirical collision measurement for the hashed key width
    * (round-10 verdict task 6): exact distinct gram strings vs
    * distinct 64-bit keys over the SAME gram frame the dedup
    * shuffles, so the in-code birthday bound (~3·10⁴ colliding pairs
    * per 10¹² grams) becomes a measured number per ladder rung.
    * `collided_grams = distinct_grams − distinct_hashes` counts grams
    * that share a key with a different gram minus one per collision
    * group — zero iff the hashed form's output is provably identical
    * to the string form's on this corpus. One untimed stats pass; the
    * two exact count-distincts ride one Expand aggregation and the
    * gram-string exchange it implies is why this is a stats pass, not
    * part of the measured query. */
  case class GramHashStats(
      grams: Long, distinctGrams: Long, distinctHashes: Long) {
    def collidedGrams: Long = distinctGrams - distinctHashes
    def json: String =
      s"""{"grams":$grams,"distinct_grams":$distinctGrams,""" +
        s""""distinct_hashes":$distinctHashes,"collided_grams":$collidedGrams}"""
  }

  def gramHashStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int = 20): GramHashStats = {
    val r = stringGrams(docs, idCol, textCol, gramTokens)
      .agg(count(lit(1)).as("g"),
        count_distinct(col("gram")).as("dg"),
        count_distinct(xxhash64(col("gram"))).as("dh"))
      .head()
    GramHashStats(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** (doc, pos, gram-string) at every start position p ∈ [0, n−W];
    * docs with n < W have none (sequence() would walk backwards —
    * same guard as dedupBlocks' empty case). */
  private def stringGrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int): DataFrame = {
    // STAGED token projection (r15; the scoreMap staging rule): the
    // gram transform's lambda body references the token array per
    // ELEMENT, and a lambda-captured non-trivial expression
    // re-evaluates per element — with `toks = tokens(text)` inline,
    // every doc re-TOKENIZED once per gram position (~n× per row; the
    // shinglesFromTokens warning, hit here at W=20). Projecting the
    // array first makes the per-element capture an attribute; the
    // multi-referenced non-cheap alias blocks CollapseProject.
    val toks = col("__toks")
    // data-scaled barrier before the W-gram explode — the heaviest
    // explode in the repo (~W× the token bytes; the sf100 spill-onset
    // class — see TextFunctions.spreadForExplode)
    TextFunctions.spreadForExplode(docs)
      .select(col(idCol).as("doc"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(
        col("doc"),
        posexplode(
          when(size(toks) < w, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(0), size(toks) - w),
              i => concat_ws(" ", slice(toks, i + 1, lit(w)))))))
      .select(col("doc"), col("pos"), col("col").as("gram"))
  }

  private def dedupNgramsKeyed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int,
      hashKey: Boolean): DataFrame = {
    val grams = keyedGrams(docs, idCol, textCol, gramTokens, hashKey)
    val dupStarts = grams.withColumn("rk",
        row_number().over(
          Window.partitionBy(col("gram"))
            .orderBy(col("doc"), col("pos"))))
      .filter(col("rk") > 1)
      .select(col("doc"), col("pos"), lit(1).as("dup"))
    assembleKept(docs, idCol, textCol, gramTokens, dupStarts)
  }

  /** Cross-batch incremental form of [[dedupNgramsHashed]] (the
    * streaming twin's per-batch kernel): a gram is duplicated if an
    * earlier occurrence exists WITHIN this batch (the batch window)
    * OR its hash is in `seenHashes` — the at-rest state of every
    * first occurrence from earlier batches (None before any batch
    * committed state). Returns
    * `(result, newHashes)`:
    *   - `result` — the batch operator's (id, n_tokens, n_kept,
    *     text_kept) under the extended duplicate rule;
    *   - `newHashes` — single `gram` LongType column: this batch's
    *     first-occurrence hashes NOT already seen, i.e. exactly the
    *     delta to append to the state table.
    * Feeding batches in id order makes the union of per-batch
    * results identical to one [[dedupNgramsHashed]] pass over the
    * concatenated corpus (first occurrence = lowest (batch, doc,
    * pos), and batch order refines doc order) — pinned in
    * StreamingSpec. State is 8 bytes per distinct gram, joined per
    * batch on the hash (broadcast when small, shuffle when not —
    * size-gated by AQE like every other join here). */
  def dedupNgramsHashedIncremental(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int,
      seenHashes: Option[DataFrame]): (DataFrame, DataFrame) = {
    val grams = keyedGrams(docs, idCol, textCol, gramTokens, hashKey = true)
    val ranked = grams.withColumn("rk",
      row_number().over(
        Window.partitionBy(col("gram"))
          .orderBy(col("doc"), col("pos"))))
    val firsts = ranked.filter(col("rk") === 1)
    val seen = seenHashes.getOrElse(firsts.select(col("gram")).limit(0))
    val dupStarts = ranked.filter(col("rk") > 1)
      .select(col("doc"), col("pos"))
      .union(firsts.join(seen, Seq("gram"), "left_semi")
        .select(col("doc"), col("pos")))
      .select(col("doc"), col("pos"), lit(1).as("dup"))
    val newHashes = firsts.join(seen, Seq("gram"), "left_anti")
      .select(col("gram"))
    (assembleKept(docs, idCol, textCol, gramTokens, dupStarts), newHashes)
  }

  /** (doc, pos, gram-key) — the gram key is projected BEFORE the
    * shuffle (projection collapsing folds the hash into the
    * explode-side select): the hashed form never carries the gram
    * string into the exchange. */
  private def keyedGrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      hashKey: Boolean): DataFrame = {
    val grams0 = stringGrams(docs, idCol, textCol, w)
    if (hashKey)
      grams0.select(col("doc"), col("pos"), xxhash64(col("gram")).as("gram"))
    else grams0
  }

  /** Coverage + reassembly tail shared by the batch and incremental
    * forms: token t is covered iff a duplicated gram STARTS in
    * [t−(W−1), t] — a running max over a bounded frame — and kept
    * tokens rejoin in position order. */
  private def assembleKept(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      dupStarts: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val positions = TextFunctions.spreadForExplode(docs)
      .select(col(idCol).as("doc"), posexplode(toks))
      .select(col("doc"), col("pos"), col("col").as("tok"))
    val covered = positions
      .join(dupStarts, Seq("doc", "pos"), "left")
      .select(col("doc"), col("pos"), col("tok"),
        max(coalesce(col("dup"), lit(0))).over(
          Window.partitionBy(col("doc")).orderBy(col("pos"))
            .rowsBetween(-(w - 1), 0)).as("cov"))
    covered.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov") === 0, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", array_sort(
          collect_list(when(col("cov") === 0,
            struct(col("pos"), col("tok")))))
          .getField("tok")).as("text_kept"))
      .select(col("doc").as(idCol), col("n_tokens"), col("n_kept"),
        col("text_kept"))
  }
}
