package graft.ext.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Inverted-index construction and index-routed sparse similarity —
  * the classic IR structures built relationally, so they scale the
  * way every other graft operator does (term-keyed shuffles, no
  * driver-held state).
  *
  * [[postings]] is the index build: term → (df, cf, capped posting
  * list). [[tfidfPairs]] is the index USE that matters for a training
  * pipeline: all-pairs document similarity above a threshold, routed
  * through the term table the way an inverted index routes a query —
  * two documents meet ONLY on terms they share, and stop terms are
  * df-pruned first, which is what bounds the candidate mass
  * (Σ df² ≤ maxDf · Σ df — LINEAR in the corpus for a fixed cap; the
  * same argument as the LSH miners' banding, with df in the role of
  * bucket size).
  *
  * Determinism / oracle parity: weights are integer idf surrogates
  * (`N·10⁶ div df` — `ln` has no cross-engine bit guarantee, the
  * docs_term_rank rule), dot products and norms accumulate in exact
  * DECIMAL, and the single float op (the final normalize) rounds to
  * 9 decimals — so the DuckDB replay is hash-exact end to end.
  */
object InvertedIndex {

  /** Posting lists per term: `(term, df, cf, doc_ids, tfs,
    * truncated)` with the lists ordered by doc_id and capped at
    * `maxPostings` entries (df/cf still count everything). The cap is
    * applied BEFORE list assembly via a per-term (partitioned, never
    * global) rank window, so a hot term's list buffer is
    * spill-bounded rather than df-sized in memory; this is the
    * block-capped posting shape real indexes use for stop-ish terms.
    * Two term-keyed shuffles (stats + lists), joined on the same key. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
      maxPostings: Int): DataFrame = {
    // data-scaled spread: the token explode feeds a (term, doc)
    // partial agg whose per-task key count tracks the exploded row
    // count (see spreadForExplode)
    val tf = TextFunctions.spreadForExplode(docs)
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy(col("term")).agg(
      count(lit(1)).as("df"),
      sum(col("tf")).as("cf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val lists = tf
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxPostings)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("ps"))
      .select(col("term"),
        transform(col("ps"), p => p.getField("doc_id")).as("doc_ids"),
        transform(col("ps"), p => p.getField("tf")).as("tfs"))
    // both sides are vocab-keyed aggregates; hash-build the narrow
    // stats side so the list side (arrays) never sorts
    lists.join(stats.hint("shuffle_hash"), Seq("term"))
      .select(col("term"), col("df"), col("cf"),
        col("doc_ids"), col("tfs"),
        (col("df") > maxPostings).as("truncated"))
  }

  /** Exact weight type: idf surrogates fit 18 digits at any plausible
    * corpus size (N·10⁶ ≤ 2.5e16 at 25 B docs), products fit the
    * (37,0) Spark infers, and group sums stay inside (38,0). */
  private val wDec = DecimalType(18, 0)

  /** IDF-weighted cosine similarity pairs over shingle SETS, mined
    * through the term table: `(doc_a, doc_b, cosine)` for every pair
    * sharing at least one surviving term with cosine ≥ `threshold`.
    *
    * Shape: shingle (distinct n-grams — set semantics, the MinHash
    * convention), df-aggregate, PRUNE terms with df > `maxDf` (stop
    * terms: tiny idf weight, quadratic candidate cost — dropping them
    * is the standard prefix-filter/DIMSUM-style trade and the reason
    * the pair join is linear in the corpus), then one term-keyed
    * self-join accumulates Σ idf² per pair and the per-doc norms
    * normalize it. Cosine here is over the PRUNED vocabulary on both
    * sides, so the measure stays a true cosine. */
  /** The `(doc, term, w)` weighted-term frame [[tfidfPairs]] persists
    * and fans out to its norm aggregate and both pair-join sides.
    * With `hashTerms` (the default) the whole pipeline — the df
    * aggregate, this cache, and the pair join — is keyed by
    * `xxhash64(term)` instead of the shingle STRING (the
    * dedupNgramsHashed trade, BlockDedup.scala): the term only ever
    * acts as a join/group key here, never as output, and the string
    * form is ~shingleN·avg-token-bytes per exploded occurrence, which
    * made the MEMORY_AND_DISK cache ~71 GB for a ~30 GB sf100
    * corpus — the 8-byte key is the production width. Collisions
    * merge two different shingles into one term: expected colliding
    * PAIRS ≈ d²/2⁶⁵ for d distinct shingles per the birthday bound
    * (~3·10⁴ at 10¹² grams — a vanishing cosine perturbation);
    * measured ZERO over 176 M distinct grams at sf100 for the same
    * hash (GramHashStats), and the string/hashed forms are pinned
    * output-identical on the test corpora (NgramHashParitySpec). */
  private[graft] def weightedTerms(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxDf: Long, nDocs: Long,
      hashTerms: Boolean): DataFrame = {
    // token array staged into its own projection (r15): the shingle
    // tree references its token argument ~2n+3× and zip_with is
    // CodegenFallback — raw tokens(text) re-tokenized the row per
    // reference; the multi-referenced non-cheap alias blocks
    // CollapseProject, pinning one tokenize per row (n=1 collapses
    // back to the single-ref plan)
    val strGrams = TextFunctions.spreadForExplode(docs)
      .select(col(idCol).as("doc"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("doc"),
        explode(TextFunctions.shinglesFromTokens(col("__toks"), shingleN))
          .as("term"))
    val grams =
      if (hashTerms) strGrams.select(col("doc"), xxhash64(col("term")).as("term"))
      else strGrams
    val dfs = grams.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // hash-build the pruned vocab side: the gram stream is corpus ×
    // shingles and an SMJ would sort it per task just to meet the
    // join ordering (the docs_embed_knn residual-spill class); the
    // build side is df-filtered vocab/partitions — bounded
    grams.join(dfs.hint("shuffle_hash"), Seq("term"))
      .select(col("doc"), col("term"),
        expr(s"CAST(${nDocs * 1000000L} AS BIGINT) div df").cast(wDec).as("w"))
  }

  def tfidfPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxDf: Long, threshold: Double,
      hashTerms: Boolean = true): DataFrame = {
    val (out, w) = tfidfPairsPlan(docs, idCol, textCol, shingleN, maxDf,
      threshold, hashTerms)
    // Eagerly materialize the (small, threshold-filtered) pair output
    // and release the corpus-sized weighted-term cache: without this
    // the MEMORY_AND_DISK blocks outlive the query for the rest of the
    // session (ENOSPC-prone at sf100), and CacheManager's plan match
    // would let bench rep 2+ time only the pair join (round-7 ADVICE).
    graft.ext.dedup.NearDup.materializeAndRelease(out, "tfidf", w)
  }

  /** The lazy plan behind [[tfidfPairs]] plus its cache handle — the
    * minhashPairsPlanFull idiom, so plan-shape tests and the r14 plan
    * dumps can inspect the MINING plan (the public method returns a
    * scan of the materialized output). */
  private[graft] def tfidfPairsPlan(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxDf: Long, threshold: Double,
      hashTerms: Boolean): (DataFrame, DataFrame) = {
    val nDocs = docs.count() // corpus size: one scalar of index metadata
    // data-scaled spread before the shingle explode: Spread.wide only
    // rescued NARROW scans (≤32 tasks), so a many-file sf100 scan kept
    // row-group-wide map tasks whose exploded gram stream sorted
    // rowGroupBytes × W per task into the term shuffle — the map-side
    // share of this query's 43 GB sf100 memory spill (the
    // spreadForExplode class)
    // the weighted term table feeds the norm aggregate AND both sides
    // of the pair join: persist it once or the shingle+df pipeline is
    // re-derived three times (the NearDup cache-at-fanout rule); with
    // hashTerms the persisted rows carry 8-byte term keys, not shingle
    // strings — see weightedTerms
    val w = weightedTerms(docs, idCol, textCol, shingleN, maxDf, nDocs, hashTerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nrm = w.groupBy(col("doc"))
      .agg(sum(col("w") * col("w")).as("nn"))
    // One exchange serves the pair aggregate AND the first norm join
    // (r14, guide §2.4): hash the candidate stream by doc_a — the
    // aggregate's required clustering (doc_a, doc_b) is satisfied by
    // the doc_a subset, and so is the doc_a norm join's, so the pair
    // stream crosses the network ONCE instead of three times
    // (term-join output → agg exchange → join-a exchange). Bonus: all
    // of a pair's shared terms now co-locate, so the partial combine
    // actually reduces multi-term pairs before the wire. Measured
    // sf10 rung min-of-2: 42.8 → 15.1 s (2.8×); sf0.1 3.26 → 3.11 s.
    val dots = w.select(col("term"), col("doc").as("doc_a"), col("w").as("wa"))
      .join(w.select(col("term"), col("doc").as("doc_b"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .repartition(col("doc_a"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    // norms are one narrow row per doc vs the candidate-mass dots
    // stream: hash-build them rather than sorting the pair stream
    // twice on its way out
    val out = dots
      .join(nrm.select(col("doc").as("doc_a"), col("nn").as("na"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(nrm.select(col("doc").as("doc_b"), col("nn").as("nb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("cosine", round(
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 9))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
    (out, w)
  }
}
