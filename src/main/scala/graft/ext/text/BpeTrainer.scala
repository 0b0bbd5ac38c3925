package graft.ext.text

import graft.ext.dedup.NearDup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING, re-expressed relationally —
  * the Sennrich-style learn-merges loop (count adjacent symbol pairs,
  * merge the most frequent, repeat) with every step a DataFrame
  * operation and the learned merges themselves DATA, never driver
  * state.
  *
  * Scale shape (why this survives a 100 TB corpus):
  *  - the ONLY corpus-sized pass is the word-frequency aggregation
  *    (map-side partial count over whitespace tokens). Everything
  *    after runs on the VOCABULARY table — Heaps-law sublinear in the
  *    corpus (tens of millions of rows at web scale, not billions);
  *  - each merge iteration is two vocab-sized jobs: an adjacent-pair
  *    count aggregation (map-side partial, one shuffle) and a
  *    map-only symbol-array rewrite. Nothing is ever collected: the
  *    winning pair rides a one-row broadcast join into the rewrite
  *    expression's lambda, so the driver never holds a symbol;
  *  - the evolving words frame is `localCheckpoint`ed per iteration.
  *    This is a LINEAGE CUT, not a performance cache: iteration i+1's
  *    plan references iteration i's frame twice (once directly, once
  *    inside the argmax subtree), so an uncut lineage doubles per
  *    iteration — 2^merges plan copies by the end. Checkpointing makes
  *    plan size and execution both linear in the merge count (the
  *    same fix as [[graft.ext.dedup.DupGroups]]' fixpoint);
  *  - APPLYING a trained tokenizer is vocab-sized too: distinct words
  *    join the trained (word → pieces) table, then documents join
  *    that by word — BPE segmentation is a pure function of the word,
  *    so the corpus-sized side does equi-joins only, never the
  *    per-character fold.
  *
  * Determinism (the DuckDB-oracle contract, SURVEY §8.4): pair counts
  * are exact longs; the winning pair is argmax with a total tie-break
  * (count desc, then left asc, right asc over ASCII strings); the
  * rewrite is the standard leftmost-greedy non-overlapping scan. The
  * oracle replays the greedy scan as a windowed "odd position within
  * each run of consecutive candidates" selection, which is equivalent:
  * candidate starts at distance ≥ 2 never interact, and within a run
  * of consecutive candidate starts (possible only when left = right,
  * e.g. "aaaa") the greedy scan takes exactly the 1st, 3rd, 5th…
  * ([[BpeSpec]] pins the fold against a plain-Scala reference on
  * adversarial run cases).
  *
  * Tokenization is [[TextFunctions.tokens]] (lowercased whitespace
  * split) and initial symbols are single characters via
  * `regexp_extract_all(word, '.')` — both engine-portable. No
  * end-of-word marker: merges never span word boundaries because the
  * unit of rewrite is the word, and a marker would only change which
  * subwords are learned, not the algorithm under test.
  */
object BpeTrainer {

  /** Merge count used by the registry queries and the at-rest build —
    * one constant so the bench builds exactly what the queries
    * consume. */
  val RegistryMerges = 8

  /** (word, freq): corpus word frequencies — the one corpus-sized
    * aggregation; its output is vocabulary-sized. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    TextFunctions.spreadForExplode(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** (word, freq, syms): initial symbol arrays = single characters. */
  def initSymbols(wordFreq: DataFrame): DataFrame =
    wordFreq.select(col("word"), col("freq"),
      regexp_extract_all(col("word"), lit("."), lit(0)).as("syms"))

  /** The most frequent adjacent symbol pair: one row (l, r, pair_freq),
    * ties broken (l, r) ascending. Adjacent-pair counting includes
    * overlapping occurrences ("aaa" contributes (a,a) twice), matching
    * the reference BPE statistic. */
  def bestPair(words: DataFrame): DataFrame =
    words.select(col("freq"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("pair_freq"))
      .orderBy(col("pair_freq").desc, col("l"), col("r"))
      .limit(1)

  /** Rewrite every word's symbol array, merging the pair carried by
    * `best` (one row: l, r) leftmost-greedy non-overlapping. The pair
    * reaches the fold through a broadcast cross join — one row by
    * construction — so the rewrite stays a map-only pass with no
    * driver-held symbols. */
  def applyPair(words: DataFrame, best: DataFrame): DataFrame = {
    val tagged = words.crossJoin(
      broadcast(best.select(col("l").as("_ml"), col("r").as("_mr"))))
    // Greedy scan as a fold: state = (emitted prefix, buffered symbol).
    // Buffered L followed by R emits the merged LR and clears the
    // buffer (so the R cannot also start a merge — non-overlap);
    // anything else flushes the buffer and re-buffers the current
    // symbol. The finish step flushes a trailing buffer.
    val merged = aggregate(
      col("syms"),
      struct(array().cast("array<string>").as("acc"),
        lit(null).cast("string").as("prev")),
      (st, x) => {
        val acc  = st.getField("acc")
        val prev = st.getField("prev")
        val hit  = prev === col("_ml") && x === col("_mr")
        struct(
          when(prev.isNull, acc)
            .when(hit, concat(acc, array(concat(prev, x))))
            .otherwise(concat(acc, array(prev))).as("acc"),
          when(prev.isNull, x)
            .when(hit, lit(null).cast("string"))
            .otherwise(x).as("prev"))
      },
      st =>
        when(st.getField("prev").isNull, st.getField("acc"))
          .otherwise(concat(st.getField("acc"), array(st.getField("prev")))))
    tagged.select(col("word"), col("freq"), merged.as("syms"))
  }

  /** Train `numMerges` merges. Returns
    * (merges: (merge_rank, left_sym, right_sym, pair_freq),
    *  finalWords: (word, freq, syms) after all merges) — both
    * vocabulary-sized frames backed by materialized checkpoints.
    * Stops early if the corpus runs out of pairs (every word reduced
    * to a single symbol) — merges then carries the ranks learned so
    * far. */
  def train(docs: DataFrame, textCol: String, numMerges: Int)
      : (DataFrame, DataFrame) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    var words = initSymbols(wordFreqs(docs, textCol)).localCheckpoint(true)
    val merges = Seq.newBuilder[DataFrame]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      // one-row frame; eager checkpoint runs the vocab-sized argmax
      // job AND lets the previous words frame be freed safely after
      // the rewrite below materializes
      val best = bestPair(words).localCheckpoint(true)
      if (best.isEmpty) { exhausted = true }
      else {
        merges += best.select(lit(rank).cast("int").as("merge_rank"),
          col("l").as("left_sym"), col("r").as("right_sym"),
          col("pair_freq"))
        val next = applyPair(words, best).localCheckpoint(true)
        NearDup.freeCheckpoint(words)
        words = next
        rank += 1
      }
    }
    val learned = merges.result()
    if (learned.isEmpty) {
      // degenerate corpus (empty, or every word a single symbol):
      // an empty merge table with the contract schema, not a throw
      val empty = docs.sparkSession.emptyDataFrame
        .select(lit(0).cast("int").as("merge_rank"),
          lit("").as("left_sym"), lit("").as("right_sym"),
          lit(0L).as("pair_freq"))
        .limit(0)
      (empty, words)
    } else (learned.reduce(_.union(_)), words)
  }

  /** [[train]] held in [[graft.Artifacts]] per (corpus snapshot,
    * source, text column, merge count) — a tokenizer is an AT-REST
    * artifact like an IVF codebook: trained once when the corpus is
    * built, reused by every query; retraining per query would bill
    * build cost to query latency. Both frames are written to scratch
    * parquet and the training checkpoints freed, so the entry pins no
    * executor storage — the [[NgramLm.cachedRefTrain]] posture. */
  def cachedTrain(docs: DataFrame, textCol: String, numMerges: Int,
      source: String): (DataFrame, DataFrame) =
    graft.Artifacts.ofCorpus(docs, "bpe", (source, textCol, numMerges)) {
      val (merges, words) = train(docs, textCol, numMerges)
      try (NearDup.materializeAndRelease(merges, "bpe_merges"),
        NearDup.materializeAndRelease(words, "bpe_words"))
      finally { NearDup.freeCheckpoint(merges); NearDup.freeCheckpoint(words) }
    }

  /** Per-document piece statistics under a trained tokenizer:
    * (idCol, n_tokens, n_pieces, pieces_per_token). The per-word
    * piece count comes from `finalWords` (BPE segmentation is a pure
    * function of the word), so the corpus side is explode + equi-join
    * + aggregate — the fold never touches a document. Documents with
    * no tokens report 0/0/0.0. */
  def tokenStats(docs: DataFrame, finalWords: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val vocab = finalWords.select(col("word"),
      size(col("syms")).cast("long").as("n_sym"))
    // hash-build the vocab side (distinct trained words —
    // Heaps-sublinear in the corpus): the exploded word stream is
    // corpus × tokens and must never sort to meet the join (the
    // docs_embed_knn residual-spill class)
    val perDoc = TextFunctions.spreadForExplode(docs)
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("word"))
      .join(vocab.hint("shuffle_hash"), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_pieces"))
    // perDoc is three longs per doc — hash-build it (the NgramLm.score
    // shape)
    docs.select(col(idCol)).join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_pieces").cast("double") / col("n_tokens"))
          .as("pieces_per_token"))
  }
}
