package graft.ext.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model scoring — the CCNet/Gopher
  * "perplexity-style" quality signal, re-expressed relationally so it
  * runs as joins + aggregations instead of a per-row model lookup
  * against driver state.
  *
  * Model = conditional bigram frequencies over a training corpus:
  * score(w1 w2) = ⌊SCALE · c(w1,w2) / c(w1)⌋ — an integer surrogate
  * for log P(w2|w1) (higher = more predictable text). Integer floor
  * division keeps every intermediate exact, so the DuckDB oracle
  * replays the whole pipeline hash-identically (the same trick as
  * docs_term_rank's integer-scaled idf: `ln`/`log` have no
  * cross-engine bit guarantee, ⌊a·S/b⌋ does).
  *
  * Scale shape (the reason this is joins, not a broadcast dictionary):
  *  - unigram + bigram counts are corpus aggregations — map-side
  *    partial, one shuffle each, output bounded by the VOCABULARY
  *    (Heaps-law sublinear in the corpus), not the corpus;
  *  - the model join (bigram counts ⋈ unigram counts on w1) runs over
  *    the vocab-sized tables only;
  *  - per-doc scoring joins the exploded bigram stream against the
  *    model on (w1,w2) — an equi-join that hash-co-partitions both
  *    sides; hot bigrams ("of the") are ordinary AQE join skew;
  *  - nothing is collected: at 100 TB the model is an at-rest table
  *    (train once on a reference corpus, score any corpus against it),
  *    which is why [[train]] and [[score]] are separate entry points.
  *
  * No UDFs anywhere — tokenization and pairing are higher-order array
  * expressions inside WholeStageCodegen.
  */
object NgramLm {

  /** Fixed-point scale for the conditional-frequency surrogate. */
  val Scale = 1000000L

  /** The registry's fixed reference-snapshot bound (docs_lm_score_ref
    * trains on `doc_id < RegistryRefSnapshotMaxId`). ONE constant
    * shared by the query, its oracle, and the at-rest build — if the
    * bench built a model under a different bound, the memo keys would
    * diverge and the query's first timed rep would silently absorb
    * full training cost. */
  val RegistryRefSnapshotMaxId = 5000L

  /** (w1, w2) bigram structs of a token array; <2 tokens → empty.
    * Built with `zip_with` against the shifted copy (the
    * [[TextFunctions.shinglesFromTokens]] idiom): the token array is
    * referenced O(1) times total, where the previous
    * `transform(sequence…, element_at)` form re-evaluated the
    * referenced array per element — the dominant cost of the
    * lm-score query once benchmark forcing computed it for real. The
    * zip_with null-padded tail pair is sliced off. The struct fields
    * are named EXPLICITLY (not left to the lambda's fresh-variable
    * names, which a global counter makes different on every call —
    * two separately built score plans would never canonicalize equal,
    * breaking the SqlApiSpec plan-identity contract); the cast keeps
    * the declared array element type. */
  def bigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(slice(
        zip_with(toks, slice(toks, lit(2), size(toks)),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        lit(1), size(toks) - 1).cast("array<struct<w1:string,w2:string>>"))

  /** One row per (doc, bigram occurrence): (idCol, w1, w2). */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // data-scaled spread: the bigram stream (corpus × tokens rows)
    // sorts into the model join's shuffle from row-group-wide scan
    // tasks otherwise — the map-side share of docs_lm_score's 53 GB
    // sf100 memory spill (the spreadForExplode class)
    //
    // The token array is STAGED into its own projection (r15): the
    // bigrams() tree references its argument 5× (zip_with base, the
    // shifted slice + its size bound, the emptiness guard, the tail
    // slice), and zip_with is CodegenFallback, so a raw tokens(text)
    // argument re-tokenized every row 5× — no CSE saves it. A
    // multi-referenced non-cheap alias blocks CollapseProject, so the
    // stage pins ONE tokenize per row (the scoreMap staging rule).
    TextFunctions.spreadForExplode(docs)
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(bigrams(col("__toks"))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Train the model on a corpus: (w1, w2, score_scaled) where
    * score_scaled = ⌊Scale·c(w1,w2)/c(w1)⌋. Both inputs to the final
    * join are vocab-sized aggregates. */
  def train(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.spreadForExplode(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val bi = docBigrams(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    // both vocab-sized, but the unigram side is the narrower one:
    // hash-build it so neither aggregate output sorts
    bi.join(uni.hint("shuffle_hash"), bi("w1") === uni("w"))
      .select(col("w1"), col("w2"),
        expr(s"($Scale * cb) div cu").as("score_scaled"))
  }

  /** [[train]] over a FIXED reference snapshot (`idCol < maxRefId`),
    * kept in [[graft.Artifacts]] as an at-rest parquet table — the
    * CCNet-true posture (round-7 verdict task 6): production LM quality
    * scoring trains the model ONCE on a fixed reference corpus (CCNet:
    * Wikipedia) and scores any corpus against it, so the model stays
    * FLAT as the scored corpus grows. The self-scoring registry query's
    * model grows with the scored corpus's Heaps vocabulary — documented
    * OOM-class at scale; this variant bounds the scoring join's
    * build side by the snapshot. The snapshot token invalidates the
    * entry if the corpus files are rewritten in place. */
  def cachedRefTrain(docs: DataFrame, idCol: String, textCol: String,
      maxRefId: Long, source: String): DataFrame =
    graft.Artifacts.ofCorpus(docs, "lm-ref", (source, idCol, textCol, maxRefId))(
      // materialize to scratch parquet: an at-rest table holding no
      // executor storage, re-read by every consumer like any other
      // warehouse table
      graft.ext.dedup.NearDup.materializeAndRelease(
        train(docs.filter(col(idCol) < maxRefId), idCol, textCol), "lmref"))

  /** Score every document against a trained model: per-doc exact sum
    * of bigram scores, bigram count, and their (deterministic) double
    * ratio. Docs with <2 tokens score 0 over 0 bigrams. Bigrams absent
    * from the model contribute 0 (OOV floor) via the left join. */
  def score(docs: DataFrame, model: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // The model join's right strategy is SIZE-DEPENDENT, so THIS code
    // carries no hint: a fixed-snapshot reference model is KB-scale
    // and must BROADCAST (a forced shuffle-hash hint here measured
    // 31 → 57 s at sf100 with a 110 MB → 10 GB shuffle — the bigram
    // stream started exchanging to meet a join the model could ship
    // to every task), while a corpus-scaled self-model must not. The
    // CALLER owns that knowledge: pass `model.hint("shuffle_hash")`
    // for a model that grows with the scored corpus (the
    // docs_lm_score registry query does — its SMJ stream-side sort
    // was 49 GB of sf100 memory spill, 0.3 GB hash-built), pass the
    // model bare to let size-based planning broadcast it.
    val perDoc = docBigrams(docs, idCol, textCol)
      .join(model, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("score_scaled"), lit(0L))).as("sum_scaled"),
        count(lit(1)).as("nb"))
    // perDoc is three longs per doc — hash-build it; the docs side
    // streams (its text column is already pruned by the select)
    docs.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("sum_scaled"), lit(0L)).as("lm_sum_scaled"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("nb"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("sum_scaled").cast("double") / col("nb"))
          .as("lm_avg"))
  }
}
