package graft.ext.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * tokenization, token counting, language ID, quality scoring,
  * fingerprinting, shingling.
  *
  * Everything here is a pure `org.apache.spark.sql.functions` chain
  * (higher-order array functions, regexes, hashes) — no UDFs — so the
  * whole stage stays inside WholeStageCodegen and scales as a map-only
  * pass over the corpus: no shuffle, no driver involvement, trivially
  * 100 TB-parallel.
  *
  * Regex patterns deliberately avoid engine-specific classes
  * (`\p{...}`) so the DuckDB oracles replicate them byte-for-byte.
  */
object TextFunctions {

  /** Lowercased whitespace tokens; empty/blank text → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))

  /** Data-scaled exchange barrier before explode-heavy text stages
    * (round-10 verdict task 1 — the sf100 spill-onset class): a scan
    * task's minimum width is one parquet ROW GROUP, so the map side
    * of a token/gram explode carries rowGroupBytes × the explode
    * amplification in its partial-agg / shuffle-write sort no matter
    * what `files.maxPartitionBytes` asks for (measured: the two
    * FileScanRDD stages of docs_embed_knn's sf100 cell spilled
    * 22.5 + 18.9 GB against 38 MB single-row-group splits, and
    * shrinking maxPartitionBytes to 32 MB changed NOTHING — byte-
    * identical spill). The fixed `repartition(defaultParallelism)`
    * barrier (the shingleSets idiom) has the same ceiling: corpus/32
    * per task grows with the corpus.
    *
    * This barrier scales the partition count with the INPUT's
    * planning-time size estimate (file-stats metadata — no job):
    * partitions = max(defaultParallelism, estBytes/16 MB), the
    * production rule "partitions ≈ bytes / target-chunk". Per-task
    * explode state is then bounded at any corpus, while small corpora
    * keep the full-parallelism floor (never fewer tasks than cores —
    * the reason this is not an AQE REBALANCE hint, which would
    * coalesce a byte-small but CPU-heavy corpus to one task). The
    * explicit count is also exempt from AQE coalescing. Cost: one
    * round-robin exchange of the RAW rows — at the sf100 rung 1.2 GB
    * of text against the ~40 GB of sort spill it removes. */
  def spreadForExplode(
      df: org.apache.spark.sql.DataFrame,
      targetBytesPerTask: Long = 16L << 20): org.apache.spark.sql.DataFrame =
    df.repartition(spreadWidth(df, targetBytesPerTask))

  /** The partition count [[spreadForExplode]] would pick for `df` —
    * max(defaultParallelism, estBytes/16 MB). Exposed so iterated
    * consumers can hash-partition ONCE by their iteration key at the
    * same data-scaled width (the QualityClassifier.train idiom) and
    * reuse that partitioning across every pass. */
  def spreadWidth(
      df: org.apache.spark.sql.DataFrame,
      targetBytesPerTask: Long = 16L << 20): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val par = df.sparkSession.sparkContext.defaultParallelism.toLong
    // RDD-backed plans (localCheckpoint barriers, memory streams)
    // report the unknown-size sentinel (defaultSizeInBytes, i.e.
    // Long.MaxValue) — fall back to the parallelism floor rather than
    // trusting a fabricated estimate
    val unknown = est >= BigInt(
      df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val n = if (unknown) par else (est / targetBytesPerTask).min(65536).toLong
    math.max(par, n).toInt
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: greedy ≤4-char alpha chunks, single
    * digits, single punctuation marks — a deterministic stand-in for
    * a byte-pair vocabulary's piece count. */
  val bpePattern = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0))).cast("long")

  /** Stopword inventories for the language-ID heuristic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "en", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"))

  /** Count of tokens contained in a fixed vocabulary. */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isin(vocab: _*)))

  /** N-gram-frequency language ID: stopword-hit score per language,
    * argmax with a fixed priority order (en→de→es→fr) for ties,
    * `und` when no stopword of any language occurs.
    *
    * PERFORMANCE: the argmax chain references each language's hit
    * count up to 4× and every reference re-evaluates its whole
    * subtree — including the tokenize — per row (Catalyst does not
    * share non-cheap subtrees across references in one projection).
    * Hot callers should stage: project the token array into a column
    * first, then use [[langIdFromTokens]] over the attribute (the
    * r15 scoreMap staging rule); this convenience form re-tokenizes
    * per language and is fine for single-pass per-row use. */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langId]] over an already-projected token-array column. Note
    * the argmax chain still references each per-language hit count up
    * to 4× — with `toks` an attribute each reference re-scans the
    * array through its `filter(isin)`; the fully staged form projects
    * the four hit counts first ([[langIdHitCols]] +
    * [[langIdFromHits]]) so each array scan runs once. */
  def langIdFromTokens(toks: Column): Column = {
    val Seq(en, de, es, fr) =
      stopwords.map { case (_, words) => vocabHits(toks, words) }
    langIdFromHits(en, de, es, fr)
  }

  /** The four per-language hit-count columns, in [[stopwords]] order
    * (en, de, es, fr) — project these into named columns, then apply
    * [[langIdFromHits]] over the attributes (the r15 staging rule). */
  def langIdHitCols(toks: Column): Seq[Column] =
    stopwords.map { case (lang, words) => vocabHits(toks, words).as(s"__$lang") }

  /** The fixed-priority argmax chain (deterministic,
    * oracle-replicable) over already-computed hit counts. */
  def langIdFromHits(en: Column, de: Column, es: Column, fr: Column): Column =
    when(en + de + es + fr === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))

  private val punctClass = "[.,;:!?]"
  private val digitClass = "[0-9]"

  /** Character-class ratio over the raw text (0 for empty text). */
  private def classRatio(text: Column, clazz: String): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, clazz, ""))).cast("double") /
        length(text).cast("double"))

  /** Heuristic document quality score in [0,1]: length saturation,
    * stopword density, punctuation/digit penalties, mean token length
    * sanity. Deterministic double arithmetic (oracle-replicable).
    * Takes the already-projected token array (`toks`, see the staging
    * note on [[langId]]); `text` is still needed for the
    * character-class ratios. */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val stopHits = vocabHits(toks, stopwords.flatMap(_._2)).cast("double")
    val stopRatio = when(nTok === 0, 0.0).otherwise(stopHits / nTok)
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val meanTokLen = when(nTok === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
    val tokLenScore = when(meanTokLen >= 3 && meanTokLen <= 10, 1.0).otherwise(0.5)
    lenScore * 0.3 + stopRatio * 0.3 + tokLenScore * 0.2 +
      (lit(1.0) - classRatio(text, punctClass)) * 0.1 +
      (lit(1.0) - classRatio(text, digitClass)) * 0.1
  }

  /** Content fingerprint: normalize (lowercase, strip non-alnum,
    * collapse spaces) then sha256, first 16 hex chars. Identical
    * content up to punctuation/casing/whitespace → identical
    * fingerprint — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    substring(sha2(normalizedContent(text), 256), 1, 16)

  /** The fingerprint normalization alone (lower/trim, strip
    * non-alphanumerics, collapse spaces). */
  def normalizedContent(text: Column): Column =
    regexp_replace(
      regexp_replace(lower(trim(text)), "[^a-z0-9 ]", ""),
      " +", " ")

  /** 60-bit ROLLING-hash fingerprint of the normalized content — the
    * polynomial fold ([[graft.functions.PolyHash]], bases 31/37
    * packed) instead of a cryptographic digest: one pass, cheap to
    * maintain incrementally, and exactly replayable in the DuckDB
    * oracle. Collision odds ~n²/2⁶¹ — fine for dedup candidate
    * keying; use [[fingerprint]] where a crypto digest is wanted. */
  def rollingFingerprint(text: Column): Column =
    graft.functions.PolyHash.polyhashPacked(normalizedContent(text))

  /** PII scrubbing: redact email addresses and phone-number-shaped
    * digit runs. Engine-portable regexes (no \p classes, no
    * lookaround) so the DuckDB oracle replicates byte-for-byte. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+?[0-9][0-9 ()-]{6,}[0-9]"
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Repetition score (C4/Gopher-style quality signal): frequency of
    * the most repeated word bigram over the bigram count; 0 for docs
    * shorter than a bigram. One native O(n) hash-map pass
    * ([[graft.functions.MaxBigramShare]]); the HOF form it replaced
    * ([[repetitionScoreReference]]) is O(distinct·n) interpreted per
    * document and is kept as the spec parity reference. */
  def repetitionScore(toks: Column): Column =
    graft.functions.MaxBigramShare.of(toks)

  /** The original pure-array-expression form — value-identical
    * (TextFunctionsSpec pins bit-parity over the corpus). */
  private[graft] def repetitionScoreReference(toks: Column): Column = {
    val grams = when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))
    val top = array_max(transform(array_distinct(grams),
      g => size(filter(grams, x => x === g))))
    when(size(grams) === 0, lit(0.0))
      .otherwise(top.cast("double") / size(grams).cast("double"))
  }

  /** Deterministic content-hash sampling predicate: keeps a ~keep/256
    * fraction of rows by the first md5 byte — stable across engines,
    * partitionings, and runs (unlike rand()-based sampling). */
  def hashSampleKeep(text: Column, keepBytes: Int): Column =
    substring(md5(text), 1, 2) < format_string("%02x", lit(keepBytes))

  /** Word n-gram shingles (space-joined); n=1 degenerates to tokens.
    *
    * PERFORMANCE: the lambda body references `toks` once per shingle
    * position, and Spark re-evaluates a non-trivial referenced
    * expression inside each lambda element. Pass a MATERIALIZED token
    * column (via [[shinglesFromTokens]] after an exchange/cache
    * boundary) in hot paths; this convenience form is fine for
    * single-pass per-row use. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Shingles from a token-array column, built with iterated
    * `zip_with` against shifted copies: the token array is referenced
    * O(n) times total, versus once per position with the naive
    * `transform(sequence(...), i => slice(toks, i, n))` — which
    * Catalyst re-evaluates per element even across repartition
    * boundaries (projections are pushed through exchanges). */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    if (n == 1) array_distinct(toks)
    else {
      val grams = (1 until n).foldLeft(toks) { (acc, k) =>
        // concat_ws skips the null padding zip_with adds at the tail;
        // those short trailing grams are sliced off below
        zip_with(acc, slice(toks, lit(k + 1), size(toks)),
          (a, b) => concat_ws(" ", a, b))
      }
      array_distinct(
        when(size(toks) < n, array().cast("array<string>"))
          .otherwise(slice(grams, lit(1), size(toks) - (n - 1))))
    }
  }
}
