package graft.ext.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Uniform scalar quantization (SQ8) over the embedding column: every
  * float dimension is mapped to one 8-bit code under a single GLOBAL
  * affine `x ≈ mn + c·s` trained from the corpus-wide value range —
  * the FAISS `QT_8bit_uniform` layout (public: faiss ScalarQuantizer).
  * A 64-float (256-byte) vector compresses to 64 bytes at rest, a 4×
  * reduction with far lower distortion than PQ's 64× (SQ quantizes
  * VALUES per dimension, PQ quantizes whole sub-vectors).
  *
  * Where this sits in the similarity family's codebook-residency
  * spectrum (the round-6/7 architectural axis):
  *  - fine IVF / SemDeDup codebooks: K ∝ n — must ride a JOIN
  *    ([[IvfKNN.fineCodebookTable]]);
  *  - PQ codebook: M·ksub·dsub floats — scheme-sized, always plan-safe;
  *  - SQ quantizer: TWO scalars (mn, s) — corpus-size AND
  *    dimension-count independent, the degenerate best case. Training
  *    is one min/max aggregation (a full scan that reduces to one
  *    row), and the trained quantizer folds into any plan for free.
  *
  * Plan shapes:
  *  - encoding ([[sqCodes]]) — pure projection via the native
  *    [[graft.functions.SqEncode]] loop, zero shuffle;
  *  - ADC scoring ([[adcTopK]]) — exhaustive asymmetric scan: the
  *    BOUNDED query set broadcasts (the emb_knn_exact shape), each
  *    candidate is scored from its codes via the expansion
  *    `‖q − x̂‖² = ‖q‖² − 2(mn·Σq + s·⟨q,c⟩) + ‖x̂‖²` where ‖x̂‖²
  *    rides the code row (computed once at encode time from the code
  *    sums) — so the per-pair work is ONE dot product over the int
  *    codes, in codegen via [[graft.functions.FloatVectorDot]];
  *  - ranking — the bounded [[graft.functions.TopKByScore]] heap, no
  *    global window.
  *
  * Determinism / oracle parity: encode uses `floor(t + 0.5)` (exact
  * in both engines from the identical double — no cross-engine
  * round() midpoint hazard); code sums are integer-valued doubles
  * (exact in ANY summation order, so they hash-match unrounded); the
  * per-pair distance rounds once to 9 decimals after the expansion,
  * absorbing the ≤1-ulp order difference of DuckDB's SUM in the
  * float-valued `‖q‖²`/`⟨q,c⟩` terms — the [[PqKNN]] discipline.
  */
object SqKNN {

  /** Code levels: codes lie in [0, 255] — one byte per dimension. */
  val levels = 255

  /** The trained quantizer: corpus-wide min and the per-level step.
    * `s = (mx − mn) / levels`; a constant corpus degenerates to
    * s = 0 (every code 0). */
  final case class SqParams(mn: Double, s: Double)

  /** One aggregation over the corpus: global min/max across ALL
    * dimensions (array_min/array_max per row, min/max across rows —
    * no arithmetic, so the floats replay exactly in any engine).
    * The collect is TWO scalars — bounded index metadata. */
  def trainedRange(corpus: DataFrame, vecCol: String): SqParams = {
    val row = corpus.agg(
      min(array_min(col(vecCol))).as("mn"),
      max(array_max(col(vecCol))).as("mx")).head()
    val mn = row.getFloat(0).toDouble
    val mx = row.getFloat(1).toDouble
    SqParams(mn, (mx - mn) / levels)
  }

  /** [[trainedRange]] held in [[graft.Artifacts]] per (corpus
    * snapshot, tag), like the IVF/PQ codebooks — train once per
    * corpus, reuse across queries. The snapshot token (file length +
    * mtime), not just the caller tag, keys the entry: a corpus
    * regenerated in place within one JVM must invalidate the trained
    * (mn, s) or its codes would hash-mismatch the oracle (round-7
    * ADVICE). */
  def cachedRange(corpus: DataFrame, vecCol: String, tag: String): SqParams =
    graft.Artifacts.ofCorpus(corpus, "sq-range", (tag, vecCol))(
      trainedRange(corpus, vecCol))

  /** SQ codes of a vector: `array<int>` with one [0, 255] code per
    * dimension. Pure projection. */
  def sqCodes(vec: Column, p: SqParams): Column =
    graft.functions.SqEncode.of(vec, p.mn, p.s, levels)

  private def onesF(dim: Int): Column =
    array(Seq.fill(dim)(lit(1.0f)): _*)

  /** Encoded corpus rows `(id, codes, csum, xhat2)`:
    * `csum = Σc` and `csq = Σc²` are integer-valued doubles (exact in
    * any order), and `‖x̂‖² = mn²·D + 2·mn·s·Σc + s²·Σc²` expands the
    * reconstruction norm so scoring never touches the original
    * vector. The code-array dots run as [[graft.functions.FloatVectorDot]]
    * loops over the int→float cast (every [0,255] int is float-exact). */
  def withCodes(df: DataFrame, idCol: String, vecCol: String,
      p: SqParams, dim: Int, keep: Seq[String] = Nil): DataFrame = {
    val codes = sqCodes(col(vecCol), p)
    val withC = df.select(
        col(idCol).as("neighbor_id") +: keep.map(col) :+ codes.as("codes"): _*)
      .withColumn("codesf", col("codes").cast("array<float>"))
    val csum = graft.functions.FloatVectorDot.dot(col("codesf"), onesF(dim))
    val csq = graft.functions.FloatVectorDot.dot(col("codesf"), col("codesf"))
    withC.select(
      col("neighbor_id") +: keep.map(col) :+ col("codes") :+ col("codesf") :+
        csum.as("csum") :+
        (lit(p.mn * p.mn * dim) + lit(2.0 * p.mn * p.s) * csum
          + lit(p.s * p.s) * csq).as("xhat2"): _*)
  }

  /** Exhaustive SQ scan: every corpus vector ADC-scored from its
    * codes for every query — the compressed twin of
    * [[CosineKNN.bruteForceTopK]] (64-byte codes on the scan side
    * instead of 256-byte vectors; the broadcast side is the bounded
    * query set). Output: `(query_id, rank, neighbor_id, adc2)` with
    * rank by (adc2 asc, neighbor_id asc). */
  private def queryConsts(queries: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame =
    queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      CosineKNN.dot(col(vecCol), col(vecCol)).as("qq"),
      graft.functions.FloatVectorDot.dot(col(vecCol), onesF(dim)).as("qsum"))

  /** Shared ADC tail: per-pair rounded distance from the expansion,
    * then the bounded top-k heap (fed the negated distance — the PQ
    * rule; −(−0.0) = 0.0, so no negative-zero reaches the output). */
  private def rankSq(withQuery: DataFrame, p: SqParams, k: Int): DataFrame = {
    val qc = graft.functions.FloatVectorDot.dot(col("qv"), col("codesf"))
    val scored = withQuery
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc2", round(
        col("qq") - lit(2.0) * (lit(p.mn) * col("qsum") + lit(p.s) * qc)
          + col("xhat2"), 9))
      .withColumn("score", col("adc2") * lit(-1.0))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topk(col("score"), col("neighbor_id"), k)
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"),
        (col("col.score") * lit(-1.0)).as("adc2"))
  }

  def adcTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, p: SqParams, dim: Int, k: Int)
      : DataFrame = {
    val c = withCodes(corpus, idCol, vecCol, p, dim)
    rankSq(c.crossJoin(broadcast(queryConsts(queries, idCol, vecCol, dim))),
      p, k)
  }

  /** IVF-SQ: coarse IVF routing prunes the candidate set to the
    * probed inverted lists, then SQ-ADC scores the survivors from
    * their codes — the FAISS "IVF,SQ8" layout (public). The coarse
    * codebook is bounded by the ANN family's fixed K; the SQ
    * quantizer is two scalars; the corpus side never shuffles
    * (probes and query constants broadcast onto the code scan). */
  def ivfsqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      cents: Seq[IvfKNN.Centroid], p: SqParams, dim: Int, k: Int, nprobe: Int)
      : DataFrame = {
    val c = withCodes(
      IvfKNN.assignLists(corpus, vecCol, cents)
        .select(col(idCol), col("list_id"), col(vecCol)),
      idCol, vecCol, p, dim, keep = Seq("list_id"))
    val probes = queries.select(
      col(idCol).as("query_id"),
      explode(IvfKNN.probeLists(col(vecCol), cents, nprobe)).as("list_id"))
    val routed = c.join(broadcast(probes), Seq("list_id"))
    rankSq(routed.join(broadcast(queryConsts(queries, idCol, vecCol, dim)),
      Seq("query_id")), p, k)
  }
}
