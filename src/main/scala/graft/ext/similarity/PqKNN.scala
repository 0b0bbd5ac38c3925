package graft.ext.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) over the embedding column: vectors are
  * split into `M` contiguous sub-spaces, each sub-vector is replaced
  * by the id of its nearest sub-centroid, and the whole vector
  * becomes `M` small codes — here M=8 sub-spaces × 8 dims with
  * ksub=16 sub-centroids, so a 64-float (256-byte) embedding
  * compresses to one 32-bit code word (4 bits × 8): a 64× at-rest
  * reduction. Queries are answered with asymmetric distance
  * computation (ADC): the query stays a full vector, each candidate
  * is scored from its codes alone via a per-query lookup table of
  * `M × ksub` partial squared distances (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
  * 2011 — public).
  *
  * Why this matters at 100 TB — the codebook-size contrast with the
  * IVF/SemDeDup family: a fine codebook that partitions the corpus
  * must grow with it (K ∝ n, which is why
  * [[graft.ext.similarity.IvfKNN.fineCodebookTable]] moved that
  * codebook off the driver and into a table this round). The PQ
  * codebook does NOT partition the corpus — it tiles the vector
  * SPACE — so its size is `M·ksub·dsub = 1024` floats REGARDLESS of
  * corpus size. It is the one vector-search structure that is always
  * safe to broadcast / fold into the plan, and the code words it
  * yields shrink the scan side: an exhaustive ADC pass reads 8-byte
  * codes instead of 256-byte vectors, and an IVF-routed ADC pass
  * ([[ivfpqTopK]]) reads only the probed lists' codes.
  *
  * Plan shapes (all shuffle-minimal):
  *  - encoding ([[pqCodes]]) — pure projection, zero shuffle; the
  *    argmin over 16 sub-centroids is `array_position(d2s,
  *    array_min(d2s))` over rounded distances so the tie rule
  *    (lower code id) replays exactly in SQL;
  *  - ADC scoring — candidate codes ⋈ broadcast LUT on `(m, code)`
  *    (BroadcastHashJoin, no cross join anywhere: the LUT is built
  *    by EXPLODING the bounded query set over the `M × ksub` grid),
  *    then a partial-aggregated per-(query, neighbor) sum — the 8
  *    addends of one candidate originate from one corpus row, so
  *    map-side combine collapses them before any shuffle;
  *  - ranking — the bounded [[graft.functions.TopKByScore]] heap
  *    aggregate (O(k) rows per task per query on the shuffle), never
  *    a global window.
  *
  * Determinism / oracle parity: every distance is a sum of exact
  * float→double products rounded to 9 decimals at a defined point
  * (the same discipline as [[CosineKNN]], proven hash-stable against
  * DuckDB's arbitrary-order SUM), and every tie breaks to the lower
  * id, so codes, ADC scores, and ranks replay exactly in SQL.
  */
object PqKNN {

  /** Sub-space count (M), dims per sub-space, codes per sub-space.
    * dim = M * dsub must match the embedding width (64). ksub = 16
    * keeps one code in 4 bits — the packed word fits an INT — and
    * the whole codebook at 1 KB of floats. */
  val M = 8
  val dsub = 8
  val ksub = 16

  /** One sub-centroid: `sub` = the dsub-dim slice, `cc` = Σ sub_i²
    * accumulated left-to-right in double (the ‖c‖² term of the
    * expanded squared distance). */
  final case class SubCentroid(m: Int, code: Int, sub: Array[Float], cc: Double)

  /** The full PQ codebook: `book(m)(j)` = sub-centroid j of
    * sub-space m. Total payload M·ksub·dsub = 1024 floats — bounded
    * by the SCHEME, not the corpus. */
  type PqBook = IndexedSeq[IndexedSeq[SubCentroid]]

  /** Deterministic training-free codebook, same rule as
    * [[IvfKNN.sampledCentroids]]: sub-centroid j of sub-space m is
    * the m-th slice of the corpus vector with id j (the ksub
    * lowest-id vectors). Self-quantization of the seed rows is fine —
    * PQ codebooks are reference points, not partitions, and the rule
    * replays in one SQL predicate (`vec_id < ksub`). */
  def sampledBook(corpus: DataFrame, idCol: String, vecCol: String): PqBook = {
    val seeds = IvfKNN.sampledCentroids(corpus, idCol, vecCol, ksub)
    require(seeds.nonEmpty && seeds.head.vec.length == M * dsub,
      s"PQ book needs $ksub seed vectors of dim ${M * dsub}")
    (0 until M).map { m =>
      seeds.sortBy(_.id).map { s =>
        val sub = s.vec.slice(m * dsub, (m + 1) * dsub)
        var cc = 0.0
        var i = 0
        while (i < sub.length) { cc += sub(i).toDouble * sub(i); i += 1 }
        SubCentroid(m, s.id, sub, cc)
      }.toIndexedSeq
    }.toIndexedSeq
  }

  /** [[sampledBook]] held in [[graft.Artifacts]] per (corpus
    * snapshot, tag) like the IVF codebooks — the book is index
    * metadata built once per corpus. */
  def cachedSampledBook(
      corpus: DataFrame, idCol: String, vecCol: String, tag: String): PqBook =
    graft.Artifacts.ofCorpus(corpus, "pq-book", (tag, idCol, vecCol))(
      sampledBook(corpus, idCol, vecCol))

  private def litF(xs: Array[Float]): Column =
    array(xs.toIndexedSeq.map(lit): _*)

  /** Squared L2 distance of the m-th sub-slice of `vec` to one
    * sub-centroid, rounded to 9 decimals: `‖x‖² − 2⟨x,c⟩ + ‖c‖²`
    * with the dots as codegen'd left-to-right double sums
    * ([[graft.functions.FloatVectorDot]]) — the oracle computes the
    * same three sums from the same floats, and round(…,9) absorbs
    * the ≤1-ulp order difference of DuckDB's SUM. */
  private def subDist2(xs: Column, c: SubCentroid): Column =
    round(CosineKNN.dot(xs, xs) - lit(2.0) * CosineKNN.dot(xs, litF(c.sub))
      + lit(c.cc), 9)

  /** PQ codes of a vector as `array<int>` of length M: per sub-space
    * the argmin of the 16 rounded distances, ties to the LOWER code
    * (array_position returns the FIRST index of the min). Pure
    * projection — encoding shuffles nothing. */
  def pqCodes(vec: Column, book: PqBook): Column =
    array((0 until M).map { m =>
      val xs = slice(vec, m * dsub + 1, dsub)
      val d2s = array(book(m).map(c => subDist2(xs, c)): _*)
      (array_position(d2s, array_min(d2s)) - 1).cast("int")
    }: _*)

  /** [[pqCodes]] as the native [[graft.functions.PqEncode]] loop —
    * value-identical (PqKNNSpec pins bit-parity over the corpus), but
    * ONE expression node instead of ~256 unrolled fvec_dot sub-trees.
    *
    * Why it exists: the ADC paths fuse encoding + Generate +
    * broadcast join + partial aggregation into one whole-stage-
    * codegen method; with the unrolled tree inlined, that method
    * blows Janino's 64 KB limit, and Spark re-pays a multi-second
    * FAILED compile on every execution before interpreting the giant
    * tree row by row (measured 2.4–5 s per rep on a 500-row corpus —
    * pure fixed overhead). The native node generates a single call,
    * so the fused stage compiles and the book loop runs as primitive
    * arrays. */
  def pqCodesNative(vec: Column, book: PqBook): Column =
    graft.functions.PqEncode.of(vec,
      book.flatten.map(_.sub.toIndexedSeq),
      book.flatten.map(_.cc), M, dsub, ksub)

  /** Exploded `(keep…, m, code)` rows — the shape the ADC joins
    * consume — via the native encoder. */
  def codesLong(df: DataFrame, vecCol: String, book: PqBook,
      keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+ posexplode(pqCodesNative(col(vecCol), book)): _*)
      .withColumnRenamed("pos", "m")
      .withColumnRenamed("col", "code")

  /** The M 4-bit codes packed into one BIGINT word
    * (`Σ code_m << 4m`) — the at-rest form: 8 bytes per vector
    * instead of 256. */
  def packCodes(codes: Column): Column =
    (0 until M).map { m =>
      shiftleft(element_at(codes, m + 1).cast("long"), 4 * m)
    }.reduce(_ + _)

  /** Per-query ADC lookup table as a bounded DataFrame:
    * `(query_id, m, code, term)` with
    * `term = ‖q_m‖² − 2⟨q_m, c⟩ + ‖c‖²` (unrounded — the per-pair
    * ADC distance rounds once after summing the M terms). Built by
    * exploding the bounded query set over the M × ksub grid and
    * indexing the codebook LITERAL by (m, code) — an explode, not a
    * cross join, so no BNLJ appears in any plan. |lut| = |Q|·M·ksub
    * rows (1280 for the registry's 10 queries): always broadcastable
    * because the codebook factor is corpus-independent. */
  def lutFor(queries: DataFrame, idCol: String, vecCol: String, book: PqBook)
      : DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        posexplode(graft.functions.PqLutTerms.of(col(vecCol),
          book.flatten.map(_.sub.toIndexedSeq), book.flatten.map(_.cc),
          M, dsub, ksub)))
      .select(col("query_id"),
        (col("pos") / lit(ksub)).cast("int").as("m"),
        pmod(col("pos"), lit(ksub)).cast("int").as("code"),
        col("col").as("term"))

  /** Shared ADC tail: codes-with-query rows `(query_id, neighbor_id,
    * m, code)` ⋈ broadcast LUT → per-pair rounded distance → bounded
    * top-k by (adc2 asc, neighbor_id asc). The heap ranks by score
    * DESC, so it receives the negated distance; negating back cannot
    * produce −0.0 (−(−0.0) = 0.0). */
  private def rankAdc(
      withQuery: DataFrame, lut: DataFrame, k: Int,
      joinKeys: Seq[String]): DataFrame = {
    val scored = withQuery
      .join(broadcast(lut), joinKeys)
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((round(sum(col("term")), 9) * lit(-1.0)).as("score"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topk(col("score"), col("neighbor_id"), k)
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), (col("col.score") * lit(-1.0)).as("adc2"))
  }

  /** Exhaustive PQ scan: every corpus vector is ADC-scored from its
    * codes for every query. One pass over 8-byte codes (the
    * compressed twin of [[CosineKNN.bruteForceTopK]]'s full-vector
    * pass), one partial-aggregated sum, one bounded top-k — scales
    * to any corpus a map pass scales to. */
  def adcTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, book: PqBook, k: Int): DataFrame = {
    val codes = codesLong(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol)),
      vecCol, book, keep = Seq("neighbor_id"))
    // the (m, code) ⋈ LUT join fans each neighbor row out to every
    // query (the LUT carries all queries for that cell) — candidate
    // generation and scoring are the same broadcast join
    rankAdc(codes, lutFor(queries, idCol, vecCol, book), k,
      joinKeys = Seq("m", "code"))
  }

  /** IVF-PQ: coarse IVF routing prunes the candidate set to the
    * probed inverted lists, then ADC scores survivors from codes —
    * the standard billion-scale ANN layout (coarse quantizer ∘
    * product quantizer, Jégou et al. §IV). Both index structures are
    * bounded: the coarse codebook by the fixed K of the ANN query
    * family, the PQ book by the scheme; the corpus side never
    * shuffles (probes and LUT broadcast). */
  def ivfpqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      cents: Seq[IvfKNN.Centroid], book: PqBook, k: Int, nprobe: Int)
      : DataFrame = {
    val codes = codesLong(
      IvfKNN.assignLists(corpus, vecCol, cents)
        .select(col(idCol).as("neighbor_id"), col("list_id"), col(vecCol)),
      vecCol, book, keep = Seq("neighbor_id", "list_id"))
    val probes = queries.select(
      col(idCol).as("query_id"),
      explode(IvfKNN.probeLists(col(vecCol), cents, nprobe)).as("list_id"))
    val routed = codes.join(broadcast(probes), Seq("list_id"))
      .select(col("query_id"), col("neighbor_id"), col("m"), col("code"))
    rankAdc(routed, lutFor(queries, idCol, vecCol, book), k,
      joinKeys = Seq("query_id", "m", "code"))
  }
}
