package graft.ext.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** IVF (inverted-file) approximate nearest neighbor — the second
  * scale path next to [[CosineKNN.lshTopK]], with the classic
  * coarse-quantizer structure:
  *
  *  1. pick K centroids (index metadata — K·dim floats, driver-held
  *     and folded into the plan as literals, like a real IVF index's
  *     codebook);
  *  2. assign every corpus vector to its nearest centroid → K
  *     inverted lists (`list_id` column; at rest this is the table's
  *     partition/bucket key, so a probe prunes entire files). The
  *     quantizer is a PURE MAP projection — K codegen'd dot products
  *     per row, no crossJoin, no shuffle, no window;
  *  3. a query scores ONLY the vectors in its `nprobe` nearest lists,
  *     and ranking goes through the bounded
  *     [[graft.functions.TopKByScore]] aggregate (k rows per
  *     (task, query) after the partial pass).
  *
  * Codebooks:
  *  - [[sampledCentroids]] — the K lowest-id corpus vectors
  *    (deterministic, training-free; what emb_knn_ivf uses, and the
  *    seed of every trainer);
  *  - [[cachedLloydTrain]] — exact Lloyd iterations from that seed,
  *    collected to the driver; [[lloydTrainTable]] is its table twin
  *    for codebooks that must not become plan literals. Both are
  *    deterministic and replayed hash-for-hash by the DuckDB oracle.
  *
  * Assignment has one path per role: [[assignLists]] (flat, literal
  * codebook), [[assignListsJoined]] (two-level, fine codebook as a
  * table) and [[assignExactJoined]] (exact, codebook as a table).
  *
  * All cosines are rounded to 9 decimals (project convention) and
  * ties break toward the lower centroid/neighbor id, so every step is
  * deterministic and cross-engine replayable.
  */
object IvfKNN {

  /** A codebook entry: id, vector, precomputed norm. */
  case class Centroid(id: Int, vec: Array[Float], norm: Double)

  private def mk(id: Int, v: Array[Float]): Centroid =
    Centroid(id, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))

  /** Deterministic training-free codebook: the K lowest-id corpus
    * vectors (any fixed data-independent rule works; ids are the
    * natural one). K·dim floats — collected to the driver like real
    * IVF index metadata. */
  def sampledCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Centroid] =
    corpus.orderBy(col(idCol)).limit(k).select(col(vecCol))
      .collect()
      .zipWithIndex
      .map { case (r, i) => mk(i, r.getSeq[Float](0).toArray) }

  /** [[sampledCentroids]] held in [[graft.Artifacts]] per (corpus
    * snapshot, source, k). A real IVF index trains its codebook once
    * when the index is built and every query reuses it; recomputing
    * the (deterministic) codebook per query would bill index-build
    * cost to query latency. `source` names the corpus (e.g. its path);
    * the snapshot token invalidates the entry when the files under
    * that path change. */
  def cachedSampledCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      source: String): Seq[Centroid] =
    graft.Artifacts.ofCorpus(corpus, "ivf-sampled", (source, idCol, vecCol, k))(
      sampledCentroids(corpus, idCol, vecCol, k))

  // ------------------------------------------------- exact Lloyd iteration

  /** A trained codebook entry. Unlike the float seed [[Centroid]],
    * the vector is the double per-dimension mean and the norm is
    * accumulated order-independently (see [[stableNorm]]) so the same
    * values fall out of any engine that follows the recipe. */
  case class DCentroid(id: Int, vec: Array[Double], norm: Double)

  /** Accumulator type for decimal fold chains: scale 12 like the
    * oracle's DECIMAL(38,12), but precision 30, so
    * `Decimal(30,12) + Decimal(30,12)` infers precision 31 ≤ 38 and the
    * add stays EXACT. A (38,12) accumulator infers precision 39 > the
    * 38 max, and Spark's precision-loss rule silently rescales the
    * result to (38,11) — HALF_UP rounding the running sum at 11
    * decimals on EVERY fold step, a ~1e-11 drift per 64-term chain that
    * broke bit-parity with the driver-side exact BigDecimal recipe
    * (caught by IvfSpec's table-Lloyd pin). */
  private val dec12acc = DecimalType(30, 12)

  /** |v| where v² terms are rounded to 12 decimals and summed as
    * exact decimals — order-independent, so a DuckDB GROUP BY (which
    * guarantees no accumulation order) reproduces it bit-for-bit:
    * `sqrt(CAST(SUM(CAST(round(m*m,12) AS DECIMAL(38,12))) AS DOUBLE))`. */
  def stableNorm(v: Array[Double]): Double = {
    var s = java.math.BigDecimal.ZERO
    v.foreach { m =>
      s = s.add(new java.math.BigDecimal(m * m)
        .setScale(12, java.math.RoundingMode.HALF_UP))
    }
    math.sqrt(s.doubleValue)
  }

  /** The float seed in the trained shape: vectors widened to double,
    * norms re-derived by [[stableNorm]] — the form an empty list keeps
    * through a Lloyd step. */
  def exactSeed(seed: Seq[Centroid]): Seq[DCentroid] =
    seed.map { c =>
      val v = c.vec.map(_.toDouble)
      DCentroid(c.id, v, stableNorm(v))
    }

  /** The new centroid of every non-empty list: per-dimension mean,
    * accumulated as DECIMAL(18,6) (order-independent) and divided in
    * double — one posexplode + one hash aggregate over `assigned`'s
    * (`list_id`, `vecCol`), K·dim output rows `(list_id, pos, m)`. */
  private def dimMeans(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("list_id"), posexplode(col(vecCol)))
      .groupBy(col("list_id"), col("pos"))
      .agg((sum(col("col").cast("double").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1))).as("m"))

  /** ONE exact Lloyd step from codebook `cents`:
    *
    *  - assign every vector by `quantizer` — [[nearestCentroid]] over
    *    the float seed on the first step, [[nearestCentroidStable]]
    *    over `cents` after that;
    *  - new centroid = [[dimMeans]], norm by [[stableNorm]];
    *  - an empty list keeps its centroid from `cents` (standard Lloyd
    *    fix), so a seed goes in through [[exactSeed]].
    *
    * Every step is deterministic and replayable in ANSI SQL, so the
    * trained codebook — although collected to the driver like any IVF
    * index metadata — is cross-engine reproducible and the registered
    * query's DuckDB oracle recomputes it from scratch. */
  def lloydStep(
      corpus: DataFrame, vecCol: String, quantizer: Column,
      cents: Seq[DCentroid]): Seq[DCentroid] = {
    // parallelism barrier BEFORE the quantizer (r15): a single-file
    // corpus scans as one task and the K·dim argmax fuses into that
    // scan stage — the whole assignment ran serially while 31 cores
    // idled (the Spread.wide class; a many-file corpus passes through
    // untouched). The assignment is its OWN select below the explode:
    // a single select(quantizer, posexplode(v)) analyzes to
    // Project(quantizer,…) ABOVE the Generate, re-evaluating the
    // quantizer once per element (dim×, not 1×, per vector) — the
    // shape that made exact training ~64× slower than the arithmetic
    val assigned = graft.operators.Spread.wide(corpus, col(vecCol))
      .select(col(vecCol), quantizer.as("list_id"))
    val dim = cents.head.vec.length
    val byList = dimMeans(assigned, vecCol).collect().groupBy(_.getLong(0))
      .map { case (cid, rows) =>
        val dims = new Array[Double](dim)
        rows.foreach(r => dims(r.getInt(1)) = r.getDouble(2))
        cid.toInt -> dims
      }
    cents.map { c =>
      byList.get(c.id).map(v => DCentroid(c.id, v, stableNorm(v))).getOrElse(c)
    }
  }

  /** `iterations` chained [[lloydStep]]s from the cached seed, each
    * held in [[graft.Artifacts]] per (corpus snapshot, source, k,
    * iterations) — training is index-build cost, paid once; a
    * rewritten corpus gets a fresh snapshot token and so retrains. */
  def cachedLloydTrain(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      source: String, iterations: Int): Seq[DCentroid] = {
    require(iterations >= 1, "cachedLloydTrain: iterations must be >= 1")
    graft.Artifacts.ofCorpus(corpus, "ivf-lloyd",
        (source, idCol, vecCol, k, iterations)) {
      if (iterations == 1) {
        val seed = cachedSampledCentroids(corpus, idCol, vecCol, k, source)
        lloydStep(corpus, vecCol, nearestCentroid(col(vecCol), seed), exactSeed(seed))
      } else {
        val prev = cachedLloydTrain(corpus, idCol, vecCol, k, source, iterations - 1)
        lloydStep(corpus, vecCol, nearestCentroidStable(col(vecCol), prev), prev)
      }
    }
  }

  /** Nearest TRAINED centroid as a pure projection. The ranking score
    * is round(dot/|c|, 9) — cosine with the per-row |v| factor
    * dropped (constant within a row, so the argmax is unchanged) —
    * which keeps the whole comparison inside the order-independent
    * stable-dot arithmetic; ties break to the lower centroid id.
    *
    * Evaluates through the native
    * [[graft.functions.NearestCentroidStable]] node — ONE expression
    * instead of the K×dim round/decimal-fold tree of the Column form,
    * which dominated exact-Lloyd training cost (round-4 bench: 113.8 s
    * first rep). IvfSpec keeps the Column form as the oracle the node
    * is pinned against. */
  def nearestCentroidStable(vec: Column, cents: Seq[DCentroid]): Column = {
    val sorted = cents.sortBy(_.id)
    requireDense(sorted.map(_.id), sorted.map(_.norm))
    graft.functions.NearestCentroidStable(
      vec, sorted.map(_.vec.toSeq), sorted.map(_.norm))
  }

  /** Cosine to one codebook entry (vector literal folded into the
    * plan; codegen'd dot). */
  private def cosTo(vec: Column, vecNorm: Column, c: Centroid): Column = {
    val cv = array(c.vec.toIndexedSeq.map(lit): _*)
    round(CosineKNN.dot(vec, cv) / (vecNorm * lit(c.norm)), 9)
  }

  /** Nearest centroid id: max rounded cosine, ties to the LOWER id.
    *
    * Evaluates through the native
    * [[graft.functions.NearestCentroidCosine]] node — ONE expression
    * instead of K struct/array-literal entries, so the plan stays O(1)
    * in K. IvfSpec keeps the Column form as the oracle the node is
    * pinned against. */
  def nearestCentroid(vec: Column, centroids: Seq[Centroid]): Column = {
    val sorted = centroids.sortBy(_.id)
    requireDense(sorted.map(_.id), sorted.map(_.norm))
    graft.functions.NearestCentroidCosine(
      vec, sorted.map(_.vec.toSeq), sorted.map(_.norm))
  }

  /** The native argmax nodes return the sorted-array POSITION as the
    * centroid id, which is only correct when ids are dense 0..K-1 —
    * every codebook builder here constructs them that way, but a
    * caller-assembled codebook with gaps would silently mislabel
    * every list, and a zero/non-finite norm yields NaN cosine, which
    * WINS the argmax (NaN compares greater) and silently corrupts
    * assignments. Fail fast on both. */
  private def requireDense(ids: Seq[Int], norms: Seq[Double]): Unit = {
    require(ids == ids.indices.toList,
      s"codebook ids must be dense 0..${ids.length - 1}, got ${ids.take(8)}...")
    require(norms.forall(n => java.lang.Double.isFinite(n) && n > 0),
      "codebook norms must be finite and > 0 (zero-norm centroids would " +
        "score NaN, which wins the argmax)")
  }

  // ------------------------------------------- codebook-as-data assignment

  /** The fine codebook as a DISTRIBUTED table instead of plan
    * literals — the 100 TB path for corpus-proportional K (SemDeDup's
    * K = n/250 is ~10⁸ centroids at a 25 B-doc corpus: collecting
    * them to the driver and folding them into every quantizer
    * expression breaks the driver and the plan long before the
    * executors feel it).
    *
    * Columns: `cid` (centroid id = the source row's id — the codebook
    * rule is "the K lowest-id corpus vectors", same as the oracle's
    * `WHERE vec_id < K`, so ids must be dense 0..n-1, the graft
    * convention), `cv` (vector), `cnorm`, and `gid` (owning coarse
    * cell). Only the C = ⌈√K⌉ coarse centroids (`coarse`, the C
    * lowest-id vectors) ever live on the driver; fine membership is
    * computed DISTRIBUTED as a pure map over the K codebook rows (C·dim
    * work each, coarse level folded as literals — C grows as √n, e.g.
    * ~10⁴ at 10⁸ centroids): each fine centroid belongs to its nearest
    * coarse center by rounded cosine, ties to the lower coarse id.
    * A coarse cell's own centroid is PINNED to its cell (`cid < C` ⇒
    * `gid = cid`): cos(g,g) rounds to 1.0 so the argmax would normally
    * pick it anyway, but a duplicate centroid at a lower id ties at 1.0
    * and would steal it, leaving cell g empty — and an all-empty probe
    * set has no defined answer. Pinning makes every cell non-empty BY
    * CONSTRUCTION; the oracle mirrors the rule. At rest, write this
    * table partitioned/bucketed by `gid`. */
  def fineCodebookTable(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      coarse: Seq[Centroid]): DataFrame = {
    val c = coarse.length
    corpus.filter(col(idCol) < k)
      .select(col(idCol).cast("long").as("cid"),
        col(vecCol).as("cv"),
        CosineKNN.norm(col(vecCol)).as("cnorm"),
        when(col(idCol) < c, col(idCol).cast("long"))
          .otherwise(nearestCentroid(col(vecCol), coarse)).as("gid"))
  }

  /** [[fineCodebookTable]] for a corpus WITHOUT dense 0..n-1 ids (an
    * id-sparse split, e.g. the eval side of semantic decontamination):
    * the codebook is still "the K lowest-id vectors" (the
    * [[sampledCentroids]] rule), but cids come from the RANK of the id
    * within the selected K, not the id itself — so cid 0..K-1 stays
    * dense and coarse cells still own their own centroid (`cid < C` ⇒
    * `gid = cid`, because [[cachedSampledCentroids]] re-indexes the
    * same C lowest-id rows 0..C-1). The rank window runs over the
    * already-`limit(k)`-ed frame — bounded by K rows (index-sized, the
    * same bound the codebook itself carries), never corpus-wide; it is
    * partitioned by a non-foldable constant (`__oid * 0`, always one
    * group — the `docs_term_rank` idiom) so the plan keeps the
    * zero-"No Partition Defined" invariant with identical rank
    * semantics. */
  def fineCodebookTableRanked(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      coarse: Seq[Centroid]): DataFrame = {
    val c = coarse.length
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__oid") * 0).orderBy(col("__oid"))
    corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("__oid"), col(vecCol).as("cv"))
      .withColumn("cid", (row_number().over(w) - 1).cast("long"))
      .select(col("cid"), col("cv"),
        CosineKNN.norm(col("cv")).as("cnorm"),
        when(col("cid") < c, col("cid"))
          .otherwise(nearestCentroid(col("cv"), coarse)).as("gid"))
  }

  /** The (score DESC, cid ASC) argmax ordering packed into ONE
    * non-negative long, so the per-row argmax aggregates as a plain
    * `max(bigint)` — a truly FIXED-WIDTH buffer. `max(struct(cos,
    * -cid))` was already narrow, but a struct field in an UnsafeRow
    * aggregation buffer is var-length, which disqualifies
    * HashAggregate's fast path and SORT-aggregates the whole
    * candidate stream per task (plan-verified: the struct form
    * compiles to SortAggregate + per-task Sort; the packed form to
    * HashAggregate with zero sorts — IvfSpec pins it).
    *
    * Exactness: the score is already rounded to 9 dp, so
    * `s9 = round(score·10⁹)` recovers the exact scaled integer
    * (|score| ≤ 1 ⇒ |s9| ≤ 10⁹, double-exact far below 2⁵³); the pack
    * is `(s9 + 10⁹)·2³² + (2³¹ − cid)` — strictly monotone in
    * (s9, −cid) because consecutive s9 values sit 2³² apart while
    * the cid term spans < 2³¹, and ≤ 2·10⁹·2³² + 2³¹ < 2⁶³ so the
    * long never overflows. Requires dense codebook ids < 2³¹
    * (index-sized — the existing contract everywhere cids exist).
    *
    * Non-finite guard: a zero-norm vector makes the cosine 0/0 = NaN,
    * which the non-ANSI long cast would silently turn into 0 (ranked
    * as cosine 0.0 — where the old `max(struct)` ranked NaN above
    * everything), and an Infinity would overflow the pack into a
    * garbage cid with no error. Both are upstream contract violations
    * (vectors must be finite and non-zero), so the pack fails LOUDLY
    * on them instead of mis-assigning: one codegen'd comparison per
    * candidate, buffer stays a plain long, the HashAggregate plan pin
    * holds (IvfSpec). */
  private def packArgmax(cos: Column, cid: Column): Column = {
    val s9 = round(cos * 1e9, 0).cast("long")
    val s9ok = when(isnan(cos) || abs(s9) > 1000000000L,
        raise_error(concat(
          lit("packArgmax: non-finite or out-of-range cosine "),
          cos.cast("string"),
          lit(" (zero-norm or non-finite vector upstream)"))).cast("long"))
      .otherwise(s9)
    (s9ok + 1000000000L) * 4294967296L +
      (lit(2147483648L) - cid.cast("long"))
  }

  /** Per-row argmax of the candidate stream `scored` — one row per
    * (idCol, candidate `cid`, rounded score `__s`) — as the bare
    * `(idCol, list_id)` assignment.
    *
    * The aggregate must stay FIXED-WIDTH: carrying the vector through
    * it (the former `first(vecCol)`) gives the aggregation buffer a
    * var-length field, which disqualifies the fast hash map and
    * sort-aggregates the ENTIRE candidate stream, each row still
    * hauling the vector — stage-level spill attribution pinned
    * emb_semantic_dedup's whole 98–101 GB sf100 memory spill on
    * exactly that sort, invariant to scan width or any upstream
    * exchange, and the exact trainer paid it once per Lloyd iteration.
    * With only the packed (score, -cid) long in the buffer
    * ([[packArgmax]] — a struct would still sort-agg) the partial
    * argmax is a true map-side hash agg (per-task state = groups ×
    * 16 B at any corpus). */
  private def packedArgmaxIds(scored: DataFrame, idCol: String): DataFrame =
    scored.groupBy(col(idCol))
      .agg(max(packArgmax(col("__s"), col("cid"))).as("__best"))
      .select(col(idCol),
        (lit(2147483648L) - (col("__best") % 4294967296L)).as("list_id"))

  /** `ids` (the [[packedArgmaxIds]] result) with the vector re-attached
    * by one id equi-join against the corpus: (idCol, vecCol, list_id).
    *
    * Hash-build the narrow (id, list_id) side: a sort-merge re-attach
    * would sort the WIDE vector side by id for nothing. The forced
    * build side is corpus-LINEAR in rows but BOUNDED per partition as
    * a fraction of the partition size AQE already manages: both join
    * inputs shuffle on id into the SAME partitioning, the build row is
    * ~50 B (two longs + hash-relation overhead) while the probe row
    * carries the vector (≥ 4·dim B — ~300 B at dim 64, more at
    * production dims), so per partition the build is ≤ ~1/6 of the
    * bytes the advisory target caps — ~3 MB at the ladder's 16 MB
    * sf100 advisory, shrinking relative to the stream as dim grows.
    * That is categorically unlike the upsert's removed blind hint,
    * whose build carried FULL-WIDTH rows (build bytes = stream bytes)
    * under stage fusion. Measured: emb_semantic_dedup 88.5 s / ZERO
    * spill at sf100; emb_ivf_lloyd_table has its own sf100 cell. */
  private def reattach(
      corpus: DataFrame, idCol: String, vecCol: String, ids: DataFrame): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .join(ids.hint("shuffle_hash"), Seq(idCol))

  /** Two-level assignment with the fine codebook AS DATA — the one
    * two-level quantizer: each row is routed to its `probes` nearest
    * coarse cells ([[probeLists]]; coarse level = plan literals, the
    * only driver-resident piece) and then JOINED against the probed
    * cells' fine centroids from [[fineCodebookTable]] — per-row argmax
    * by (rounded cosine DESC, cid ASC), the flat [[assignLists]] rule
    * over the probed candidates. With `probes` = C it equals
    * [[assignLists]] exactly (IvfSpec pins it); with fewer it is
    * approximate in the IVF sense (the true nearest centroid can live
    * in an unprobed cell) but stays deterministic and
    * oracle-replayable — the scale path for corpus-proportional K,
    * (C + probes·K/C)·dim work per row instead of K·dim.
    *
    * Scale shape: explode(probes) → join on `gid` against the
    * broadcast codebook → hash-agg argmax keyed by the row id
    * ([[packedArgmaxIds]]) → [[reattach]]. The codebook ships to
    * executors once and the corpus never moves, so the argmax agg is
    * map-side and the shuffle moves one row per input row. This stops
    * scaling where the codebook (K rows of ~4·dim bytes, held by the
    * driver and every executor) outgrows a broadcast, 8 GB at most:
    * some 10⁷ centroids, far above any caller's K. Past that the join
    * must shuffle by `gid` against the bucketed codebook, [[ivfTopK]]'s
    * shape.
    *
    * Output: (idCol, vecCol, list_id). */
  def assignListsJoined(
      corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Centroid], fine: DataFrame, probes: Int): DataFrame = {
    val probed = corpus.select(col(idCol), col(vecCol),
      CosineKNN.norm(col(vecCol)).as("__vn"),
      explode(probeLists(col(vecCol), coarse, probes)).as("gid"))
    val scored = probed.join(broadcast(fine), "gid")
      .withColumn("__s",
        round(CosineKNN.dot(col(vecCol), col("cv")) / (col("__vn") * col("cnorm")), 9))
    reattach(corpus, idCol, vecCol, packedArgmaxIds(scored, idCol))
  }

  // ------------------------------------------------ codebook-as-data Lloyd

  /** Dot of a vector with a trained centroid COLUMN: products rounded
    * to 12 decimals and folded in DECIMAL(30,12) — the accumulation is
    * order-independent, unlike a plain double fold, so a SQL engine
    * summing the same products under GROUP BY gets the identical
    * double out. The one Column form of the stable dot: the at-rest
    * table path scores with it, and [[graft.functions.NearestCentroidStable]]
    * replicates it bit-for-bit. */
  private[graft] def dotStableCol(vec: Column, cm: Column): Column =
    aggregate(
      zip_with(vec, cm, (x, m) => round(x.cast("double") * m, 12).cast(dec12acc)),
      lit(java.math.BigDecimal.ZERO).cast(dec12acc),
      (acc, y) => (acc + y).cast(dec12acc)
    ).cast("double")

  /** [[stableNorm]] as a column over an array<double> vector: v² terms
    * rounded to 12 decimals, summed as exact decimals — the SQL form
    * of the driver-side recipe, identical to the oracle's
    * `sqrt(CAST(SUM(CAST(round(m*m,12) AS DECIMAL(38,12))) AS DOUBLE))`. */
  def stableNormCol(cm: Column): Column =
    sqrt(aggregate(cm,
      lit(java.math.BigDecimal.ZERO).cast(dec12acc),
      (acc, m) => (acc + round(m * m, 12).cast(dec12acc)).cast(dec12acc)
    ).cast("double"))

  /** The seed codebook as a DataFrame — `(cid, cv float vec, cnorm)`,
    * the K lowest-id corpus vectors (the [[sampledCentroids]] rule)
    * with the plain float-path norm, never collected to the driver. */
  def seedCodebookTable(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    corpus.filter(col(idCol) < k)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        CosineKNN.norm(col(vecCol)).as("cnorm"))

  /** A trained codebook table carries `cm` (array<double> means); a
    * seed table carries `cv` (the float vectors). */
  private def isTrained(codebook: DataFrame): Boolean = codebook.columns.contains("cm")

  /** Exact nearest-centroid assignment with the codebook AS DATA:
    * broadcast the K codebook rows, score every (row, centroid) pair,
    * per-row argmax by (score DESC, cid ASC) — the same rule as the
    * literal-folding quantizers, but nothing codebook-shaped ever
    * lives on the driver or in the plan. A seed table scores with the
    * float-seed arithmetic (`round(dot/(|v|·|c|), 9)` — mirrors
    * [[nearestCentroid]]); a trained table with the trained arithmetic
    * (`round(dotStable/|c|, 9)`, per-row |v| dropped — mirrors
    * [[nearestCentroidStable]]).
    *
    * Scale shape: the broadcast loop-join is bounded by the codebook
    * (build side = K rows); candidates never leave their partition
    * and the argmax agg's partial pass reduces them to one row per
    * input row before the shuffle. Exact assignment is inherently
    * n·K work — for corpus-proportional K use the probed
    * [[assignListsJoined]] instead; this is the 100 TB form of the
    * TRAINING loop's assignment, where the codebook is index-sized
    * but must not be plan literals. */
  def assignExactJoined(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame): DataFrame =
    reattach(corpus, idCol, vecCol, assignExactIds(corpus, idCol, vecCol, codebook))

  /** [[assignExactJoined]] WITHOUT the vector re-attach: the bare
    * `(idCol, list_id)` assignment straight off the packed argmax.
    * Consumers that never touch the vector again (per-list COUNTS —
    * the emb_ivf_lloyd_table reporting aggregate) get the assignment
    * with zero corpus-width exchanges: the re-attach join was a
    * full-vector corpus shuffle paid for columns the count dropped
    * (r15, guide §2.3 "project before the exchange"). Counts over
    * this frame ≡ counts over the joined frame — the join was 1:1 on
    * the unique id. */
  def assignExactIds(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame): DataFrame = {
    val stable = isTrained(codebook)
    val cb = broadcast(
      codebook.select(col("cid"),
        (if (stable) col("cm") else col("cv")).as("__cv"), col("cnorm")))
    // parallelism barrier BEFORE the n·K scoring loop-join (r15): a
    // single-file corpus fuses the whole decimal scoring + partial
    // argmax into its one scan task (the Spread.wide class; no-op on
    // a many-file corpus)
    val wide = graft.operators.Spread.wide(corpus, col(idCol))
    val scored =
      if (stable)
        wide.select(col(idCol), col(vecCol)).crossJoin(cb)
          .withColumn("__s", round(dotStableCol(col(vecCol), col("__cv")) / col("cnorm"), 9))
      else
        wide.select(col(idCol), col(vecCol),
            CosineKNN.norm(col(vecCol)).as("__vn")).crossJoin(cb)
          .withColumn("__s",
            round(CosineKNN.dot(col(vecCol), col("__cv")) / (col("__vn") * col("cnorm")), 9))
    packedArgmaxIds(scored, idCol)
  }

  /** ONE exact Lloyd step with the codebook as a DataFrame end to end
    * — the table twin of [[lloydStep]], with NO `collect()` anywhere:
    * assignment is [[assignExactJoined]], per-dimension means are the
    * same [[dimMeans]], the new codebook is re-assembled as `(cid, cm
    * array<double>, cnorm)` rows, and empty lists keep their previous
    * centroid via a left join. The norm is recomputed from the
    * resulting vector in BOTH branches (the [[exactSeed]] convention).
    *
    * `prev` is either a seed table (`cv` float) or a trained table
    * (`cm` double). Output is always the trained shape. */
  def lloydStepTable(
      corpus: DataFrame, idCol: String, vecCol: String,
      prev: DataFrame): DataFrame = {
    val means = dimMeans(assignExactJoined(corpus, idCol, vecCol, prev), vecCol)
      .groupBy(col("list_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("cm"))
    val prevCm =
      if (isTrained(prev)) prev.select(col("cid"), col("cm").as("__prev"))
      else prev.select(col("cid"),
        transform(col("cv"), x => x.cast("double")).as("__prev"))
    prevCm.join(means, prevCm("cid") === means("list_id"), "left")
      .select(col("cid"), coalesce(col("cm"), col("__prev")).as("cm"))
      .withColumn("cnorm", stableNormCol(col("cm")))
  }

  /** [[cachedLloydTrain]]'s table twin: seed table → `iterations`
    * chained [[lloydStepTable]] steps, the codebook a DataFrame
    * throughout. Each step's (tiny, K-row) output is localCheckpointed
    * so the iterated join+agg lineage doesn't compound. */
  def lloydTrainTable(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "lloydTrainTable: iterations must be >= 1")
    var book = seedCodebookTable(corpus, idCol, vecCol, k)
    (1 to iterations).foreach { _ =>
      book = lloydStepTable(corpus, idCol, vecCol, book).localCheckpoint()
    }
    book
  }

  /** Top-`nprobe` centroid ids as a pure projection (descending
    * cosine, ties to lower id): sort the K structs, slice. */
  def probeLists(vec: Column, centroids: Seq[Centroid], nprobe: Int): Column = {
    val n = CosineKNN.norm(vec)
    val entries = centroids.map(c =>
      struct(cosTo(vec, n, c).as("cos"), lit(-c.id).as("negid")))
    transform(
      slice(reverse(array_sort(array(entries: _*))), 1, nprobe),
      e => (-e.getField("negid")).cast("long"))
  }

  /** Assign the corpus to inverted lists: adds `list_id`. At rest,
    * write the table partitioned/bucketed by this column. */
  def assignLists(
      corpus: DataFrame, vecCol: String, centroids: Seq[Centroid]): DataFrame =
    corpus.withColumn("list_id", nearestCentroid(col(vecCol), centroids))

  /** IVF top-k: probe the `nprobe` nearest lists per query, exact
    * cosine inside them, bounded top-k ranking. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Centroid],
      k: Int,
      nprobe: Int): DataFrame = {
    val lists = assignLists(corpus, vecCol, centroids)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        CosineKNN.norm(col(vecCol)).as("nn"), col("list_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        CosineKNN.norm(col(vecCol)).as("qn"),
        explode(probeLists(col(vecCol), centroids, nprobe)).as("list_id"))
    // probes = |queries|·nprobe rows — broadcast so the CORPUS side
    // never shuffles (a hash join on 16ish list_ids would both move
    // the whole corpus and skew onto K reducers)
    val scored = lists.join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(CosineKNN.dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 9))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topk(col("cosine"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cosine"))
  }
}
