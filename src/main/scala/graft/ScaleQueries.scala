package graft

import graft.operators.SaltedJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-technique queries: the skew/layout/sketch machinery that a
  * 100 TB deployment leans on, registered as oracle-checked queries so
  * the scale paths are hard correctness signals, not spec-only claims.
  *
  *  - q_salted_join: skew-spreading salted equi-join — row-identical
  *    to the plain join, proven against a DuckDB replay of the plain
  *    join semantics.
  *  - q_bucketed_join: co-bucketed fact-fact join that consumes the
  *    at-rest bucket layout with NO exchange under the join (the
  *    pre-bucketed pattern every repeated orderkey join would use at
  *    warehouse scale; BucketingSpec pins the no-exchange plan).
  *  - q_approx_distinct: HLL++ `approx_count_distinct` next to the
  *    exact count — the single-pass mergeable-sketch path vs the
  *    exact distinct shuffle — emitting a deterministic
  *    relative-error bound check the oracle can assert.
  */
object ScaleQueries {

  private val dec = DecimalType(18, 6)
  private def dsum(e: Column): Column = sum(e.cast(dec)).cast("double")

  // ---------------------------------------------------------- salted join

  /** Skewed fact→dim join, salted. The fact side is events with an
    * artificial hot key (every `user_id % 4 == 0` row collapses onto
    * k=0 → ~25% of the table on ONE key); the dim side is a generated
    * 100-row weight table. A plain shuffle join would send the hot
    * key's rows to a single reducer; [[graft.operators.SaltedJoin]]
    * splits k into 8 sub-keys (deterministic per-row salt from
    * event_id) and replicates the dim 8×, spreading the hot key over
    * 8 reducers. Results are row-identical to the unsalted join — the
    * DuckDB oracle replays the PLAIN join, so the hash match proves
    * exactly that. */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events").select(
      when($"user_id" % 4 === 0, 0L).otherwise($"user_id" % 100).as("k"),
      $"value".cast("double").as("value"),
      $"event_id")
    val dim = s.range(100).select(
      $"id".as("k"), ($"id" * 3 + 1).cast("double").as("weight"))
    SaltedJoin(ev, dim, "k", salts = 8, saltSource = Seq("event_id"))
      .groupBy($"k")
      .agg(
        count(lit(1)).as("n_events"),
        dsum($"value" * $"weight").as("weighted_value"))
      .orderBy($"k")
  }

  private val qSaltedJoinSql =
    """SELECT k, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(CAST(value AS DOUBLE) * weight AS DECIMAL(18,6))) AS DOUBLE)
      |    AS weighted_value
      |FROM (SELECT CASE WHEN user_id % 4 = 0 THEN 0 ELSE user_id % 100 END AS k,
      |             value
      |      FROM events) e
      |JOIN (SELECT i AS k, CAST(i * 3 + 1 AS DOUBLE) AS weight
      |      FROM range(100) t(i)) d USING (k)
      |GROUP BY k ORDER BY k""".stripMargin

  // -------------------------------------------------------- bucketed join

  /** Build (or reuse) the at-rest bucketed layout for `dir` — the
    * bench calls this explicitly so the one-time layout write is
    * reported as a `build` line instead of hiding in a first rep. */
  private[graft] def ensureBucketedLayout(s: SparkSession, dir: String): Unit = {
    bucketedTables(s, dir)
    ()
  }

  /** One bucketed layout per (session, source dir), built on first
    * use and REUSED by every later invocation in the session — the
    * honest cost model: a warehouse maintains its bucketed tables at
    * rest and amortizes the one-time layout write over every repeated
    * join, so billing the write to each query (as the first version
    * of this query did) overstated the operator ~5×. The saveAsTable
    * writes are mode(overwrite), so a rebuild after
    * [[Artifacts.clear]] is safe. */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    Artifacts.get(s, "bucketed-layout", dir)(buildBucketedTables(s, dir))

  private def buildBucketedTables(s: SparkSession, dir: String): (String, String) = {
      import s.implicits._
      // tag = sanitized full dir (not a 32-bit hash, which could
      // collide across corpora and silently share tables)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (li, ord) = (s"graft_li_bucketed_$tag", s"graft_ord_bucketed_$tag")
      val base = graft.tools.Scratch.dir("graft_bucketed")
      Tables(s, dir, "lineitem")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/li").mode("overwrite")
        .saveAsTable(li)
      Tables(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/ord").mode("overwrite")
        .saveAsTable(ord)
      (li, ord)
  }

  /** The lazy co-bucketed join — exposed so BucketingSpec can pin the
    * no-exchange plan of the REAL registry query. Both fact slices
    * live `bucketBy(8, orderkey)` (external tables, see
    * [[bucketedTables]]), and the shuffle_merge hint keeps the
    * broadcast gate from hiding the layout: the SortMergeJoin
    * consumes the bucket partitioning directly, so neither side
    * exchanges — the repeated-join layout a 100 TB warehouse would
    * maintain for lineitem⋈orders. */
  private[graft] def bucketedJoinPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (li, ord) = bucketedTables(s, dir)
    s.table(li)
      .join(s.table(ord).hint("shuffle_merge"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame =
    graft.ext.dedup.NearDup.materializeAndRelease(bucketedJoinPlan(s, dir), "bucketed")

  private val qBucketedJoinSql =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------ sketch distinct

  /** HLL++ distinct-count sketch next to the exact count. At 100 TB
    * the sketch is the only sane path for high-cardinality distincts:
    * one pass, fixed-size mergeable state, map-side combine — versus
    * the exact form's full shuffle of every distinct value. The query
    * emits the exact count (oracle-computable) plus a deterministic
    * check that the sketch landed within 5% relative error (HLL++ at
    * rsd=0.02 is deterministic for a given dataset, so the boolean is
    * stable — and the oracle asserts it is TRUE for every group). */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("exact_distinct"),
        approx_count_distinct($"user_id", rsd = 0.02).as("approx"))
      .select(
        $"event_type",
        $"exact_distinct",
        (abs($"approx" - $"exact_distinct") <=
          $"exact_distinct" * lit(0.05)).as("within_bound"))
      .orderBy($"event_type")
  }

  private val qApproxDistinctSql =
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS exact_distinct,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------- sketch quantiles

  /** GK-sketch quantiles next to the exact form — the same
    * single-pass-mergeable-state story as [[qApproxDistinct]], for
    * percentiles: at 100 TB the exact percentile sorts every group on
    * the reducers, while `approx_percentile` keeps a bounded summary
    * with map-side merge. The exact values (interpolated, rounded to
    * 6dp — both engines interpolate linearly; rounding absorbs the
    * last-ulp difference in the interpolation formula) are
    * oracle-computed; the sketch is asserted inside a RANK window
    * (between the exact 45th/55th resp. 93rd/97th percentiles) — the
    * guarantee GK actually makes is on rank error (~1e-4 at accuracy
    * 10000, far inside the ±0.02–0.05 windows), NOT on value error,
    * so a value-band could flip on a density gap while the rank
    * window is stable for ANY distribution and partitioning. */
  private def qApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
        round(expr("percentile(value, 0.95)"), 6).as("p95_exact"),
        expr("percentile(value, 0.45)").as("__lo50"),
        expr("percentile(value, 0.55)").as("__hi50"),
        expr("percentile(value, 0.93)").as("__lo95"),
        expr("percentile(value, 0.97)").as("__hi95"),
        expr("approx_percentile(value, 0.5, 10000)").as("__a50"),
        expr("approx_percentile(value, 0.95, 10000)").as("__a95"))
      .select(
        $"event_type", $"p50_exact", $"p95_exact",
        ($"__a50" >= $"__lo50" && $"__a50" <= $"__hi50").as("p50_in_band"),
        ($"__a95" >= $"__lo95" && $"__a95" <= $"__hi95").as("p95_in_band"))
      .orderBy($"event_type")
  }

  private val qApproxQuantilesSql =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
      |  round(quantile_cont(value, 0.95), 6) AS p95_exact,
      |  TRUE AS p50_in_band,
      |  TRUE AS p95_in_band
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------- range join

  /** Pure time-range join (no equi key): for every `error` event's
    * 5-minute window, count the site-wide `purchase` events inside it
    * and sum their value. Spark's native plan for the inequality-only
    * condition is a BroadcastNestedLoopJoin — O(|err|·|purch|)
    * comparisons and a broadcast that dies at scale. Because the
    * consumer here is an AGGREGATE, even the bucketized
    * [[graft.operators.RangeJoin]] pair join is super-linear (window
    * density ∝ sf ⇒ pair mass ∝ sf² — the round-7 ladder measured
    * 8.5× time for 3.16× data), so this routes through
    * [[graft.operators.IntervalAgg]]: prefix sums over the purchase
    * timeline + two as-of lookups per window, O(points + windows).
    * The DuckDB oracle still runs the NAIVE inequality join, so the
    * hash match proves the prefix-sum form exact, empty windows and
    * DECIMAL sums included. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val err = ev.filter($"event_type" === "error").select(
      $"event_id".as("err_id"), $"ts".as("w_start"),
      ($"ts" + expr("INTERVAL 5 MINUTES")).as("w_end"))
    val purch = ev.filter($"event_type" === "purchase")
      .select($"ts".as("p_ts"), $"value".as("p_value"))
    graft.operators.IntervalAgg
      .countSum(purch, err, "p_ts", "p_value",
        "err_id", "w_start", "w_end", bucketWidthSec = 300L)
      .select($"err_id",
        $"n_points".as("n_purchases"),
        $"sum_value".as("purchase_value"))
      .orderBy($"err_id")
  }

  private val qRangeJoinSql =
    """WITH err AS (
      |  SELECT event_id AS err_id, ts AS w_start, ts + INTERVAL 5 MINUTE AS w_end
      |  FROM events WHERE event_type = 'error'),
      |purch AS (
      |  SELECT ts AS p_ts, value AS p_value FROM events
      |  WHERE event_type = 'purchase'),
      |hits AS (
      |  SELECT e.err_id, COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(p.p_value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
      |  FROM err e JOIN purch p ON p.p_ts >= e.w_start AND p.p_ts <= e.w_end
      |  GROUP BY e.err_id)
      |SELECT e.err_id,
      |  COALESCE(h.n_purchases, 0) AS n_purchases,
      |  COALESCE(h.purchase_value, 0.0) AS purchase_value
      |FROM err e LEFT JOIN hits h ON h.err_id = e.err_id
      |ORDER BY e.err_id""".stripMargin

  /** q_range_join with OPEN (strict) bounds — real user SQL writes
    * `s < p AND p < e` as often as the closed form, and the rewrite
    * must not silently widen it: [[graft.operators.IntervalAgg]]
    * expresses the open bound as a 1 µs probe shift (timestamp
    * resolution), so `cum(e−1µs) − cum(s)` counts exactly the open
    * interval. Oracle is the naive strict inequality join, so the
    * hash match pins boundary rows (a purchase exactly at
    * w_start/w_end) to EXCLUDED. */
  private def qRangeJoinStrict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val err = ev.filter($"event_type" === "error").select(
      $"event_id".as("err_id"), $"ts".as("w_start"),
      ($"ts" + expr("INTERVAL 5 MINUTES")).as("w_end"))
    val purch = ev.filter($"event_type" === "purchase")
      .select($"ts".as("p_ts"), $"value".as("p_value"))
    graft.operators.IntervalAgg
      .countSum(purch, err, "p_ts", "p_value",
        "err_id", "w_start", "w_end", bucketWidthSec = 300L,
        closedStart = false, closedEnd = false)
      .select($"err_id",
        $"n_points".as("n_purchases"),
        $"sum_value".as("purchase_value"))
      .orderBy($"err_id")
  }

  /** KEYED range aggregation: for each error's 5-minute window, count
    * and sum the SAME-USER purchases inside it — the per-entity form
    * every real event pipeline needs ("what did this user buy within
    * 5 minutes of their error?"). Routed through
    * [[graft.operators.IntervalAgg.countSumByKey]]: the equi-key
    * partitions the prefix sum, so there is no pair join and no
    * bucket machinery — one per-user window pass + one fold, linear
    * whatever the per-user window density. Oracle is the naive keyed
    * inequality join, so the hash match proves the keyed prefix form
    * exact, empty windows included. */
  private def qRangeJoinUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val err = ev.filter($"event_type" === "error").select(
      $"event_id".as("err_id"), $"user_id", $"ts".as("w_start"),
      ($"ts" + expr("INTERVAL 5 MINUTES")).as("w_end"))
    val purch = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"value".as("p_value"))
    graft.operators.IntervalAgg
      .countSumByKey(purch, err, "user_id", "p_ts", "p_value",
        "err_id", "w_start", "w_end")
      .select($"err_id", $"user_id",
        $"n_points".as("n_purchases"),
        $"sum_value".as("purchase_value"))
      .orderBy($"err_id")
  }

  private val qRangeJoinUserSql =
    """WITH err AS (
      |  SELECT event_id AS err_id, user_id, ts AS w_start,
      |    ts + INTERVAL 5 MINUTE AS w_end
      |  FROM events WHERE event_type = 'error'),
      |purch AS (
      |  SELECT user_id, ts AS p_ts, value AS p_value FROM events
      |  WHERE event_type = 'purchase'),
      |hits AS (
      |  SELECT e.err_id, COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(p.p_value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
      |  FROM err e JOIN purch p ON p.user_id = e.user_id
      |    AND p.p_ts >= e.w_start AND p.p_ts <= e.w_end
      |  GROUP BY e.err_id)
      |SELECT e.err_id, e.user_id,
      |  COALESCE(h.n_purchases, 0) AS n_purchases,
      |  COALESCE(h.purchase_value, 0.0) AS purchase_value
      |FROM err e LEFT JOIN hits h ON h.err_id = e.err_id
      |ORDER BY e.err_id""".stripMargin

  private val qRangeJoinStrictSql =
    """WITH err AS (
      |  SELECT event_id AS err_id, ts AS w_start, ts + INTERVAL 5 MINUTE AS w_end
      |  FROM events WHERE event_type = 'error'),
      |purch AS (
      |  SELECT ts AS p_ts, value AS p_value FROM events
      |  WHERE event_type = 'purchase'),
      |hits AS (
      |  SELECT e.err_id, COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(p.p_value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
      |  FROM err e JOIN purch p ON p.p_ts > e.w_start AND p.p_ts < e.w_end
      |  GROUP BY e.err_id)
      |SELECT e.err_id,
      |  COALESCE(h.n_purchases, 0) AS n_purchases,
      |  COALESCE(h.purchase_value, 0.0) AS purchase_value
      |FROM err e LEFT JOIN hits h ON h.err_id = e.err_id
      |ORDER BY e.err_id""".stripMargin

  /** Interval-overlap self-join: pairs of error events whose 5-minute
    * windows intersect (concurrent incidents). Same bucket rewrite as
    * q_range_join but interval×interval — a pair can share several
    * buckets, so [[graft.operators.RangeJoin.intervalOverlap]] emits
    * it only in the first bucket both occupy (no dedup stage). Oracle
    * is the naive inequality self-join. */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    def wins(idAs: String, sAs: String, eAs: String) =
      ev.filter($"event_type" === "error").select(
        $"event_id".as(idAs), $"ts".as(sAs),
        ($"ts" + expr("INTERVAL 5 MINUTES")).as(eAs))
    graft.operators.RangeJoin.intervalOverlap(
        wins("err_a", "a_start", "a_end"), wins("err_b", "b_start", "b_end"),
        "a_start", "a_end", "b_start", "b_end", bucketWidthSec = 300L)
      .filter($"err_a" < $"err_b")
      .select($"err_a", $"err_b")
      .orderBy($"err_a", $"err_b")
  }

  private val qIntervalJoinSql =
    """WITH e AS (
      |  SELECT event_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
      |  FROM events WHERE event_type = 'error')
      |SELECT a.event_id AS err_a, b.event_id AS err_b
      |FROM e a JOIN e b
      |  ON a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e
      |ORDER BY err_a, err_b""".stripMargin

  // -------------------------------------------------------- z-order layout

  /** Z-order clustering audit over events: bucket user (10 bits,
    * masked) and hour-since-2024-01-01 (10 bits), interleave into a
    * 20-bit z-value, and report per-tile (top-6-bit z-prefix) counts
    * with each dimension's min/max. A z-prefix tile fixes the top 3
    * bits of BOTH dimensions, so every tile's ub and hb ranges are
    * ≤ 127 out of 1023 — the bounded-both-dims property that makes
    * file skipping work on either predicate once the table is laid
    * out by z-value ([[graft.operators.ZOrder.cluster]]; ZOrderSpec
    * measures the at-rest file stats). The oracle replays the exact
    * interleave arithmetic, generated from the same loop. */
  private def qZOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables(s, dir, "events").select(
      $"user_id".bitwiseAND(lit(1023L)).as("ub"),
      (expr("unix_micros(ts) div 3600000000") - lit(473352L))
        .bitwiseAND(lit(1023L)).as("hb"))
    base
      .withColumn("zkey", graft.operators.ZOrder.zValue($"ub", $"hb", 10))
      .withColumn("tile", shiftright($"zkey", 14))
      .groupBy($"tile")
      .agg(count(lit(1)).as("n_events"),
        min($"ub").as("ub_min"), max($"ub").as("ub_max"),
        min($"hb").as("hb_min"), max($"hb").as("hb_max"))
      .orderBy($"tile")
  }

  private val qZOrderSql = {
    val z = graft.operators.ZOrder.zValueSql("ub", "hb", 10)
    s"""WITH base AS (
       |  SELECT (user_id & 1023) AS ub,
       |    (((epoch_us(ts) // 3600000000) - 473352) & 1023) AS hb
       |  FROM events),
       |z AS (SELECT ub, hb, $z AS zkey FROM base)
       |SELECT (zkey >> 14) AS tile, COUNT(*) AS n_events,
       |  MIN(ub) AS ub_min, MAX(ub) AS ub_max,
       |  MIN(hb) AS hb_min, MAX(hb) AS hb_max
       |FROM z GROUP BY zkey >> 14
       |ORDER BY tile""".stripMargin
  }

  // ------------------------------------------------- incremental aggregates

  /** Incremental aggregate maintenance: per-user stats kept up to
    * date across batches by MERGING materialized partial aggregates
    * instead of re-scanning history — the algebraic-aggregate
    * property Spark uses inside one query (partial + final agg),
    * applied ACROSS batch boundaries with parquet state. Batch 1's
    * partials are written out; batch 2 only aggregates its own rows
    * and merges (sum+sum, min(min), max(max), decimal sums so merge
    * order can't change the total). The DuckDB oracle recomputes the
    * stats from the FULL corpus in one pass — the hash match proves
    * merge ≡ recompute exactly, which is what lets a 100 TB pipeline
    * update daily aggregates by touching only the new day's data. */
  private def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id", $"user_id", $"value", $"ts")
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"user_id").agg(
        count(lit(1)).as("n_events"),
        sum($"value".cast(dec)).as("sum_dec"),
        min($"ts").as("first_ts"), max($"ts").as("last_ts"))
    val state = graft.tools.Scratch.dir("graft_incr") + "/state"
    partial(ev.filter($"event_id" % 2 === 0)).write.parquet(state)
    s.read.parquet(state)
      .unionByName(partial(ev.filter($"event_id" % 2 === 1)))
      .groupBy($"user_id").agg(
        sum($"n_events").as("n_events"),
        sum($"sum_dec").as("sum_dec"),
        min($"first_ts").as("first_ts"), max($"last_ts").as("last_ts"))
      .select($"user_id", $"n_events".as("n_events"),
        $"sum_dec".cast("double").as("total_value"),
        $"first_ts", $"last_ts")
      .orderBy($"user_id")
  }

  private val qIncrementalAggSql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  MIN(ts) AS first_ts, MAX(ts) AS last_ts
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Incremental DISTINCT maintenance — the sketch analog of
    * [[qIncrementalAgg]]: counts and sums merge exactly, but distinct
    * counts need a mergeable summary, so batch 1's per-group HLL
    * sketches (Spark's DataSketches `hll_sketch_agg`) are
    * materialized to parquet state and batch 2 only sketches its own
    * rows; `hll_union_agg` merges the stored and fresh sketches with
    * no rescan of history. The estimate is checked against the exact
    * distinct as an in-band boolean (the sketch is deterministic, and
    * at these per-group cardinalities DataSketches HLL is in exact
    * sparse mode — but the CLAIM stays the sketch's actual ±5%
    * guarantee, per the q_approx_quantiles convention). */
  private def qIncrementalDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id", $"event_type", $"user_id")
    def sk(df: DataFrame): DataFrame =
      df.groupBy($"event_type").agg(hll_sketch_agg($"user_id").as("sk"))
    val state = graft.tools.Scratch.dir("graft_incr_distinct") + "/state"
    sk(ev.filter($"event_id" % 2 === 0)).write.parquet(state)
    val merged = s.read.parquet(state)
      .unionByName(sk(ev.filter($"event_id" % 2 === 1)))
      .groupBy($"event_type").agg(hll_union_agg($"sk").as("sk"))
      .select($"event_type", hll_sketch_estimate($"sk").as("est"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    exact.join(merged, Seq("event_type"))
      .select($"event_type", $"n_exact",
        (abs($"est" - $"n_exact") <= $"n_exact" * 0.05).as("est_in_band"))
      .orderBy($"event_type")
  }

  private val qIncrementalDistinctSql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS est_in_band
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------- heavy hitters

  /** Frequent-items (heavy hitters) via the mergeable Misra–Gries
    * sketch [[graft.functions.TopKFreq]]: one bounded O(k) buffer per
    * task, counts merged with the Agarwal-et-al reduction — where the
    * exact pattern (GROUP BY key ORDER BY count DESC LIMIT k) must
    * shuffle every distinct key. The registered instance keeps the
    * result hash-checkable by running with capacity ABOVE the true
    * key cardinality (5 event types, k = 8): no reduction ever fires,
    * so the sketch degenerates to exact counts and the oracle is a
    * plain GROUP BY. The approximation regime (cardinality > k,
    * bounded underestimates) is pinned in FreqSketchSpec. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .agg(graft.functions.TopKFreq.topFreq($"event_type", 8).as("tk"))
      .select(posexplode($"tk"))
      .select((($"pos") + 1).cast("long").as("rank"),
        $"col.key".as("event_type"), $"col.cnt".as("n_events"))
      .orderBy($"rank")
  }

  private val qHeavyHittersSql =
    """SELECT
      |  CAST(row_number() OVER (ORDER BY COUNT(*) DESC, event_type) AS BIGINT) AS rank,
      |  event_type, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY rank""".stripMargin

  // ------------------------------------------------------------- pagerank

  /** Weighted PageRank over the customer↔supplier trade graph: nodes
    * are customers (even ids: custkey·2) and suppliers (odd:
    * suppkey·2+1), an edge per (customer, supplier) pair that traded,
    * weighted by lineitem count, symmetric (both directions) so the
    * bipartite walk has no dangling mass. Four power iterations in
    * exact fixed-point integers ([[graft.ext.graph.PageRank]] — each
    * iteration one equi-join + one hash agg, ranks checkpointed per
    * round, nothing on the driver); the oracle replays the full
    * training with one generated CTE block per iteration (the
    * Lloyd/BPE convention). */
  private def qPageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val base = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .groupBy($"c", $"s").agg(count(lit(1)).as("w"))
    val edges = base.select($"c".as("src"), $"s".as("dst"), $"w")
      .unionByName(base.select($"s".as("src"), $"c".as("dst"), $"w"))
    // symmetricEdges: `edges` is base ∪ base.reverse by construction
    // (both directions of every traded pair), so {src} = {dst} = the
    // vertex set — PageRank skips the nodes frame and the per-round
    // teleport left-join (r15; see PageRank.ranks).
    graft.ext.graph.PageRank.ranks(edges, "src", "dst", "w", iters = 4,
      symmetricEdges = true)
      .select(
        when(pmod($"node", lit(2)) === 1, "supplier").otherwise("customer").as("kind"),
        expr("node div 2").as("entity_id"), $"rank")
      .orderBy($"kind", $"entity_id")
  }

  private val qPageRankSql =
    s"""WITH base AS (
       |  SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s,
       |         CAST(COUNT(*) AS BIGINT) AS w
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT c AS src, s AS dst, w FROM base
       |  UNION ALL SELECT s, c, w FROM base),
       |${graft.ext.graph.PageRank.oracleCtes(4)}
       |SELECT CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS kind,
       |  CAST(node // 2 AS BIGINT) AS entity_id, rank
       |FROM r4 ORDER BY kind, entity_id""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank"         -> (qPageRank _),
    "q_salted_join"      -> (qSaltedJoin _),
    "q_bucketed_join"    -> (qBucketedJoin _),
    "q_range_join"       -> (qRangeJoin _),
    "q_range_join_user"  -> (qRangeJoinUser _),
    "q_range_join_strict" -> (qRangeJoinStrict _),
    "q_interval_join"    -> (qIntervalJoin _),
    "q_zorder_layout"    -> (qZOrder _),
    "q_incremental_agg"  -> (qIncrementalAgg _),
    "q_heavy_hitters"    -> (qHeavyHitters _),
    "q_incremental_distinct" -> (qIncrementalDistinct _),
    "q_approx_distinct"  -> (qApproxDistinct _),
    "q_approx_quantiles" -> (qApproxQuantiles _))

  val oracles: Map[String, String] = Map(
    "q_pagerank"         -> qPageRankSql,
    "q_salted_join"      -> qSaltedJoinSql,
    "q_bucketed_join"    -> qBucketedJoinSql,
    "q_range_join"       -> qRangeJoinSql,
    "q_range_join_user"  -> qRangeJoinUserSql,
    "q_range_join_strict" -> qRangeJoinStrictSql,
    "q_interval_join"    -> qIntervalJoinSql,
    "q_zorder_layout"    -> qZOrderSql,
    "q_incremental_agg"  -> qIncrementalAggSql,
    "q_heavy_hitters"    -> qHeavyHittersSql,
    "q_incremental_distinct" -> qIncrementalDistinctSql,
    "q_approx_distinct"  -> qApproxDistinctSql,
    "q_approx_quantiles" -> qApproxQuantilesSql)
}
