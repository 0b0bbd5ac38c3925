package graft.ext.graph

import graft.ext.dedup.NearDup.freeCheckpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank as iterated relational algebra — the graph twin
  * of the repo's other fixed-iteration operators (exact Lloyd
  * training, BPE merge learning, dup-group label propagation):
  * every iteration is ONE rank ⋈ edge equi-join plus one
  * destination-keyed hash aggregation, nothing graph-shaped lives on
  * the driver, and the damping arithmetic is EXACT INTEGER so the
  * whole training loop replays hash-identically in SQL.
  *
  * Update rule (Page, Brin, Motwani, Winograd 1999, damping d = 0.85,
  * teleport over the |V| graph vertices), in fixed-point integers at
  * `scale` (ranks start at `scale` per vertex):
  *
  *   r'(v) = (15·scale div 100) + Σ_{(u,v,w)} (r(u)·85·w) div (100·W(u))
  *
  * where W(u) is u's total out-weight. Per-edge integer division is
  * part of the DEFINITION here (not an approximation of float PR):
  * both engines compute the identical `div`, so ranks are
  * bit-reproducible — the docs_term_rank/ln rationale applied to
  * graph analytics. Rank mass leaks a few units per division (floor)
  * — immaterial for ranking, essential for determinism.
  *
  * Scale posture: rank state and edges shuffle on vertex keys each
  * round (edges can stay hash-partitioned by src across rounds);
  * per-round plans are constant-size because each round
  * `localCheckpoint`s its rank frame — the DupGroups idiom; rounds
  * are a fixed small count (power iteration converges geometrically
  * at 0.85^k). Dangling vertices (no out-edges) keep receiving rank
  * but stop redistributing it — acceptable for ranking; symmetric
  * edge lists (the registry query's shape) have none.
  */
object PageRank {

  /** Ranks after `iters` rounds over `edges(srcCol, dstCol, wCol)`.
    * Vertices = every id appearing as src or dst. Output:
    * `(node, rank)` with rank the fixed-point integer (BIGINT).
    *
    * `symmetricEdges = true` is a CALLER ASSERTION that the edge list
    * contains both directions of every edge (the registry query
    * constructs exactly that: `base ∪ base.reverse`). Under it,
    * {src} = {dst} = the vertex set, so (r15, guide §2.4):
    *  - the `nodes` frame (union + distinct over 2·|E| rows, one
    *    eager checkpoint job) is never built — every per-iteration
    *    aggregate is already keyed by the full vertex set;
    *  - the per-iteration `nodes LEFT JOIN contrib` disappears: every
    *    vertex has in-edges whose sources all carry a rank, so
    *    `contrib` covers every node and the coalesce never fired —
    *    rank = teleport + inflow directly (4 joins removed at
    *    iters = 4, plan-equivalence pinned in PageRankSpec).
    * Asymmetric graphs keep the original shape (dst-only vertices
    * exist only there).
    *
    * Iteration 1 folds its rank join away in BOTH modes (r15): ranks
    * start UNIFORM at `scale`, so contrib₁ = Σ (scale·85·w) div
    * (100·wout) needs no (node, rank) side at all — the join against
    * a constant column is arithmetic, not a join. (Every edge src
    * carries a rank at init, so the fold drops no edges.) */
  def ranks(
      edges: DataFrame,
      srcCol: String, dstCol: String, wCol: String,
      iters: Int,
      scale: Long = 1000000000L,
      symmetricEdges: Boolean = false): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // checkpoint the edge list FIRST (r14): ew and nodes are separate
    // eager jobs, and each used to re-derive the caller's whole edge-
    // construction plan (for the registry query: the lineitem⋈orders
    // join + aggregate) because exchange reuse never spans actions —
    // the upstream plan ran TWICE. One edge checkpoint runs it once;
    // ew/nodes then derive from the materialized 24-byte-row edges,
    // and the edge blocks are freed as soon as both exist.
    val e = edges.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(wCol).cast("long").as("w"))
      .localCheckpoint(true)
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    // the weighted edge list and vertex set are consumed once PER
    // ITERATION: materialize them once (the GraphX cache-the-graph
    // idiom) or every round re-derives them from the upstream plan —
    // measured 4× the whole edge-construction join at iters = 4.
    // Under the symmetric assertion the vertex set is {src}, already
    // keyed through every aggregate — no nodes frame at all.
    val ew = e.join(outW, Seq("src")).localCheckpoint(true)
    val nodes: Option[DataFrame] =
      if (symmetricEdges) None
      else Some(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint(true))
    freeCheckpoint(e)
    val teleport = 15L * scale / 100L

    def withTeleport(contrib: DataFrame): DataFrame = nodes match {
      // left join keeps rank-receiving-nothing vertices at teleport;
      // both sides are per-node narrow — hash-build the inflow side
      case Some(n) => n
        .join(contrib.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + coalesce(col("inflow"), lit(0L))).as("rank"))
      case None => contrib
        .select(col("node"), (lit(teleport) + col("inflow")).as("rank"))
    }

    // iteration 1: uniform ranks fold into the edge expression
    var ranks = withTeleport(ew
      .select(col("dst").as("node"),
        expr(s"(CAST($scale AS BIGINT) * 85 * w) div (100 * wout)").as("c"))
      .groupBy(col("node"))
      .agg(sum(col("c")).as("inflow")))
      .localCheckpoint(true)
    var prev: Option[DataFrame] = Some(ranks)
    (2 to iters).foreach { _ =>
      // hash-build the (node, rank) side: two longs per vertex, while
      // the edge list is corpus-scaled — a sort-merge join re-sorts
      // the edges EVERY iteration just to meet the join ordering
      val contrib = ew
        .join(ranks.select(col("node").as("src"), col("rank"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank * 85 * w) div (100 * wout)").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("inflow"))
      val next = withTeleport(contrib).localCheckpoint(true)
      prev.foreach(freeCheckpoint)
      prev = Some(next)
      ranks = next
    }
    // Dump the final ranks to scratch parquet and free EVERY cached
    // RDD — including the last iteration's, which round 7 leaked one
    // per bench rep for the life of the session (ADVICE): the caller
    // gets a plain parquet-backed frame that owns no executor storage.
    val out = graft.ext.dedup.NearDup.materializeAndRelease(
      ranks, "pagerank")
    prev.foreach(freeCheckpoint)
    freeCheckpoint(ew)
    nodes.foreach(freeCheckpoint)
    out
  }

  /** The generated DuckDB replay: one CTE block per iteration over a
    * caller-supplied `edges(src, dst, w)` CTE — the Lloyd/BPE oracle
    * convention. Returns the text after the edges CTE; final relation
    * is `r$iters(node, rank)`. */
  def oracleCtes(iters: Int, scale: Long = 1000000000L): String = {
    val teleport = 15L * scale / 100L
    val base =
      s"""outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST($teleport + COALESCE(f.inflow, 0) AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      SUM((r.rank * 85 * e.w) // (100 * o.wout)) AS inflow
         |    FROM edges e
         |    JOIN r${i - 1} r ON r.node = e.src
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) f ON f.node = n.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }
}
