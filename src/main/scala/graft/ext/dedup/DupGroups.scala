package graft.ext.dedup

import graft.ext.dedup.NearDup.freeCheckpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive duplicate GROUPS from a near-dup PAIR list — the step
  * between pair mining ([[NearDup]] / [[SemanticDedup]]) and
  * group-level keep-one-per-cluster: near-duplication is not
  * transitive, so A≈B and B≈C must collapse into one group {A,B,C}
  * before a keep rule can act on it. Connected components via
  * iterative min-label propagation:
  *
  *   label(v) ← min(label(v), min label over v's neighbors)
  *
  * repeated until fixpoint; every member ends up labeled with the
  * smallest doc id reachable from it (the canonical group id).
  *
  * Below `maxDriverEdges` the edge list — already orders of magnitude
  * smaller than the corpus, since near-dup mining caps bucket sizes —
  * is collected and solved with one-pass union-find on the driver
  * (identical min-label result, zero iterative jobs); the
  * distributed fixpoint below describes the past-the-gate path.
  *
  * Scale posture: each round is ONE shuffle join (edges ⋈ labels,
  * both keyed by vertex) plus a hash-agg min — no driver-side graph.
  * Rounds needed = the component diameter, and near-dup components
  * are overwhelmingly tiny cliques (diameter ≤ 2–3); the classic
  * worst case (a long chain) is handled by the iteration cap. For
  * billion-edge general graphs production systems use the
  * large-star/small-star variant (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) — same per-round
  * plan shape, fewer rounds; the simple form is kept here because
  * dedup graphs are diameter-bounded. Each round CHECKPOINTS its
  * label frame (`localCheckpoint`, eager): caching alone would NOT
  * cut the logical plan, and an iterated join+union grows the plan
  * tree exponentially with rounds — the classic iterative-Spark trap;
  * checkpointing per round is the idiom GraphX and MLlib iterations
  * use to keep the plan constant-size.
  */
object DupGroups {

  /** (id, group_id) for every vertex that appears in `pairs`;
    * group_id = min reachable id. Vertices not in any pair are absent
    * (callers can left-join and coalesce to self). */
  def groups(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 20,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cache()
    // ADAPTIVE PATH CHOICE. The dup-pair graph is orders of magnitude
    // smaller than the corpus by construction (near-dup mining is
    // bucket-capped), and each propagation round costs several jobs
    // of fixed latency — on a sparse graph the iteration is pure
    // overhead. Under the gate, collect the edge list (the same
    // bounded data the pair queries already return) and run one-pass
    // union-find on the driver: identical min-label result, zero
    // iterative jobs. Past the gate — an actually-dense graph — the
    // distributed fixpoint below takes over.
    val nEdges = edges.count()
    if (nEdges <= maxDriverEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.get(x) != x) {
          parent.put(x, parent.get(parent.get(x))) // path halving
          x = parent.get(x)
        }
        x
      }
      val local = edges.collect()
      edges.unpersist()
      local.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        // link the larger root under the smaller: every vertex starts
        // as its own root, so a component's final root is its min id
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet().forEach(id => out += ((id, find(id))))
      return out.toSeq.toDF("id", "group_id")
    }
    // `ckpt` is the raw checkpointed frame freeCheckpoint releases
    // (its plan IS the LogicalRDD scan); `labels` is the (id, label)
    // view consumed by the next round
    var ckpt = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__m"))
      .select(col("src").as("id"), least(col("src"), col("__m")).as("label"))
      .localCheckpoint(true)
    var labels = ckpt
    var round = 0
    var converged = false
    try {
      while (!converged && round < maxRounds) {
        // neighbor minimum in one join+agg, carrying the previous
        // label through the aggregation (every id has exactly one self
        // row, so max(prev) recovers it past the nulls the edge side
        // pads) — convergence detection is then a SCAN of the
        // just-checkpointed frame, not a second shuffle join per round
        val prop = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
          .select(col("src").as("id"), col("label"), lit(null).cast("long").as("prev"))
          .union(labels.select(col("id"), col("label"), col("label").as("prev")))
          .groupBy(col("id"))
          .agg(min(col("label")).as("label"), max(col("prev")).as("prev"))
        // pointer jumping: label := min(label, label(label)). label(v)
        // is itself a vertex of v's component, so the shortcut stays
        // within the component and cuts chain convergence from
        // O(diameter) to O(log diameter) rounds (the star-contraction
        // idea from Kiveris et al.) — a random-threshold near-dup
        // graph produced 14 linear rounds here before this shortcut
        val next = prop
          .join(prop.select(col("id").as("label"), col("label").as("__ll")),
            Seq("label"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("__ll"), col("label"))).as("label"),
            col("prev"))
          .localCheckpoint(true)
        val changed = next.filter(col("label") =!= col("prev")).count()
        freeCheckpoint(ckpt)
        ckpt = next
        labels = next.select(col("id"), col("label"))
        converged = changed == 0
        round += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"label propagation did not converge in $maxRounds rounds " +
            "(component diameter exceeds the cap — raise maxRounds)")
      val out = labels.select(col("id"), col("label").as("group_id"))
      NearDup.materializeAndRelease(out, "dupgroups", edges)
    } finally {
      // release on EVERY path (incl. the non-convergence throw and a
      // mid-round failure) — edges is also passed to
      // materializeAndRelease above, but unpersist is idempotent
      freeCheckpoint(ckpt)
      edges.unpersist()
    }
  }
}
