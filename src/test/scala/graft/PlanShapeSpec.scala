package graft

/** Plan-shape regression tests: the physical plans the scale notes
  * promise. Guards against silently losing a broadcast, a pushdown,
  * or a top-k specialization in a refactor. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q5 dims are broadcast joins, not shuffle joins") {
    val p = plan("q5_region_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the nation/customer/supplier dims never hash-exchange
    assert(!p.contains("Exchange hashpartitioning(c_custkey"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(s_suppkey"), p.take(2000))
  }

  test("SF-scaled dims are size-gated, not hint-pinned: strategy adapts when the gate closes") {
    // customer/supplier/part carry NO broadcast() hint — at bench SFs
    // the autoBroadcastJoinThreshold size gate still picks broadcast
    // (test above); when the gate closes (threshold -1, standing in
    // for a dim that outgrew it at 100 TB) the SAME query must fall
    // back to a shuffle join, while the fixed-cardinality
    // nation/region hints keep broadcasting.
    //
    // ISOLATED session: sbt runs suites in parallel in one JVM, and a
    // shared-session conf mutation races every other suite's planning
    // (the round-9 RegistryPlanGateSpec flake). newSession() shares
    // the SparkContext but owns its SQLConf, so the -1 threshold is
    // private to this test.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def planIso(q: String): String =
      SparkEntry.queries(q)(s, sf).queryExecution.executedPlan.toString
    Seq("q5_region_volume", "q9_nation_profit", "q_brand_revenue").foreach { q =>
      val p = planIso(q)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"$q did not fall back to a shuffle join: ${p.take(3000)}")
    }
    // the pinned fixed-cardinality dims still broadcast under -1
    Seq("q5_region_volume", "q9_nation_profit").foreach { q =>
      val p = planIso(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q lost the nation/region broadcast hint: ${p.take(3000)}")
    }
  }

  test("q3 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("parquet filter pushdown reaches the lineitem scan in q3") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      p.take(3000))
  }

  test("normalize reads only declared columns (pruned scan)") {
    val p = plan("docs_token_stats")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(2000))
  }

  test("q1 aggregation is partial map-side before the exchange") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum"), p.take(2000))
  }

  test("q9 dims broadcast; the only hash exchanges are the fact-fact orderkey join and the rollup") {
    val p = plan("q9_nation_profit")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(s_suppkey"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(n_nationkey"), p.take(2000))
  }

  test("q18 top-100 plans as TakeOrderedAndProject over the agg-then-join") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("LSH pair queries never degenerate to cartesian products") {
    // minhash/simhash registry queries return a scan of their
    // materialized output, so assert on the lazy MINING plans directly
    val docs = Tables(spark, sf, "documents")
    val (mh, mhCaches, _) = graft.ext.dedup.NearDup.minhashPairsPlanFull(
      docs, "doc_id", "text", 2, 16, 4, 0.5, 1000)
    val (sh, shCaches, _) = graft.ext.dedup.NearDup.simhashPairsPlanFull(
      docs, "doc_id", "text", 3, 1000, 0)
    try {
      val plans = Seq(
        "minhash" -> mh.queryExecution.executedPlan.toString,
        "simhash" -> sh.queryExecution.executedPlan.toString,
        "emb_neardup" -> plan("emb_neardup_pairs"))
      plans.foreach { case (q, p) =>
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q: ${p.take(2000)}")
      }
    } finally (mhCaches ++ shCaches).foreach(_.unpersist())
  }

  test("q22 date filter is pushed to the orders scan feeding the anti join") {
    val p = plan("q22_idle_rich")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      p.take(3000))
  }

  test("range and interval registry queries never nested-loop") {
    for (q <- Seq("q_range_join", "q_interval_join")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoop"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
    }
  }

  test("docs_split is a pure map over the scan: no exchange except the output sort") {
    val p = plan("docs_split")
    // exactly one exchange: the rangepartitioning for the ORDER BY
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, p.take(2000))
    assert(p.contains("rangepartitioning"), p.take(2000))
  }

  test("docs_term_rank broadcasts the term list and weights onto the token stream") {
    val p = plan("docs_term_rank")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(3000))
  }

  test("runtime bloom-filter pruning injects on a selective fact-fact shuffle join") {
    // At 100 TB a selective dim filter should prune the fact scan at
    // RUNTIME via Spark's injected bloom filter (the fact side's scan
    // exceeds the 10GB application-side default there). Locally the
    // scans are tiny, so open the size gates and pin that the
    // engine's plain declarative join composes with the injection —
    // nothing in our operators blocks the rewrite.
    // isolated session — shared-conf mutation races parallel suites
    // (the round-9 RegistryPlanGateSpec flake)
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    import s.implicits._
    val li = Tables(s, sf, "lineitem")
    val ord = Tables(s, sf, "orders").filter($"o_orderpriority" === "1-URGENT")
    val p = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").count()
      .queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain"), p.take(3000))
  }

  test("decontamination joins the broadcast eval grams; the train side never sort-merge-joins") {
    val p = plan("docs_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("source mix is a broadcast rate table over a map-only corpus filter") {
    val p = plan("docs_source_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the corpus never hash-exchanges: the only exchanges are the
    // 3-row literal-stats aggregate and the output range sort
    assert(!p.contains("Exchange hashpartitioning(doc_id"), p.take(3000))
    assert(!p.contains("Exchange hashpartitioning(domain"), p.take(3000))
  }

  test("shard packing's corpus window is bucket-partitioned; offsets are driver metadata, no global window") {
    val qe = SparkEntry.queries("docs_pack_shards")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // the per-row cumulative sum must carry the bucket partition key
    assert(p.contains("Window ") && p.contains("windowspecdefinition"), p.take(4000))
    val corpusWindows = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("__cum")).toSeq
    assert(corpusWindows.forall(_.contains("__b")),
      s"corpus cumsum window lost its bucket partition key:\n${corpusWindows.mkString("\n")}")
    // round 10: the bucket-totals prefix moved to driver arithmetic
    // (the IntervalAgg offsets idiom) — NO empty-partition window may
    // remain anywhere in the plan
    val globals = qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, s"pack_shards regained a global window: $globals")
  }

  // Round 11: the residual-spill class — corpus-scaled streams joining
  // sublinear (vocab/model/per-doc) sides must HASH-build the small
  // side, never sort the stream to satisfy a sort-merge join. The last
  // 6.4 GB of docs_embed_knn's sf100 memory spill was exactly the
  // tf⋈weights SMJ's stream-side sort.

  test("text-embedding joins hash-build the vocab and norm sides; the tf stream never sorts") {
    val p = plan("docs_embed")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    val pk = plan("docs_embed_knn")
    assert(!pk.contains("SortMergeJoin"), pk.take(3000))
  }

  test("LM train+score: no sort-merge join survives adaptive planning") {
    // the model join carries NO hint (its right strategy is size-
    // dependent: broadcast for a snapshot-flat reference model,
    // shuffled hash via maxShuffledHashJoinLocalMapThreshold for a
    // corpus-scaled self-model) — so the contract lives in the FINAL
    // adaptive plan, after execution
    Seq("docs_lm_score", "docs_lm_score_ref").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.count()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin"), s"$q: ${p.take(3000)}")
    }
  }

  test("inverted-index stats join hash-builds; no sort-merge join in postings") {
    val p = plan("docs_inverted_index")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("tfidf weighted-term join hash-builds the pruned vocab; only the pair self-join sort-merges") {
    // tfidfPairs materializes eagerly, so pin the component shape the
    // operator builds (the SpreadBarrierSpec idiom)
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val docs = Tables(spark, sf, "documents")
    val grams = graft.ext.text.TextFunctions.spreadForExplode(docs)
      .select(col("doc_id").as("doc"),
        explode(graft.ext.text.TextFunctions.shingles(col("text"), 3))
          .as("term"))
    val dfs = grams.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 40)
    val joined = grams.join(dfs.hint("shuffle_hash"), Seq("term"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }
}
