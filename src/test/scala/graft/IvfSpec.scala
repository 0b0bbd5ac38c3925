package graft

import graft.IvfOracles._
import graft.ext.similarity.{CosineKNN, IvfKNN}
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")

  /** The coarse cells of an 8-entry fine codebook: its C = ⌈√8⌉ = 3
    * lowest-id vectors. */
  private val c = 3
  private def coarse = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", c)
  private def fine = IvfKNN.fineCodebookTable(emb, "vec_id", "embedding", 8, coarse)

  test("full probe (nprobe = K) equals brute force exactly") {
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    val ivf = IvfKNN.ivfTopK(emb, emb.filter($"vec_id" < 5), "vec_id", "embedding",
        cents, k = 3, nprobe = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val exact = CosineKNN.bruteForceTopK(emb, emb.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ivf == exact)
  }

  test("quantizer is a pure map: no shuffle, window, or crossJoin in assignment") {
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    val p = IvfKNN.assignLists(emb, "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
  }

  test("probe join broadcasts the probe side; corpus never shuffles before scoring") {
    val p = SparkEntry.queries("emb_knn_ivf")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the corpus reaches the scoring join without a hash exchange on list_id
    assert(!p.contains("Exchange hashpartitioning(list_id"), p.take(3000))
  }

  test("every vector lands in exactly one list; lists cover the corpus") {
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    val assigned = IvfKNN.assignLists(emb, "embedding", cents)
    assert(assigned.count() == emb.count())
    val ids = assigned.select("list_id").distinct().as[Long].collect().toSet
    assert(ids.subsetOf((0L until 8L).toSet) && ids.size > 1)
  }

  test("lists written as a hive partition key prune at the scan for a probe") {
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    val root = tmpDir("ivf_at_rest") + "/t"
    IvfKNN.assignLists(emb, "embedding", cents)
      .write.partitionBy("list_id").parquet(root)
    // a 2-list probe must scan only those partitions' files
    val probe = spark.read.parquet(root).filter($"list_id".isin(0L, 3L))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan.take(2000))
    val scanned = probe.select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSet
    assert(scanned.nonEmpty)
    assert(scanned.forall(f => f.contains("list_id=0") || f.contains("list_id=3")), scanned.take(3))
    // and the probed rows are exactly those lists' members
    val expected = IvfKNN.assignLists(emb, "embedding", cents)
      .filter($"list_id".isin(0L, 3L)).count()
    assert(probe.count() == expected)
  }

  test("clustered corpus: partial probe keeps high recall; Lloyd training keeps it") {
    // 4 tight clusters around orthogonal-ish seeds + the query points
    val rnd = new scala.util.Random(7)
    val seeds = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = (0 until 400).map { i =>
      val c = seeds(i % 4)
      (i.toLong, c.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 8)
    val exact = CosineKNN.bruteForceTopK(df, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallWith(cents: Seq[IvfKNN.Centroid]): Double = {
      val got = IvfKNN.ivfTopK(df, q, "vec_id", "embedding", cents, k = 5, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val sampled = IvfKNN.sampledCentroids(df, "vec_id", "embedding", 8)
    val rSampled = recallWith(sampled)
    assert(rSampled >= 0.9, s"sampled-centroid recall $rSampled")
    val trained = IvfKNN.cachedLloydTrain(df, "vec_id", "embedding", 8,
        "ivfspec_clustered", iterations = 3)
      .map { t =>
        val v = t.vec.map(_.toFloat)
        IvfKNN.Centroid(t.id, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)))
      }
    val rTrained = recallWith(trained)
    assert(rTrained >= rSampled - 0.05, s"trained $rTrained vs sampled $rSampled")
  }

  test("collected Lloyd trainer rejects iterations < 1") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      IvfKNN.cachedLloydTrain(df, "vec_id", "embedding", 2, "ivfspec_zero", iterations = 0)
    }
  }

  test("exact Lloyd step: counts conserve the corpus, movement is real, result is stable") {
    val out = SparkEntry.queries("emb_ivf_lloyd")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = emb.count()
    assert(out.map(_._2).sum == n, "seed counts must cover the corpus")
    assert(out.map(_._3).sum == n, "trained counts must cover the corpus")
    // training actually changed the partition of the corpus
    assert(out.map(_._4).sum > 0, "Lloyd step moved no vectors")
    // departures only come from lists that had members under the seed
    assert(out.forall { case (_, s, _, d) => d <= s })
    // deterministic end-to-end (memoized codebook + exact arithmetic)
    val again = SparkEntry.queries("emb_ivf_lloyd")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.sameElements(again))
  }

  test("native stable quantizer matches the Column decimal formulation exactly") {
    val trained = lloyd1(emb, 8)
    // the whole corpus, both paths, row for row
    val both = emb.select(
        $"vec_id",
        IvfKNN.nearestCentroidStable($"embedding", trained).as("native"),
        nearestCentroidStableColumns($"embedding", trained).as("columns"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}"))
    // adversarial: negative components, duplicate centroids (score tie →
    // both paths must break to the LOWER centroid id), double input arrays
    val dup = trained.take(1).map(c => c.copy(id = trained.size)) // tie with id 0
    val cents2 = (trained ++ dup).sortBy(_.id)
    val rnd = new scala.util.Random(11)
    val hard = (0 until 200).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian() * (if (i % 3 == 0) -1 else 1))))
      .toDF("vec_id", "embedding")
    val both2 = hard.select(
        IvfKNN.nearestCentroidStable($"embedding", cents2).as("native"),
        nearestCentroidStableColumns($"embedding", cents2).as("columns"))
      .collect()
    both2.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // the planted duplicate of centroid 0 always loses the tie to the
    // lower id: no row may land on the duplicate's (last) slot
    assert(both2.forall(_.getLong(0) != (cents2.size - 1).toLong))
    assert(both2.exists(_.getLong(0) == 0L),
      "tie case never exercised: no vector chose centroid 0")
  }

  test("native cosine quantizer matches the Column struct-argmax formulation exactly") {
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    // the whole corpus, both paths, row for row
    val both = emb.select(
        $"vec_id",
        IvfKNN.nearestCentroid($"embedding", cents).as("native"),
        nearestCentroidColumns($"embedding", cents).as("columns"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}"))
    // adversarial: duplicate centroid (rounded-cosine tie must break to
    // the LOWER id on both paths), negative components, float inputs
    val dup = cents.take(1).map(c => c.copy(id = cents.size))
    val cents2 = (cents ++ dup).sortBy(_.id)
    val rnd = new scala.util.Random(7)
    val hard = (0 until 200).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat * (if (i % 3 == 0) -1 else 1))))
      .toDF("vec_id", "embedding")
    val both2 = hard.select(
        IvfKNN.nearestCentroid($"embedding", cents2).as("native"),
        nearestCentroidColumns($"embedding", cents2).as("columns"))
      .collect()
    both2.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // the planted duplicate of centroid 0 always loses the tie
    assert(both2.forall(_.getLong(0) != (cents2.size - 1).toLong))
    assert(both2.exists(_.getLong(0) == 0L),
      "tie case never exercised: no vector chose centroid 0")
  }

  test("stable-quantizer assignment is a pure map: no shuffle/window/crossJoin") {
    val p = emb.select(IvfKNN.nearestCentroidStable($"embedding", lloyd1(emb, 8)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
  }

  // ------------------------------------------------ two-level quantizer

  test("codebook-as-data: fine table partitions dense ids, every cell owns its centroid") {
    val got = fine.select($"cid", $"gid").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toList == (0L until 8L).toList)
    assert(got.forall(_._2 < c))
    // pinning: cell g contains fine centroid g (no empty cells possible)
    (0L until c.toLong).foreach(g => assert(got.contains((g, g))))
    // and the distributed membership equals the driver-side reference
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    assert(got.toList == coarseMembership(cents, c).toList)
  }

  test("joined assignment probing ALL cells equals the flat quantizer exactly") {
    // with every coarse cell probed the candidate set is the whole
    // codebook, so the two-level argmax must reduce to the flat one —
    // the same reduction the full-probe IVF test pins for search
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    val flat = IvfKNN.assignLists(emb, "embedding", cents)
      .select($"vec_id", $"list_id")
    val joined = IvfKNN.assignListsJoined(
        emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
        coarse, fine, probes = c)
      .select($"vec_id", $"list_id")
    assert(joined.count() == emb.count())
    assert(flat.exceptAll(joined).isEmpty && joined.exceptAll(flat).isEmpty)
  }

  test("joined assignment with 2 probes equals the driver-side reference row-for-row") {
    val joined = IvfKNN.assignListsJoined(
        emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
        coarse, fine, probes = 2)
      .select($"vec_id", $"list_id")
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    val rows = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }.toSeq
    val got = joined.as[(Long, Long)].collect().toMap
    assert(got.size == rows.size, "join path must keep every row")
    assert(got == joinedAssignment(rows, cents, c, probes = 2))
    // and 2 probes of 3 cells is a real restriction on this corpus
    val flat = IvfKNN.assignLists(emb, "embedding", cents)
      .select($"vec_id", $"list_id").as[(Long, Long)].collect().toMap
    assert(got != flat, "2 probes never missed the flat argmax: the probe is untested")
    // plan: broadcast join against the codebook table — never a
    // cartesian/BNLJ, never a window; the fine codebook must NOT
    // appear as plan literals (only the C coarse vectors do)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("table-form Lloyd equals the collected exact trainer bit-for-bit") {
    val t1 = lloyd1(emb, 8)
    val t2 = lloydNext(emb, t1)
    def check(book: org.apache.spark.sql.DataFrame,
        cents: Seq[IvfKNN.DCentroid]): Unit = {
      val rows = book.orderBy($"cid").collect()
      assert(rows.length == cents.length)
      rows.zip(cents.sortBy(_.id)).foreach { case (r, c) =>
        assert(r.getLong(0) == c.id.toLong)
        assert(r.getSeq[Double](1) == c.vec.toSeq, s"cid ${c.id}: means differ")
        assert(r.getDouble(2) == c.norm, s"cid ${c.id}: norm differs")
      }
    }
    val b1 = IvfKNN.lloydTrainTable(emb, "vec_id", "embedding", 8, iterations = 1)
    check(b1, t1)
    check(IvfKNN.lloydTrainTable(emb, "vec_id", "embedding", 8, iterations = 2), t2)
    // joined stable assignment against the table ≡ the literal-folding
    // native quantizer, row for row
    val lit = emb.select($"vec_id",
      IvfKNN.nearestCentroidStable($"embedding", t1).as("list_id"))
    val joined = IvfKNN.assignExactJoined(emb, "vec_id", "embedding", b1)
      .select($"vec_id", $"list_id")
    assert(joined.count() == emb.count())
    assert(joined.exceptAll(lit).isEmpty && lit.exceptAll(joined).isEmpty)
    // plan hygiene: the codebook rides a broadcast join, not the plan —
    // no cartesian/BNLJ (the loop join is over the bounded build side)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("exact-joined assignment argmax is a hash aggregate — no sort anywhere") {
    // Round-11 verdict #1: the former first(vecCol) in the argmax
    // buffer was a var-length aggregation field — it disqualified the
    // fast fixed-width hash map and sort-aggregated the ENTIRE n·K
    // candidate stream with every row hauling the vector, once per
    // Lloyd iteration (the emb_semantic_dedup ~100 GB spill class,
    // iterated). The rewrite aggregates only (s, negid) and re-attaches
    // the vector by a hash-built id equi-join, so the executed plan
    // must contain NO sort-based operator of any kind.
    val b1 = IvfKNN.lloydTrainTable(emb, "vec_id", "embedding", 8, iterations = 1)
    Seq(b1, IvfKNN.seedCodebookTable(emb, "vec_id", "embedding", 8)).foreach { book =>
      val assigned = IvfKNN.assignExactJoined(emb, "vec_id", "embedding", book)
      val plan = assigned.queryExecution.executedPlan.toString
      assert(!plan.contains("SortAggregate"), plan.take(2000))
      assert(!plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Sort "), plan.take(2000))
      assert(plan.contains("HashAggregate"), plan.take(2000))
      assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
      // and the aggregate buffer really is vector-free: the argmax
      // output carries only (id, list_id); the vector re-attaches from
      // the corpus side of the re-attach join
      assert(assigned.columns.toSeq == Seq("vec_id", "embedding", "list_id"))
    }
    // the probed two-level assignment (semantic dedup's quantizer)
    // carries the same packed-long argmax — no sort-based operator
    val joined = IvfKNN.assignListsJoined(
      emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      coarse, fine, probes = 2)
    val jPlan = joined.queryExecution.executedPlan.toString
    assert(!jPlan.contains("SortAggregate"), jPlan.take(2000))
    assert(!jPlan.contains("Sort "), jPlan.take(2000))
    assert(jPlan.contains("HashAggregate"), jPlan.take(2000))
  }

  test("packed argmax fails loudly on a non-finite cosine instead of mis-assigning") {
    // round-12 advice: a NaN cosine used to cast silently to 0 in the
    // packed long — ranked as cosine 0.0 where max(struct) ranked NaN
    // above everything — and an Infinity would unpack to a garbage
    // cid. Both now raise. (A ZERO-norm vector already fails loudly
    // upstream: ANSI mode — the session default — raises
    // DIVIDE_BY_ZERO at the cosine division itself; the silent path
    // the guard closes is a NaN/Inf VALUE inside a vector, where the
    // divisor is NaN, not zero.)
    val poisoned = emb.select($"vec_id",
      when($"vec_id" === 3L,
        array_repeat(lit(Float.NaN), org.apache.spark.sql.functions.size($"embedding")))
        .otherwise($"embedding").as("embedding"))
    val e = intercept[Exception] {
      IvfKNN.assignListsJoined(poisoned, "vec_id", "embedding",
        coarse, fine, probes = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("packArgmax")),
      s"expected the packArgmax guard, got: ${msgs(e).mkString(" | ")}")
  }

  test("joined quantizer routes tight clusters like the flat one") {
    // clustered corpus: points tightly around each centroid must get
    // their own centroid back even through coarse routing (the coarse
    // argmax sees nearly the centroid itself). The 9 centroids are
    // corpus rows 0..8, so they form the fine codebook table.
    val rnd = new scala.util.Random(11)
    val seeds = Array.fill(9)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val points = (0 until 9).flatMap { s =>
      (0 until 20).map { i =>
        val v = seeds(s).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
        ((s + 1).toLong * 100 + i, v.toSeq)
      }
    }.toDF("vec_id", "embedding")
    val corpus = seeds.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding").union(points)
    val cells = IvfKNN.sampledCentroids(corpus, "vec_id", "embedding", 3)
    val book = IvfKNN.fineCodebookTable(corpus, "vec_id", "embedding", 9, cells)
    val joined = IvfKNN.assignListsJoined(points, "vec_id", "embedding", cells, book,
        probes = 2)
      .select($"vec_id", $"list_id").as[(Long, Long)].collect()
    val flat = IvfKNN.assignLists(points, "embedding",
        IvfKNN.sampledCentroids(corpus, "vec_id", "embedding", 9))
      .select($"vec_id", $"list_id").as[(Long, Long)].collect()
    assert(joined.length == points.count())
    (joined ++ flat).foreach { case (vid, lid) =>
      assert(lid == vid / 100 - 1, s"vector $vid routed to $lid")
    }
  }
}
