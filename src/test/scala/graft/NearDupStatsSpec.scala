package graft

import graft.ext.dedup.NearDup
import graft.tools.ScaleBench
import org.apache.spark.sql.functions._

/** The scale bench's stats pass over each miner's lazy plan must
  * (a) return the SAME pairs as the public miner and (b) report
  * candidate-mass numbers that agree with a direct recomputation from
  * the bucket assignment — it is the scale bench's attribution
  * instrument (round-5 verdict tasks 1/7), so a wrong candidate count
  * would mis-diagnose the ladder. */
class NearDupStatsSpec extends SparkSpec {

  import spark.implicits._

  private def corpus = {
    // 40 base docs + 4 exact-style near-dups; small enough to check
    // stats arithmetic by hand via the bucket frame
    val base = (0 until 40).map(i =>
      (i.toLong, s"alpha beta g$i d${i * 7 % 13} epsilon z${i % 5} last$i"))
    val dups = (0 until 4).map(i =>
      (100L + i, s"alpha beta g$i d${i * 7 % 13} epsilon z${i % 5} last$i extra"))
    (base ++ dups).toDF("doc_id", "text")
  }

  private def minhashStats = ScaleBench.materializeWithStats(
    NearDup.minhashPairsPlanFull(corpus, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5,
      maxBucketSize = 1000), "minhash", cap = 1000)

  test("minhash stats pass pairs equal the plain miner's") {
    val plain = NearDup.minhashPairs(corpus, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5)
    val (withStats, st) = minhashStats
    assert(plain.exceptAll(withStats).isEmpty && withStats.exceptAll(plain).isEmpty)
    assert(st.survivors === plain.count())
    assert(st.survivors >= 4, "planted near-dups must survive")
  }

  test("minhash stats agree with direct bucket-frame recomputation") {
    val (_, st) = minhashStats
    // recompute bucket sizes exactly as the miner banding does
    val sig = corpus.select(col("doc_id"),
      NearDup.minhashSignature(
        graft.ext.text.TextFunctions.shinglesFromTokens(
          graft.ext.text.TextFunctions.tokens(col("text")), 2), 64).as("sig"))
      .filter(size(col("sig")) > 0)
    val sizes = sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(15)), b =>
        concat_ws(",", slice(col("sig"), b * 4 + 1, lit(4))))).as("key"))
      .groupBy("key").count()
      .select(col("count").as("c")).as[Long].collect()
    // NB: keys here fold band into the slice content only when slices
    // differ; group instead on (band,key) like the miner does
    val sizes2 = sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(15)), b =>
        struct(b.as("band"),
          concat_ws(",", slice(col("sig"), b * 4 + 1, lit(4))).as("k")))).as("bk"))
      .groupBy(col("bk.band"), col("bk.k")).count()
      .select(col("count").as("c")).as[Long].collect()
    assert(st.buckets === sizes2.length)
    assert(st.maxBucket === sizes2.max)
    assert(st.candidatesPreCap === sizes2.map(c => c * (c - 1) / 2).sum)
    // no bucket near the 1000 cap at this size
    assert(st.droppedBuckets === 0L)
    assert(st.candidates === st.candidatesPreCap)
    assert(sizes.nonEmpty) // silence the unused-var lint on the first form
  }

  test("simhash stats pass pairs equal the plain miner's") {
    val plain = NearDup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
    val (withStats, st) = ScaleBench.materializeWithStats(
      NearDup.simhashPairsPlanFull(corpus, "doc_id", "text", maxHamming = 3,
        maxBucketSize = 1000, numChunks = 0), "simhash", cap = 1000)
    assert(plain.exceptAll(withStats).isEmpty && withStats.exceptAll(plain).isEmpty)
    assert(st.survivors === plain.count())
    assert(st.buckets > 0 && st.maxBucket > 0)
    assert(st.candidates <= st.candidatesPreCap)
  }

  test("simhash chunk-combination schemes are complete: every b mines the hamming ball") {
    // ground truth: brute-force hamming ≤ 3 over the simhashes. Each
    // combination scheme must reproduce it EXACTLY (pigeonhole
    // completeness — b−3 intact chunks always share a combination
    // key), so widening the keyspace for scale costs zero recall.
    val sims = NearDup.withSimhash(
        corpus.select(col("doc_id").as("doc"), col("text")), "text")
      .select(col("doc"), col("sim")).cache()
    val truth = sims.as("a").join(sims.as("b"),
        col("a.doc") < col("b.doc"))
      .filter(bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= 3)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("long").as("hamming"))
    assert(truth.count() >= 4, "planted near-dups must be in the ball")
    try
      for (b <- Seq(4, 5, 6, 8)) {
        val mined = NearDup.simhashPairs(corpus, "doc_id", "text",
          maxHamming = 3, numChunks = b)
        assert(mined.exceptAll(truth).isEmpty && truth.exceptAll(mined).isEmpty,
          s"scheme b=$b diverges from the hamming ball")
      }
    finally sims.unpersist()
  }

  test("simhash scheme selection tracks corpus size; chunk geometry is sound") {
    import NearDup.{simhashSchemeFor, chunkWidths, chunkCombos}
    // b=4's bound: 4·n ≤ 64·2^16 → n ≤ 1 048 576 (the measured ~1 M-doc
    // saturation point of the classic 4×16 scheme)
    assert(simhashSchemeFor(500L) === 4)
    assert(simhashSchemeFor(1048576L) === 4)
    assert(simhashSchemeFor(1048577L) === 5)
    assert(simhashSchemeFor(214748364L) === 5)
    assert(simhashSchemeFor(214748365L) === 6)
    assert(simhashSchemeFor(6871947673L) === 6)
    assert(simhashSchemeFor(6871947674L) === 8)
    for (b <- Seq(4, 5, 6, 8, 10)) {
      assert(chunkWidths(b).sum === 64)
      assert(chunkWidths(b).max - chunkWidths(b).min <= 1)
      val m = b - 3
      val expect = (1 to b).product / ((1 to m).product * (1 to (b - m)).product)
      assert(chunkCombos(b, m).size === expect)
      assert(chunkCombos(b, m).distinct.size === expect)
    }
  }

  test("miner plans contain no window operator (agg+join skew cap)") {
    // the count-over-window skew cap buffered a hot bucket's entire
    // membership per task and OOM'd the 316× ladder rung (round 6);
    // the cap must stay a hash-agg + semi-join, so a WindowExec
    // anywhere in either miner's physical plan is a regression
    def windowFree(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val hits = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(hits.isEmpty, s"$tag plans a WindowExec: ${hits.headOption}")
    }
    val (mh, mhCaches, _) = NearDup.minhashPairsPlanFull(corpus, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5,
      maxBucketSize = 1000)
    try windowFree(mh, "minhash miner")
    finally mhCaches.foreach(_.unpersist())
    val (sh, shCaches, _) = NearDup.simhashPairsPlanFull(corpus, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 1000, numChunks = 0)
    try windowFree(sh, "simhash miner")
    finally shCaches.foreach(_.unpersist())
  }

  test("planted SHIFTED duplicates: aligned blocks miss them, stride-1 n-grams remove them") {
    // round-8 verdict task 6: a duplicated passage at a non-multiple-
    // of-blockTokens offset defeats fixed-block identity (every
    // 20-token block of the copy straddles two source blocks), while
    // the overlapping stride-1 gram pass catches ANY shift. Doc 1
    // replays doc 0's 60-token body behind a 7-token prelude.
    import graft.ext.dedup.BlockDedup
    val body = (0 until 60).map(i => s"tok${i}x${i * 31 % 17}").mkString(" ")
    val prelude = (0 until 7).map(i => s"pre$i").mkString(" ")
    val docs = Seq(
      (0L, body),
      (1L, s"$prelude $body"),
      (2L, "unrelated words entirely " +
        (0 until 30).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")

    val blocks = BlockDedup.dedupBlocks(docs, "doc_id", "text", blockTokens = 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the aligned pass keeps EVERY block of the shifted copy: zero
    // recall on the planted duplicate (this measured gap is the point)
    assert(blocks(1L)._1 == blocks(1L)._2,
      s"aligned blocks unexpectedly caught the shifted duplicate: ${blocks(1L)}")

    val grams = BlockDedup.dedupNgrams(docs, "doc_id", "text", gramTokens = 20)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 0 (first occurrence) intact; doc 1 keeps only the prelude:
    // all 60 copied tokens are covered by repeated grams
    assert(grams(0L) == ((60L, 60L, body)))
    assert(grams(1L)._1 == 67L && grams(1L)._2 == 7L &&
      grams(1L)._3 == prelude, s"shifted copy not removed: ${grams(1L)}")
    // the unrelated doc is untouched
    assert(grams(2L)._2 == grams(2L)._1)
  }

  test("within-doc repeated passage: second occurrence removed, first kept") {
    import graft.ext.dedup.BlockDedup
    val passage = (0 until 25).map(i => s"p$i").mkString(" ")
    val mid = (0 until 5).map(i => s"mid$i").mkString(" ")
    val docs = Seq((0L, s"$passage $mid $passage")).toDF("doc_id", "text")
    val out = BlockDedup.dedupNgrams(docs, "doc_id", "text", gramTokens = 20)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // 55 tokens; the second 25-token passage copy is fully covered by
    // its repeated 20-grams, the first copy and the middle survive
    assert(out(0L) == ((55L, 30L, s"$passage $mid")))
  }
}
