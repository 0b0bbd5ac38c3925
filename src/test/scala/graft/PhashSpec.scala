package graft

import graft.ext.dedup.NearDup
import graft.ext.multimodal.{MediaCodecs, MediaNearDup, Multimodal}
import graft.tools.ScaleBench
import org.apache.spark.sql.functions._

/** Perceptual-hash image near-dup: codec round-trip parity (the
  * dHash of the DECODED bytes equals the pure pixel-formula replay),
  * the perceptual invariances the hash exists for, miner completeness
  * against the brute-forced hamming ball, and planted-family recall. */
class PhashSpec extends SparkSpec {
  import spark.implicits._

  /** Formula-only dHash — no codec involved; the independent truth
    * the encode → ImageIO decode → [[MediaCodecs.dhash64]] path must
    * reproduce bit-for-bit. */
  private def expectedDhash(id: Long): Long = {
    val m1 = MediaCodecs.phashSeed(id)
    val w = MediaCodecs.phashWidth(m1); val h = MediaCodecs.phashHeight(m1)
    var bits = 0L
    (0 until 8).foreach { r =>
      val sy = r * h / 8
      (0 until 8).foreach { c =>
        val ga = MediaCodecs.phashGray(id, m1, sy.toLong * w + c * w / 9)
        val gb = MediaCodecs.phashGray(id, m1, sy.toLong * w + (c + 1) * w / 9)
        if (ga < gb && r * 8 + c < 63) bits |= 1L << (r * 8 + c)
      }
    }
    bits
  }

  test("dhash of decoded BMP/PNG bytes equals the pixel-formula replay") {
    (0L until 64L).foreach { id =>
      assert(MediaCodecs.dhash64(MediaCodecs.encodePhashImage(id)) ===
        expectedDhash(id), s"id=$id fmt=${MediaCodecs.imgFormat(id)}")
    }
  }

  test("bit 63 is always clear (DuckDB sign-bit contract)") {
    (0L until 256L).foreach { id =>
      assert(expectedDhash(id) >= 0L, s"id=$id")
    }
  }

  test("brightness shift alone is hash-invariant; family pairs stay near") {
    // ids 0..3 share family 0: pure brightness offsets + sparse noise.
    val base = MediaCodecs.dhash64(MediaCodecs.encodePhashImage(0L))
    (1L to 3L).foreach { id =>
      val h = MediaCodecs.dhash64(MediaCodecs.encodePhashImage(id))
      assert(java.lang.Long.bitCount(base ^ h) <= 6,
        s"family member $id drifted ${java.lang.Long.bitCount(base ^ h)} bits")
    }
    // cross-family hashes are far apart (uniform-bits property)
    val other = MediaCodecs.dhash64(MediaCodecs.encodePhashImage(40L))
    assert(java.lang.Long.bitCount(base ^ other) > 10)
  }

  test("miner output equals the brute-forced hamming ball (pigeonhole completeness)") {
    val docs = (0L until 200L).toDF("doc_id")
    val mined = MediaNearDup.phashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = (0L until 200L).map(d => d -> expectedDhash(d)).toMap
    val truth = (for {
      a <- 0L until 200L; b <- a + 1 until 200L
      hm = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if hm <= 3
    } yield (a, b, hm.toLong)).toSet
    assert(mined === truth)
    assert(truth.nonEmpty, "degenerate corpus: no planted pairs surfaced")
  }

  test("plantedTruth is within-family, symmetric-free, and mined pairs cover it") {
    val docs = (0L until 400L).toDF("doc_id")
    val truth = MediaNearDup.plantedTruthFromHashes(
        Multimodal.dhashImages(Multimodal.phashCorpus(spark, docs)), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.foreach { case (a, b) =>
      assert(a < b && a / 4 === b / 4, s"($a,$b) not a canonical family pair")
    }
    val mined = MediaNearDup.phashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at spec scale no bucket cap binds: recall is exactly 1
    assert(truth.subsetOf(mined))
  }

  test("stats pass pairs equal the plain miner's") {
    val docs = (0L until 200L).toDF("doc_id")
    val plain = MediaNearDup.phashPairs(docs, maxHamming = 3)
    val hashes = Multimodal.dhashImages(Multimodal.phashCorpus(spark, docs))
    val (withStats, st) = ScaleBench.materializeWithStats(
      NearDup.hammingPairsPlanFull(hashes, 200L, maxHamming = 3,
        maxBucketSize = 1000, numChunks = 0), "phash", cap = 1000)
    assert(plain.exceptAll(withStats).isEmpty && withStats.exceptAll(plain).isEmpty)
    assert(st.survivors === plain.count())
    assert(st.candidates > 0L && st.candidates <= st.candidatesPreCap)
  }

  test("dhash rejects images too small for distinct grid samples") {
    val tiny = MediaCodecs.encodeImage(0L) // legacy 4..16-px corpus
    val e = intercept[IllegalArgumentException](MediaCodecs.dhash64(tiny))
    assert(e.getMessage.contains("distinct grid samples"))
  }
}
