package graft

import graft.ext.dedup.NearDup
import graft.ext.multimodal.{MediaCodecs, MediaNearDup, Multimodal}
import graft.tools.ScaleBench
import org.apache.spark.sql.functions._

/** Audio fingerprint near-dup: codec round-trip parity (the
  * fingerprint of the DECODED RIFF/WAVE bytes equals the pure
  * sample-formula replay), the gain invariance the fingerprint exists
  * for, miner completeness against the brute-forced hamming ball, and
  * planted-family recall. */
class AudioFpSpec extends SparkSpec {
  import spark.implicits._

  /** Formula-only fingerprint — no codec involved; the independent
    * truth the encode → JDK-sound decode → [[MediaCodecs.afp64]] path
    * must reproduce bit-for-bit. */
  private def expectedAfp(id: Long): Long = {
    val m1 = MediaCodecs.afpSeed(id)
    val spf = MediaCodecs.afpSamplesPerFrame(m1)
    val e = (0 until MediaCodecs.AfpFrames).map { f =>
      (0 until spf).map(j =>
        MediaCodecs.afpSample(id, m1, f.toLong * spf + j).toLong).sum
    }
    (0 until 63).foldLeft(0L) { (bits, b) =>
      if (e(b) < e(b + 1)) bits | (1L << b) else bits
    }
  }

  test("the once-per-JVM WAVE SPI fast path is active (no per-call provider lookup)") {
    assert(MediaCodecs.wavSpiResolved,
      "ServiceLoader found no WAVE AudioFileReader/Writer — the codec " +
        "fell back to the lock-serialized AudioSystem path")
  }

  test("fingerprint of decoded WAV bytes equals the sample-formula replay") {
    (0L until 64L).foreach { id =>
      assert(MediaCodecs.afp64(MediaCodecs.encodeAfpWav(id)) ===
        expectedAfp(id), s"id=$id")
    }
  }

  test("bit 63 is always clear (DuckDB sign-bit contract) and samples fit 16-bit") {
    (0L until 256L).foreach { id =>
      assert(expectedAfp(id) >= 0L, s"id=$id")
      val m1 = MediaCodecs.afpSeed(id)
      (0L until 16L).foreach { k =>
        val s = MediaCodecs.afpSample(id, m1, k)
        assert(s >= 0 && s <= 31596, s"id=$id k=$k s=$s")
      }
    }
  }

  test("uniform gain alone is fingerprint-invariant; family pairs stay near") {
    // a noise-free gain member: scale the family base by each gain
    // exactly as afpSample does, WITHOUT the noise term — the energy
    // order (and so every bit) must be identical to the unity-gain
    // member's noise-free fingerprint
    val m1 = MediaCodecs.afpSeed(0L)
    val spf = MediaCodecs.afpSamplesPerFrame(m1)
    def noiseFreeBits(gain: Long): Long = {
      val e = (0 until MediaCodecs.AfpFrames).map { f =>
        (0 until spf).map { j =>
          (MediaCodecs.afpBase(m1, f.toLong * spf + j) / 8 * gain)
        }.map(_.toLong).sum
      }
      (0 until 63).foldLeft(0L) { (bits, b) =>
        if (e(b) < e(b + 1)) bits | (1L << b) else bits
      }
    }
    val unity = noiseFreeBits(8L)
    (9L to 11L).foreach(g => assert(noiseFreeBits(g) === unity, s"gain=$g"))
    // with the sparse noise back in, family members drift a FEW bits
    val base = MediaCodecs.afp64(MediaCodecs.encodeAfpWav(0L))
    (1L to 3L).foreach { id =>
      val h = MediaCodecs.afp64(MediaCodecs.encodeAfpWav(id))
      assert(java.lang.Long.bitCount(base ^ h) <= 6,
        s"family member $id drifted ${java.lang.Long.bitCount(base ^ h)} bits")
    }
    // cross-family fingerprints are far apart (uniform-bits property)
    val other = MediaCodecs.afp64(MediaCodecs.encodeAfpWav(40L))
    assert(java.lang.Long.bitCount(base ^ other) > 10)
  }

  test("miner output equals the brute-forced hamming ball (pigeonhole completeness)") {
    val docs = (0L until 200L).toDF("doc_id")
    val mined = MediaNearDup.audioFpPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = (0L until 200L).map(d => d -> expectedAfp(d)).toMap
    val truth = (for {
      a <- 0L until 200L; b <- a + 1 until 200L
      hm = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if hm <= 3
    } yield (a, b, hm.toLong)).toSet
    assert(mined === truth)
    assert(truth.nonEmpty, "degenerate corpus: no planted pairs surfaced")
  }

  test("planted truth from shared hashes is covered by the mined pairs") {
    val docs = (0L until 400L).toDF("doc_id")
    val hashes = Multimodal.afpHashes(Multimodal.afpCorpus(spark, docs))
    val (pairs, st) = ScaleBench.materializeWithStats(
      NearDup.hammingPairsPlanFull(hashes, 400L, maxHamming = 3,
        maxBucketSize = 1000, numChunks = 0), "afp", cap = 1000)
    val truth = MediaNearDup.plantedTruthFromHashes(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.foreach { case (a, b) =>
      assert(a < b && a / 4 === b / 4, s"($a,$b) not a canonical family pair")
    }
    val mined = pairs.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at spec scale no bucket cap binds: recall is exactly 1
    assert(truth.subsetOf(mined))
    assert(st.candidates > 0L)
  }

  test("fingerprint rejects clips too short for distinct frames") {
    val e = intercept[IllegalArgumentException](
      MediaCodecs.afp64(MediaCodecs.encodeWav(0L))) // legacy 16..65-frame corpus
    assert(e.getMessage.contains("PCM frames"))
  }
}
