package graft

import graft.ext.text.TextFunctions
import graft.functions.{MinHashSig, PolyHash, SimHashTokens}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  /** The HOF formulation MinHashSig replaced: the parity oracle. */
  private def referenceChain(shingleSet: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(
        transform(shingleSet, s => PolyHash.polyhashPacked(s)),
        p => (shiftright(p, 30) + j * p.bitwiseAND(0x3FFFFFFFL)) % PolyHash.P)))

  test("native signature matches the HOF chain element-for-element on real documents") {
    val sh = TextFunctions.shinglesFromTokens(
      TextFunctions.tokens($"text"), 2)
    val rows = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(size(TextFunctions.tokens($"text")) >= 2)
      .select(
        MinHashSig.of(sh, 64).as("native"),
        referenceChain(sh, 64).as("chain"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("empty set is null, null is null, single shingle is its own family line") {
    val df = Seq(
      (1L, Some(Seq.empty[String])),
      (2L, None),
      (3L, Some(Seq("ab"))))
      .toDF("id", "sh")
    val got = df.select($"id", MinHashSig.of($"sh", 4).as("sig")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
      .toMap
    assert(got(1L) == null && got(2L) == null)
    // one shingle: sig(j) = (h31 + j*h37) mod P exactly
    val p = PolyHash.P
    val h31 = ((97L * 31 + 98) % p)
    val h37 = ((97L * 37 + 98) % p)
    assert(got(3L) == Seq(h31, (h31 + h37) % p, (h31 + 2 * h37) % p, (h31 + 3 * h37) % p))
  }

  test("simhash_tokens fuses transform+simhash64 bit-identically") {
    val toks = TextFunctions.tokens($"text")
    val rows = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(
        SimHashTokens.of(toks).as("fused"),
        graft.functions.SimHash64.simhash(
          transform(toks, t => PolyHash.polyhashPacked(t))).as("staged"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}
