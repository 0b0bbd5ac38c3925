package graft

import graft.functions.SimHash64
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class SimHashSpec extends SparkSpec {
  import spark.implicits._

  /** The 64-expression HOF formulation SimHash64 replaced: the parity
    * oracle. */
  private def referenceChain(hashes: Column): Column = {
    val n = size(hashes)
    (0 until 64).map { b =>
      when(size(filter(hashes,
        h => shiftright(h, b).bitwiseAND(1) === 1)) * 2 >= n,
        lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }

  test("matches the 64-expression HOF chain bit-for-bit on real documents") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val hashes = transform(split(lower($"text"), "\\s+"), t => xxhash64(t))
    val rows = docs
      .select($"doc_id",
        SimHash64.simhash(hashes).as("native"),
        referenceChain(hashes).as("chain"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.get(0)}: native ${r.getLong(1)} vs chain ${r.getLong(2)}")
    }
  }

  test("edge cases: empty array is all-ones, null is null, single hash is itself") {
    val df = Seq(
      (1L, Some(Seq.empty[Long])),
      (2L, None),
      (3L, Some(Seq(0x0123456789abcdefL))))
      .toDF("id", "h")
    val got = df.select($"id", SimHash64.simhash($"h").as("sim")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got(1L).contains(-1L)) // n=0: every majority test is 0 >= 0
    assert(got(2L).isEmpty)
    assert(got(3L).contains(0x0123456789abcdefL)) // majority of one
  }

  test("works from SQL after registration") {
    SimHash64.register(spark)
    val got = spark.sql(
      "SELECT simhash64(array(CAST(7 AS BIGINT), CAST(7 AS BIGINT))) AS s")
      .collect().head.getLong(0)
    assert(got == 7L)
  }
}
