package graft

import graft.operators.KeyGen
import graft.sinks.ParquetUpsertSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2): keygen determinism and
  * format, cast totality, upsert idempotence and its keyed pick.
  * Uses scalacheck generators with fixed seeds sampled over several
  * iterations (the scalatest-scalacheck bridge artifact is not on the
  * offline classpath). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampled forAll: n draws from the generator. */
  private def forSamples[A](gen: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail("generator exhausted")))
    }

  private val uuidRe =
    "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$".r

  test("keygen is deterministic, uuid-shaped, and injective-per-input on samples") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.alphaNumStr.suchThat(_.nonEmpty), Gen.choose(0L, 2_000_000_000_000L)))
    forSamples(gen) { rows =>
      {
        val df = rows.toDF("id", "millis")
          .withColumn("at", timestamp_millis($"millis"))
        val keyed = KeyGen.withKey(df, Seq("id" -> StringType, "at" -> TimestampType))
          .select($"id", $"millis", col(KeyGen.columnName).as("k"))
        val out = keyed.collect()
        // shape
        assert(out.forall(r => uuidRe.matches(r.getString(2))))
        // determinism: recompute → identical
        val again = KeyGen.withKey(df, Seq("id" -> StringType, "at" -> TimestampType))
          .select(col(KeyGen.columnName)).collect().map(_.getString(0))
        assert(out.map(_.getString(2)).sameElements(again))
        // equal inputs → equal keys
        val byInput = out.groupBy(r => (r.getString(0), r.getLong(1)))
        byInput.values.foreach(g => assert(g.map(_.getString(2)).distinct.length == 1))
      }
    }
  }

  test("cast coercion is total: arbitrary strings never throw, bad ones go null") {
    val gen = Gen.listOfN(30, Gen.oneOf(
      Gen.alphaNumStr, Gen.const("2022-11-24T10:00:00Z"), Gen.const(""),
      Gen.const("not-a-date"), Gen.numStr))
    forSamples(gen) { raws =>
      {
        val df = raws.toDF("s")
        // must not throw, regardless of content (try_cast semantics)
        val n = df.select(
          $"s".try_cast("timestamp").as("ts"),
          $"s".try_cast("double").as("d"),
          $"s".try_cast("int").as("i")).collect()
        assert(n.length == raws.length)
      }
    }
  }

  test("upsert is idempotent: replaying a batch leaves the table unchanged") {
    val rows = (1 to 20).map(i => (s"k${i % 7}", i))
    val path = tmpDir("prop-upsert") + "/t"
    val batch = rows.toDF("id", "v")
    ParquetUpsertSink.upsert(spark, batch, path, "id", orderCol = Some("v"))
    val state1 = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    ParquetUpsertSink.upsert(spark, batch, path, "id", orderCol = Some("v"))
    val state2 = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(state1 == state2)
    // last-write-wins within the batch by orderCol
    assert(state1("k1") == rows.filter(_._1 == "k1").map(_._2).max)
  }

  test("upsert equals a collections model: incoming wins, then max orderCol, then max row hash") {
    // few keys, payloads and versions, so a batch has duplicate keys,
    // tied and null versions and byte-identical rows
    val row = Gen.zip(Gen.choose(0, 7).map(i => s"k$i"), Gen.oneOf("a", "b"), Gen.option(Gen.choose(1, 3)))
    val gen = Gen.zip(Gen.listOfN(14, row), Gen.listOfN(6, row).map(_.distinctBy(_._1)))
    // the pick runs as one task at most Spread.NarrowBytes and through one
    // exchange above it; an isolated session at
    // spark.sql.autoBroadcastJoinThreshold=-1 turns the one-task rule off
    // and stands in for the latter (a shared-conf mutation would race
    // other suites)
    val above = spark.newSession()
    above.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    forSamples(gen) { case (batchRows, liveRows) =>
      type R = (String, String, Option[Int])
      val batch = batchRows.toDF("id", "payload", "ver")
      // the tie-break hash of each distinct batch row, from Spark's own
      // xxhash64 over the batch's columns
      val hashOf: Map[R, Long] = batch.distinct()
        .select($"id", $"payload", $"ver", xxhash64($"id", $"payload", $"ver")).collect()
        .map(r => (r.getString(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Int])) -> r.getLong(3))
        .toMap
      val liveModel = liveRows.map(r => r._1 -> r).toMap
      def upserted(s: SparkSession, orderCol: Option[String]): Seq[R] = {
        val path = tmpDir("prop-pick") + "/t"
        s.createDataFrame(liveRows).toDF("id", "payload", "ver").write.parquet(path)
        assert(ParquetUpsertSink.upsert(s, s.createDataFrame(batchRows).toDF("id", "payload", "ver"),
          path, "id", orderCol) == batchRows.map(_._1).distinct.size.toLong)
        val got = spark.read.parquet(path).as[(String, String, Option[Int])].collect().toSeq
        assert(got.map(_._1).distinct.size == got.size, s"a key kept twice: $got")
        got
      }

      val byKey = batchRows.groupBy(_._1)
      val model = liveModel ++ byKey.map { case (k, rs) =>
        k -> rs.maxBy(r => (r._3, hashOf(r))) // None orders below every Some
      }
      for (s <- Seq(spark, above)) {
        val threshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        assert(upserted(s, Some("ver")).sortBy(_._1) == model.values.toSeq.sortBy(_._1), s"threshold $threshold")

        // without orderCol the batch row kept per key is any of that key's
        val plain = upserted(s, None).map(r => r._1 -> r).toMap
        assert(plain.keySet == model.keySet, s"threshold $threshold")
        plain.foreach { case (k, r) =>
          assert(byKey.get(k).fold(liveModel(k) == r)(_.contains(r)), s"$k kept $r at threshold $threshold")
        }
      }
    }
  }

  test("TopKHeap equals sort-take under the (score desc, id asc) order on random inputs") {
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.choose(0, 20).map(_ / 20.0), Gen.choose(0L, 50L)))
    forSamples(gen) { pairs =>
      val h = new graft.functions.TopKHeap(7)
      pairs.foreach { case (s, i) => h.insert(s, i) }
      val expected = pairs
        .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
        .take(7)
      assert(h.sorted.toSeq == expected)
    }
  }

  test("PolyHash fold equals an independent BigInt modular fold on random strings") {
    val gen = Gen.listOfN(30, Gen.asciiPrintableStr)
    forSamples(gen) { strs =>
      val got = strs.toDF("s")
        .select(graft.functions.PolyHash.polyhash(col("s"), 31)).collect()
        .map(_.getLong(0))
      val want = strs.map { str =>
        str.codePoints().toArray.foldLeft(BigInt(0))((h, cp) =>
          (h * 31 + cp) mod BigInt(graft.functions.PolyHash.P)).toLong
      }
      assert(got.toSeq == want)
    }
  }

  test("MinHashSig is permutation-invariant and respects containment on random shingle sets") {
    val shingleGen = Gen.listOfN(25, Gen.identifier.suchThat(_.nonEmpty)).map(_.distinct)
    forSamples(shingleGen) { sh =>
      val sig = graft.functions.MinHashSig.signature(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          sh.map(org.apache.spark.unsafe.types.UTF8String.fromString)), 32)
      val shuffled = scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).shuffle(sh)
      val sig2 = graft.functions.MinHashSig.signature(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          shuffled.map(org.apache.spark.unsafe.types.UTF8String.fromString)), 32)
      // order of the set must not matter
      assert(sig.toLongArray.toSeq == sig2.toLongArray.toSeq)
      // a superset's minima can only be <= the subset's (min over more values)
      val extra = sh ++ Seq("zzz_extra_1", "zzz_extra_2")
      val sig3 = graft.functions.MinHashSig.signature(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          extra.map(org.apache.spark.unsafe.types.UTF8String.fromString)), 32)
      sig.toLongArray.zip(sig3.toLongArray).foreach { case (a, b) => assert(b <= a) }
    }
  }

  test("IntervalAgg prefix-sum equals the naive inequality join on random timelines") {
    // adversarial geometry the fixed corpus can't promise: duplicate
    // timestamps, points exactly on window bounds, zero-length and
    // overlapping windows, empty windows — closed AND open bounds
    val micros = Gen.choose(1_700_000_000_000_000L, 1_700_000_600_000_000L)
    val gen = Gen.zip(
      Gen.listOfN(60, Gen.zip(micros, Gen.choose(-100.0, 100.0))),
      Gen.listOfN(25, Gen.zip(micros, Gen.choose(0L, 120_000_000L))))
    forSamples(gen, n = 4) { case (ptRaw, ivRaw) =>
      val pts = ptRaw.toDF("tm", "p_value")
        .select(timestamp_micros($"tm").as("p_ts"), $"p_value")
      val iv = ivRaw.zipWithIndex
        .map { case ((s, len), i) => (i.toLong, s, s + len) }
        .toDF("iid", "sm", "em")
        .select($"iid", timestamp_micros($"sm").as("s"),
          timestamp_micros($"em").as("e"))
      for (closed <- Seq(true, false)) {
        val lo = if (closed) $"p_ts" >= $"s" else $"p_ts" > $"s"
        val hi = if (closed) $"p_ts" <= $"e" else $"p_ts" < $"e"
        val hits = iv.join(pts, lo && hi)
          .groupBy($"iid")
          .agg(count(lit(1)).as("n"),
            sum($"p_value".cast("decimal(18,6)")).cast("double").as("v"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        val expected = ivRaw.indices
          .map(i => i.toLong -> hits.getOrElse(i.toLong, (0L, 0.0))).toMap
        val got = graft.operators.IntervalAgg
          .countSum(pts, iv, "p_ts", "p_value", "iid", "s", "e",
            bucketWidthSec = 37L, closedStart = closed, closedEnd = closed)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        assert(got == expected, s"closed=$closed")
      }
    }
  }
}
