package graft

import graft.ext.similarity.{IvfKNN, PqKNN}
import org.apache.spark.sql.functions._

class PqKNNSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")

  private def book = PqKNN.sampledBook(emb, "vec_id", "embedding")

  test("codebook is scheme-sized: M sub-spaces of ksub sub-centroids of dsub dims") {
    val b = book
    assert(b.length == PqKNN.M)
    b.foreach { subs =>
      assert(subs.length == PqKNN.ksub)
      subs.foreach(c => assert(c.sub.length == PqKNN.dsub))
    }
    // total payload is bounded by the SCHEME (1024 floats), not the corpus
    assert(b.map(_.map(_.sub.length).sum).sum == PqKNN.M * PqKNN.ksub * PqKNN.dsub)
  }

  test("rewriting a corpus in place invalidates the cached codebook") {
    val dir = tmpDir("graft_pq_rewrite") + "/emb"
    def write(reversed: Boolean): Unit =
      emb.withColumn("vec_id", if (reversed) lit(10000L) - $"vec_id" else $"vec_id")
        .write.mode("overwrite").parquet(dir)
    def subs(b: PqKNN.PqBook) = b.map(_.map(_.sub.toSeq))
    write(reversed = false)
    val first = PqKNN.cachedSampledBook(spark.read.parquet(dir), "vec_id", "embedding", dir)
    // rewrite IN PLACE: same path, and the ksub lowest ids now name
    // other vectors, so a stale entry would serve the wrong book
    write(reversed = true)
    val rebuilt = PqKNN.cachedSampledBook(spark.read.parquet(dir), "vec_id", "embedding", dir)
    val expect = PqKNN.sampledBook(spark.read.parquet(dir), "vec_id", "embedding")
    assert(subs(first) != subs(expect))
    assert(subs(rebuilt) == subs(expect))
  }

  test("seed vectors self-quantize: vector j encodes to code j in every sub-space") {
    // sub-centroid j of sub-space m IS the m-th slice of vector j, so
    // vector j's distance to it is exactly 0 — the argmin must pick j
    // (a different winner would need an exact-zero duplicate slice,
    // which the synthetic corpus does not contain)
    val b = book
    val codes = emb.filter($"vec_id" < PqKNN.ksub)
      .select($"vec_id", PqKNN.pqCodes($"embedding", b).as("codes"))
      .as[(Long, Seq[Int])].collect()
    assert(codes.length == PqKNN.ksub)
    codes.foreach { case (id, cs) =>
      assert(cs == Seq.fill(PqKNN.M)(id.toInt), s"vec $id encoded to $cs")
    }
  }

  test("codes are in range and packCodes round-trips through the 4-bit word") {
    val b = book
    val rows = emb
      .select($"vec_id", PqKNN.pqCodes($"embedding", b).as("codes"))
      .select($"vec_id", $"codes", PqKNN.packCodes($"codes").as("word"))
      .as[(Long, Seq[Int], Long)].collect()
    assert(rows.length == emb.count())
    rows.foreach { case (id, cs, w) =>
      assert(cs.length == PqKNN.M && cs.forall(c => c >= 0 && c < PqKNN.ksub),
        s"vec $id codes $cs")
      val unpacked = (0 until PqKNN.M).map(m => ((w >> (4 * m)) & 0xF).toInt)
      assert(unpacked == cs, s"vec $id word $w unpacked $unpacked != $cs")
    }
  }

  test("ADC distance equals the squared distance to the PQ reconstruction") {
    // the defining identity of asymmetric distance computation: the
    // score of (q, x) depends on x only through its codes, and equals
    // ||q - recon(x)||^2 where recon concatenates the coded
    // sub-centroids (Jegou et al. 2011, eq. 12-13)
    val b = book
    val vecs = emb.filter($"vec_id" < 40)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .toMap
    val codes = emb.filter($"vec_id" < 40)
      .select($"vec_id", PqKNN.pqCodes($"embedding", b).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    val got = PqKNN.adcTopK(
        emb.filter($"vec_id" < 40), emb.filter($"vec_id" < 3),
        "vec_id", "embedding", b, k = 10)
      .select($"query_id", $"neighbor_id", $"adc2")
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, nb, adc2) =>
      val qv = vecs(q)
      val recon = (0 until PqKNN.M).flatMap(m => b(m)(codes(nb)(m)).sub)
      var d = 0.0
      (0 until PqKNN.M).foreach { m =>
        // per sub-space, left-to-right double sums exactly as the
        // expression computes them: ||x||^2 - 2<x,c> + ||c||^2
        var xx = 0.0; var xc = 0.0; var cc = 0.0
        (0 until PqKNN.dsub).foreach { i =>
          val x = qv(m * PqKNN.dsub + i).toDouble
          val c = recon(m * PqKNN.dsub + i).toDouble
          xx += x * x; xc += x * c; cc += c * c
        }
        d += xx - 2.0 * xc + cc
      }
      val expect = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(math.abs(adc2 - expect) <= 2e-9,
        s"query $q neighbor $nb: adc2 $adc2 vs recon distance $expect")
    }
  }

  test("full-probe IVF-PQ equals the exhaustive ADC scan exactly") {
    val b = book
    val cents = IvfKNN.sampledCentroids(emb, "vec_id", "embedding", 8)
    val full = PqKNN.ivfpqTopK(emb, emb.filter($"vec_id" < 5),
        "vec_id", "embedding", cents, b, k = 5, nprobe = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val flat = PqKNN.adcTopK(emb, emb.filter($"vec_id" < 5),
        "vec_id", "embedding", b, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(full == flat)
  }

  test("encoding is a pure projection: no shuffle, window, or cross join") {
    val p = emb.select(PqKNN.pqCodes($"embedding", book).as("codes"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
  }

  test("ADC plans broadcast the LUT and never a cartesian/BNLJ/window") {
    for (name <- Seq("emb_knn_pq", "emb_knn_ivfpq")) {
      val p = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name\n" + p.take(3000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name\n" + p.take(3000))
      assert(!p.contains("Window"), s"$name\n" + p.take(3000))
    }
  }

  test("PQ ranking tracks the true nearest neighbors on a clustered corpus") {
    // PQ is lossy on unstructured random data, but on a corpus whose
    // points sit near the seed vectors the coded approximation must
    // keep the cluster structure: each point's top neighbors under
    // ADC come from its own cluster
    val rnd = new scala.util.Random(13)
    val seeds = Array.fill(PqKNN.ksub)(
      Array.fill(PqKNN.M * PqKNN.dsub)(rnd.nextGaussian().toFloat))
    val rows = (0 until 320).map { i =>
      val c = seeds(i % PqKNN.ksub)
      (i.toLong, c.map(x => x + 0.02f * rnd.nextGaussian().toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val b = PqKNN.sampledBook(df, "vec_id", "embedding")
    val got = PqKNN.adcTopK(df, df.filter($"vec_id" < 8),
        "vec_id", "embedding", b, k = 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(got.length == 8 * 5)
    val hits = got.count { case (q, nb) => nb % PqKNN.ksub == q % PqKNN.ksub }
    assert(hits >= (got.length * 0.9).toInt,
      s"only $hits/${got.length} PQ neighbors in the query's own cluster")
  }

  test("native PqEncode is bit-identical to the unrolled pqCodes chain") {
    // the ADC paths ride graft.functions.PqEncode (one node, loop) —
    // the unrolled Column form is the reference it must match code
    // for code over the whole corpus (same slices, dots, rounding,
    // argmin tie rule)
    val b = book
    val native = emb.select($"vec_id",
      PqKNN.pqCodesNative($"embedding", b).as("codes"))
    val unrolled = emb.select($"vec_id",
      PqKNN.pqCodes($"embedding", b).as("codes"))
    assert(native.exceptAll(unrolled).count() === 0)
    assert(unrolled.exceptAll(native).count() === 0)
  }

  test("native PqLutTerms matches the expanded per-cell term formula") {
    val b = book
    val q = emb.filter($"vec_id" < 5)
    val native = PqKNN.lutFor(q, "vec_id", "embedding", b)
      .as[(Long, Int, Int, Double)].collect()
      .map { case (id, m, c, t) => (id, m, c) -> t }.toMap
    val vecs = q.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    for ((id, v) <- vecs; m <- 0 until PqKNN.M; c <- 0 until PqKNN.ksub) {
      val sub = b(m)(c)
      val off = m * PqKNN.dsub
      var qq = 0.0
      var dot = 0.0
      for (i <- 0 until PqKNN.dsub) {
        qq += v(off + i).toDouble * v(off + i).toDouble
        dot += v(off + i).toDouble * sub.sub(i).toDouble
      }
      val expected = qq - 2.0 * dot + sub.cc
      assert(native((id, m, c)) === expected,
        s"lut term mismatch at vec $id m $m code $c")
    }
  }
}
