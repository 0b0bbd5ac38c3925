package graft

import graft.ext.similarity.{IvfKNN, PqKNN, SqKNN}
import graft.ext.text.{BpeTrainer, NgramLm, QualityClassifier}
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  /** A corpus dir of SynthGen documents (500) and embeddings (200). */
  private lazy val corpus: String = {
    val dir = tmpDir("graft_artifacts_corpus")
    graft.tools.SynthGen.documents(spark, 0.01).write.parquet(s"$dir/documents.parquet")
    graft.tools.SynthGen.embeddings(spark, 0.01).write.parquet(s"$dir/embeddings.parquet")
    dir
  }
  private val refMaxId = 100L

  /** One snapshot-keyed artifact kind: the cached lookup over a corpus
    * copy at `dir`, the same artifact built without the store, and a
    * comparable view of either. */
  private case class Kind(
      name: String,
      table: String,
      cached: (DataFrame, String) => AnyRef,
      fresh: DataFrame => AnyRef,
      view: AnyRef => Any)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val kinds: Seq[Kind] = Seq(
    Kind("ivf sampled", "embeddings",
      (e, d) => IvfKNN.cachedSampledCentroids(e, "vec_id", "embedding", 4, d),
      e => IvfKNN.sampledCentroids(e, "vec_id", "embedding", 4),
      v => v.asInstanceOf[Seq[IvfKNN.Centroid]].map(c => (c.id, c.vec.toSeq))),
    Kind("lloyd iterations 1", "embeddings",
      (e, d) => IvfKNN.cachedLloydTrain(e, "vec_id", "embedding", 4, d, iterations = 1),
      e => IvfOracles.lloyd1(e, 4),
      v => v.asInstanceOf[Seq[IvfKNN.DCentroid]].map(c => (c.id, c.vec.toSeq))),
    Kind("lloyd iterations 2", "embeddings",
      (e, d) => IvfKNN.cachedLloydTrain(e, "vec_id", "embedding", 4, d, iterations = 2),
      e => IvfOracles.lloydNext(e, IvfOracles.lloyd1(e, 4)),
      v => v.asInstanceOf[Seq[IvfKNN.DCentroid]].map(c => (c.id, c.vec.toSeq))),
    Kind("pq book", "embeddings",
      (e, d) => PqKNN.cachedSampledBook(e, "vec_id", "embedding", d),
      e => PqKNN.sampledBook(e, "vec_id", "embedding"),
      v => v.asInstanceOf[PqKNN.PqBook].map(_.map(c => (c.code, c.sub.toSeq, c.cc)))),
    Kind("sq range", "embeddings",
      (e, d) => SqKNN.cachedRange(e, "embedding", d),
      e => SqKNN.trainedRange(e, "embedding"),
      identity),
    Kind("bpe", "documents",
      (t, d) => BpeTrainer.cachedTrain(t, "text", 3, d),
      t => BpeTrainer.train(t, "text", 3),
      v => { val (m, w) = v.asInstanceOf[(DataFrame, DataFrame)]; (rows(m), rows(w)) }),
    Kind("ngram lm ref", "documents",
      (t, d) => NgramLm.cachedRefTrain(t, "doc_id", "text", refMaxId, d),
      t => NgramLm.train(t.filter($"doc_id" < refMaxId), "doc_id", "text"),
      v => rows(v.asInstanceOf[DataFrame])),
    Kind("quality classifier ref", "documents",
      (t, d) => QualityClassifier.cachedRefTrain(t, "doc_id", "text", refMaxId, 2, d),
      t => QualityClassifier.train(t.filter($"doc_id" < refMaxId), "doc_id", "text", 2),
      v => v.asInstanceOf[Array[Long]].toSeq))

  /** A private copy of the table, rewritable in place: `changed`
    * rewrites it with different rows under the same path — vectors
    * reversed in id order and doubled, or every text extended. */
  private def copyOf(table: String): (String, Boolean => Unit) = {
    val dir = tmpDir("graft_artifacts") + "/" + table
    def write(changed: Boolean): Unit = {
      val src = Tables(spark, corpus, table)
      val out =
        if (!changed) src
        else if (table == "embeddings")
          src.withColumn("vec_id", lit(10000L) - $"vec_id")
            .withColumn("embedding", transform($"embedding", x => x * lit(2.0f)))
        else src.withColumn("text", concat($"text", lit(" zq zq zq")))
      out.write.mode("overwrite").parquet(dir)
    }
    write(false)
    (dir, write)
  }

  test("rewriting a corpus in place rebuilds every snapshot-keyed kind") {
    val copies = kinds.map(_.table).distinct.map(t => t -> copyOf(t)).toMap
    val firsts = kinds.map { k =>
      val dir = copies(k.table)._1
      val first = k.cached(spark.read.parquet(dir), dir)
      // identical files → served from the store (same object)
      assert(k.cached(spark.read.parquet(dir), dir) eq first, k.name)
      first
    }
    copies.values.foreach { case (_, write) => write(true) }
    kinds.zip(firsts).foreach { case (k, first) =>
      val dir = copies(k.table)._1
      val rebuilt = k.cached(spark.read.parquet(dir), dir)
      assert(!(rebuilt eq first), k.name)
      // the rewrite changed the artifact, and the rebuild matches a
      // build that bypasses the store
      assert(k.view(rebuilt) != k.view(first), k.name)
      assert(k.view(rebuilt) == k.view(k.fresh(spark.read.parquet(dir))), k.name)
    }
  }

  /** Every kind looked up once over the shared corpus, plus a table. */
  private def lookups(s: SparkSession): Seq[(String, AnyRef)] =
    ("table" -> Tables(s, corpus, "embeddings")) +: kinds.map { k =>
      k.name -> k.cached(Tables(s, corpus, k.table), corpus)
    }

  private def assertAllRebuilt(before: Seq[(String, AnyRef)],
      after: Seq[(String, AnyRef)]): Unit =
    before.zip(after).foreach { case ((name, b), (_, a)) => assert(!(a eq b), name) }

  test("clear() forces a rebuild of each kind") {
    val before = lookups(spark)
    lookups(spark).zip(before).foreach { case ((name, a), (_, b)) => assert(a eq b, name) }
    Artifacts.clear()
    assertAllRebuilt(before, lookups(spark))
  }

  test("a second session does not see the first session's entries") {
    val first = lookups(spark)
    val other = spark.newSession()
    assertAllRebuilt(first, lookups(other))
  }

  test("application end drops the context's entries; the next lookup rebuilds") {
    val sc = spark.sparkContext
    val listener = Artifacts.listenerFor(sc)
    assert(Artifacts.listenerFor(sc) eq listener, "one listener per context")
    val before = lookups(spark)
    listener.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assertAllRebuilt(before, lookups(spark))
    assert(Artifacts.listenerFor(sc) eq listener)
  }
}
