package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Every at-rest / index structure the engine keeps (exact IVF
  * codebooks, bucketed layout, BPE tokenizer, reference models in
  * [[graft.Artifacts]]; the z-order layout), built EXPLICITLY and
  * timed, so BENCH_DETAIL carries the one-time build cost as its own
  * line instead of hiding it in a first rep. Running the builds before
  * the query loop also means every query rep measures steady-state
  * latency — build cost and query latency stop contaminating each
  * other.
  *
  * Bench HARNESS code: driver-side collects here are bench inputs
  * (bounded by the bench SF), not engine operators.
  */
object AtRestBuilds {

  /** (name, build action). Each action is idempotent per session —
    * builds land in the [[graft.Artifacts]] entries the registered
    * queries look up, so the query loop that follows measures steady
    * state. The z-order layout is not stored: no query reads it, and
    * it is rebuilt on every call. */
  def all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "ivf_exact_codebook_iter1" -> { (s, dir) =>
      val e = graft.Tables(s, dir, "embeddings")
      graft.ext.similarity.IvfKNN.cachedLloydTrain(
        e, "vec_id", "embedding", k = 8, source = dir, iterations = 1)
      ()
    },
    // incremental: iteration 1 is memoized by the line above, so this
    // times exactly one further exact-Lloyd step
    "ivf_exact_codebook_iter2" -> { (s, dir) =>
      val e = graft.Tables(s, dir, "embeddings")
      graft.ext.similarity.IvfKNN.cachedLloydTrain(
        e, "vec_id", "embedding", k = 8, source = dir, iterations = 2)
      ()
    },
    "bucketed_layout" -> { (s, dir) =>
      graft.ScaleQueries.ensureBucketedLayout(s, dir)
    },
    // BPE tokenizer training (8 merges over the documents vocabulary)
    // — the at-rest artifact behind docs_bpe_merges/docs_bpe_tokenize
    "bpe_tokenizer" -> { (s, dir) =>
      graft.ext.text.BpeTrainer.cachedTrain(
        graft.Tables(s, dir, "documents"), "text",
        graft.ext.text.BpeTrainer.RegistryMerges, source = dir)
      ()
    },
    // fixed-snapshot bigram-LM reference model (doc_id < 5000) — the
    // at-rest artifact behind docs_lm_score_ref; flat in the corpus
    // size by construction
    "lm_ref_model" -> { (s, dir) =>
      graft.ext.text.NgramLm.cachedRefTrain(
        graft.Tables(s, dir, "documents"), "doc_id", "text",
        maxRefId = graft.ext.text.NgramLm.RegistryRefSnapshotMaxId,
        source = dir)
      ()
    },
    // fixed-snapshot trained quality classifier (doc_id < 5000, the
    // lm_ref_model twin) — 257 longs of driver-held metadata behind
    // docs_quality_clf_ref; training cost flat in the scored corpus
    "quality_clf_model" -> { (s, dir) =>
      graft.ext.text.QualityClassifier.cachedRefTrain(
        graft.Tables(s, dir, "documents"), "doc_id", "text",
        maxRefId = graft.ext.text.NgramLm.RegistryRefSnapshotMaxId,
        iters = graft.ext.text.QualityClassifier.RegistryIters,
        source = dir)
      ()
    },
    // at-rest z-order clustering of events on (user bucket, hour
    // bucket) — the write ZOrderSpec audits for both-dims skipping
    "zorder_layout" -> { (s, dir) =>
      val ev = graft.Tables(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        col("user_id").bitwiseAND(lit(1023L)).as("ub"),
        (expr("unix_micros(ts) div 3600000000") - lit(473352L))
          .bitwiseAND(lit(1023L)).as("hb"))
      val z = ev.withColumn("zkey",
        graft.operators.ZOrder.zValue(col("ub"), col("hb"), 10))
      val out = graft.tools.Scratch.dir("graft_zorder_bench")
      graft.operators.ZOrder.cluster(z, "zkey", 8)
        .write.mode("overwrite").parquet(out + "/events_z")
    })

  /** Run and time every build; non-fatal failures are recorded, never
    * thrown — a broken build must surface in the detail file, not kill
    * the bench. Returns (name, seconds or error). */
  def measure(spark: SparkSession, sfDir: String): Seq[(String, Either[String, Double])] =
    all.map { case (name, build) =>
      val t0 = System.nanoTime()
      try {
        build(spark, sfDir)
        name -> Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          name -> Left(e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160))
      }
    }

  /** JSON object fragment: {"name":sec,…,"errors":{…}}. */
  def json(rs: Seq[(String, Either[String, Double])]): String = {
    def ms(t: Double) = (math.rint(t * 1000) / 1000).toString
    val ok = rs.collect { case (k, Right(t)) => "\"" + k + "\":" + ms(t) }
    val err = rs.collect { case (k, Left(e)) => "\"" + k + "\":\"" + e + "\"" }
    // an empty ok list must not leave a leading comma (a filtered
    // bench rerun skips every build and wrote invalid JSON)
    (ok :+ s""""errors":{${err.mkString(",")}}""").mkString("{", ",", "}")
  }
}
