package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed, deterministic synthetic-data generator producing the
  * same table shapes as the driver corpus (TESTDATA.md) at ANY scale
  * factor — the scale-validation harness uses it to grow a 10×/31.6×
  * corpus locally and measure the scaling curve of the heavy
  * operators (VERDICT round-4 task 1).
  *
  * Design: generation is itself a 100 TB-shaped job. Every table is
  * `spark.range(n)` plus pure codegen expressions — no driver-side
  * loops, no RDDs, no `rand()` (whose seed is per-partition-attempt
  * and so not stable under retries/splits): every value derives from
  * `xxhash64(tag, id, …)`, so any row of any table at any SF is
  * reproducible from (seed, id) alone, across any partitioning, with
  * task retries, speculative execution, and AQE re-splits all safe.
  *
  * Distribution fidelity to the driver corpus (measured at sf0.1):
  *   - documents: 10..100 words/doc, lang mix 40/15/15/15/15
  *     en/zh/es/fr/de, 20 sources, and 5% planted near-duplicates (a
  *     base doc's text with a "dup" token inserted) — the structure
  *     the MinHash/SimHash/components pipelines mine. Tokens
  *     alternate between a fixed 30-word head (stopword/quality/
  *     langid signal) and hash-derived tail tokens over a vocabulary
  *     that GROWS with the corpus (Heaps-law-shaped,
  *     V = max(4096, nDocs)), so every shingle contains a tail token:
  *     the round-5 ladder's original fixed 30-word vocabulary gave
  *     RANDOM doc pairs a ~0.03 bigram-Jaccard floor, so LSH
  *     candidate mass grew ∝ n²·s^r and the 100× rung measured
  *     vocabulary collisions instead of engine scaling (round-5
  *     verdict task 1). With the alternating tail, random-pair
  *     Jaccard ≈ 0 at every rung and the planted 5% near-dups are the
  *     only similarity structure;
  *   - embeddings: 64-dim iid-gaussian unit vectors, 10 labels;
  *   - events: 30 days of 2024-01, ~uniform types over
  *     click/view/purchase/error/signup, exp(mean 50) values;
  *   - TPC-H-ish star: same key ranges, date windows, flag mixes and
  *     fanouts (orders→lineitem ≈ ×4) as the driver tables.
  */
object SynthGen {

  private val vocab = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  /** Uniform double in (0,1] from a row hash — 52 mantissa bits. */
  private def u(tag: String, cols: Column*): Column =
    (pmod(xxhash64((lit(tag) +: cols): _*), lit(1L << 52)) + 1.0) / (1L << 52).toDouble

  /** Uniform long in [0, m) from a row hash. */
  private def h(tag: String, m: Long, cols: Column*): Column =
    pmod(xxhash64((lit(tag) +: cols): _*), lit(m))

  /** Standard gaussian via Box–Muller over two row hashes. */
  private def gauss(tag: String, cols: Column*): Column =
    sqrt(lit(-2.0) * log(u(tag + "#u1", cols: _*))) *
      cos(lit(2.0 * math.Pi) * u(tag + "#u2", cols: _*))

  /** Generator version, written to each corpus dir as `_GEN_VERSION`
    * and checked by [[ScaleBench]] before reusing a pre-existing
    * corpus: the round-6 artifact showed gen_sec [0,0,…] — every rung
    * silently reused a directory, with nothing recording which
    * generator produced it, so a distribution change (like round 6's
    * Heaps-law vocabulary) could leave stale rungs measuring the OLD
    * corpus. Bump on ANY change to the generated distributions. */
  val version: String = "r7-windowed-doc-dups+planted-emb-dups"

  def nDocs(sf: Double): Long = math.max(1L, (50000 * sf).toLong)
  def nEmb(sf: Double): Long = math.max(1L, (20000 * sf).toLong)

  /** Base-doc id for a planted near-dup doc (callers guard on the
    * %20==11 dup lattice). Window-local for doc_id < 200 (see
    * [[documents]]); the +1 step off the lattice means the base is
    * never itself a dup and never the doc itself. */
  private def docDupBase(n: Long): Column = {
    val p = h("docbase", n, col("doc_id"))
    val w = math.min(200L, n)
    when(col("doc_id") < w, pmod(col("doc_id") + 1, lit(w)))
      .otherwise(
        when(pmod(p, lit(20)) === 11, pmod(p + 1, lit(n))).otherwise(p))
  }

  private def embDupBase(n: Long): Column = {
    val p = h("embbase", n, col("vec_id"))
    when(pmod(p, lit(20)) === 11, pmod(p + 1, lit(n))).otherwise(p)
  }

  /** Ground-truth planted (dup, base) doc pairs at `sf` — the recall
    * sampler's target set (pure expressions; never materialized at
    * generation time). */
  def plantedDocPairs(spark: SparkSession, sf: Double): DataFrame = {
    val n = nDocs(sf)
    spark.range(n).toDF("doc_id")
      .filter(pmod(col("doc_id"), lit(20)) === 11)
      .select(col("doc_id").as("dup_id"), docDupBase(n).as("base_id"))
  }

  /** Ground-truth planted (dup, base) embedding pairs at `sf`. */
  def plantedEmbPairs(spark: SparkSession, sf: Double): DataFrame = {
    val n = nEmb(sf)
    spark.range(n).toDF("vec_id")
      .filter(pmod(col("vec_id"), lit(20)) === 11)
      .select(col("vec_id").as("dup_id"), embDupBase(n).as("base_id"))
  }

  def documents(spark: SparkSession, sf: Double): DataFrame = {
    val n = nDocs(sf)
    val vocabArr = array(vocab.map(lit): _*)
    // tail vocabulary grows with the corpus so random-pair Jaccard
    // stays ≈ 0 at every rung (see class doc); head and tail tokens
    // ALTERNATE positions (offset per doc) so every bigram/trigram
    // shingle contains at least one tail token — head-head shingles
    // from a fixed 30-word pool were still colliding ∝ n^1.7 under a
    // random 40% head mix (measured via MineStats)
    val tailV = math.max(4096L, n)
    val base = spark.range(n).toDF("doc_id")
      // 5% of docs are near-copies of a hash-chosen base doc. A dup
      // whose own id falls inside the first-200 window points at a base
      // INSIDE the window (doc_id+1 — never a dup id since dup ids sit
      // on the %20==11 lattice, never self): docs_dup_groups mines the
      // doc_id<200 window, and uniform bases are almost always ≥200, so
      // the windowed query's pair graph was EMPTY at every ladder rung
      // (round-6 advice) and its curve measured fixed overhead.
      .withColumn("is_dup", pmod(col("doc_id"), lit(20)) === 11)
      .withColumn("base_id",
        when(col("is_dup"), docDupBase(n)).otherwise(col("doc_id")))
      .withColumn("n_words", (h("doclen", 91, col("base_id")) + 10).cast("int"))
      .withColumn("words", transform(
        sequence(lit(0), col("n_words") - 1),
        j => when((j + h("docpar", 2, col("base_id"))) % 2 === 0,
          element_at(vocabArr,
            (h("docword", vocab.size, col("base_id"), j) + 1).cast("int")))
          .otherwise(concat(lit("w"), h("doctail", tailV, col("base_id"), j)))))
      .withColumn("words", {
        // dup docs: insert the marker token at a stable position
        val pos = (h("dubpos", 1L << 32, col("doc_id")) % (col("n_words") + 1)).cast("int")
        when(col("is_dup"),
          concat(slice(col("words"), lit(1), pos),
            array(lit("dup")),
            slice(col("words"), pos + 1, col("n_words") - pos)))
          .otherwise(col("words"))
      })
      .withColumn("text", array_join(col("words"), " "))
    val langIdx = h("doclang", 20, col("doc_id"))
    base.select(
      col("doc_id"),
      col("text"),
      when(langIdx < 8, "en").when(langIdx < 11, "zh")
        .when(langIdx < 14, "es").when(langIdx < 17, "fr")
        .otherwise("de").as("lang"),
      concat(lit("src"), h("docsrc", 20, col("doc_id"))).as("source"),
      length(col("text")).cast("long").as("n_chars"))
  }

  def embeddings(spark: SparkSession, sf: Double): DataFrame = {
    val n = nEmb(sf)
    // 5% planted near-duplicate vectors (vec_id %20 == 11): the base
    // vector's gaussians plus a 0.05-scaled perturbation, giving
    // cosine ≈ 0.9988 to the base after normalization — the ground
    // truth the per-rung recall sampler checks SemDeDup / the cosine
    // LSH miner against (non-dup rows are bit-identical to the
    // pre-planting generator: their base_id is their own id).
    val raw = transform(sequence(lit(0), lit(63)),
      i => gauss("emb", col("base_id"), i) +
        when(col("is_dup"), lit(0.05) * gauss("embpert", col("vec_id"), i))
          .otherwise(lit(0.0)))
    spark.range(n).toDF("vec_id")
      .withColumn("is_dup", pmod(col("vec_id"), lit(20)) === 11)
      .withColumn("base_id",
        when(col("is_dup"), embDupBase(n)).otherwise(col("vec_id")))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(
        col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        h("emblabel", 10, col("vec_id")).cast("int").as("label"))
  }

  def events(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (1000000 * sf).toLong)
    val users = math.max(1L, (15000 * sf).toLong)
    val monthMicros = 30L * 24 * 3600 * 1000000
    spark.range(n).toDF("event_id")
      .select(
        col("event_id"),
        // driver schema parity: the corpus stores ts as TIMESTAMP(NANOS),
        // which Tables() reads as raw long nanoseconds — so emit the
        // same int64-nanos shape here, not a Spark TimestampType
        ((lit(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000) +
          h("evts", monthMicros, col("event_id"))) * lit(1000L)).as("ts"),
        h("evuser", users, col("event_id")).as("user_id"),
        element_at(
          array(lit("click"), lit("view"), lit("purchase"), lit("error"), lit("signup")),
          (h("evtype", 5, col("event_id")) + 1).cast("int")).as("event_type"),
        round(lit(-50.0) * log(u("evval", col("event_id"))), 2).as("value"),
        concat(lit("{\"k\": "), h("evk", 100, col("event_id")), lit("}")).as("props"))
  }

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (150000 * sf).toLong)
    spark.range(n).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      h("custnat", 25, col("id")).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("custbal", col("id")) * 11000.0, 2).as("c_acctbal"),
      element_at(
        array(lit("MACHINERY"), lit("FURNITURE"), lit("AUTOMOBILE"),
          lit("BUILDING"), lit("HOUSEHOLD")),
        (h("custseg", 5, col("id")) + 1).cast("int")).as("c_mktsegment"))
  }

  def supplier(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (10000 * sf).toLong)
    spark.range(n).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      h("suppnat", 25, col("id")).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u("suppbal", col("id")) * 11000.0, 2).as("s_acctbal"))
  }

  def part(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (200000 * sf).toLong)
    val adjectives = array(lit("large"), lit("hot"), lit("blue"), lit("small"),
      lit("dark"), lit("light"), lit("old"), lit("new"))
    val nouns = array(lit("ring"), lit("bolt"), lit("gear"), lit("pipe"),
      lit("wheel"), lit("plate"))
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(
        element_at(adjectives, (h("padj", 8, col("id")) + 1).cast("int")), lit(" "),
        element_at(nouns, (h("pnoun", 6, col("id")) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), h("pbrand", 25, col("id"))).as("p_brand"),
      element_at(
        array(lit("LARGE"), lit("ECONOMY"), lit("SMALL"), lit("STANDARD"),
          lit("PROMO"), lit("MEDIUM")),
        (h("ptype", 6, col("id")) + 1).cast("int")).as("p_type"),
      (h("psize", 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 2).as("p_retailprice"))
  }

  def orders(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (1500000 * sf).toLong)
    val custs = math.max(1L, (150000 * sf).toLong)
    val windowDays = 2404 // 1995-01-01 .. 2001-08-01
    spark.range(n).select(
      col("id").as("o_orderkey"),
      h("ocust", custs, col("id")).as("o_custkey"),
      element_at(array(lit("O"), lit("P"), lit("F")),
        (h("ostat", 3, col("id")) + 1).cast("int")).as("o_orderstatus"),
      round(u("oprice", col("id")) * 400000.0, 2).as("o_totalprice"),
      // driver parity: corpus timestamps are parquet NTZ
      date_add(lit("1995-01-01").cast("date"),
        h("odate", windowDays, col("id")).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      element_at(
        array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (h("oprio", 5, col("id")) + 1).cast("int")).as("o_orderpriority"))
  }

  /** Lineitem is orders exploded by a per-order fanout of 1..7
    * (mean ≈ 4, matching the driver corpus) — the explode happens on
    * the executors, so the fact table never exists driver-side. */
  def lineitem(spark: SparkSession, sf: Double): DataFrame = {
    val nOrders = math.max(1L, (1500000 * sf).toLong)
    val parts = math.max(1L, (200000 * sf).toLong)
    val supps = math.max(1L, (10000 * sf).toLong)
    spark.range(nOrders).toDF("o")
      .withColumn("o_days", h("odate", 2404, col("o")).cast("int"))
      .select(col("o"), col("o_days"),
        explode(sequence(lit(1), (h("lfan", 7, col("o")) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("o").as("l_orderkey"),
        h("lpart", parts, col("o"), col("l_linenumber")).as("l_partkey"),
        h("lsupp", supps, col("o"), col("l_linenumber")).as("l_suppkey"),
        col("l_linenumber"),
        (h("lqty", 50, col("o"), col("l_linenumber")) + 1).cast("double")
          .as("l_quantity"),
        round(u("lprice", col("o"), col("l_linenumber")) * 100000.0 + 900.0, 2)
          .as("l_extendedprice"),
        (h("ldisc", 11, col("o"), col("l_linenumber")) / 100.0).as("l_discount"),
        (h("ltax", 9, col("o"), col("l_linenumber")) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h("lret", 3, col("o"), col("l_linenumber")) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (h("lstat", 2, col("o"), col("l_linenumber")) + 1).cast("int"))
          .as("l_linestatus"),
        date_add(lit("1995-01-01").cast("date"),
          (col("o_days") +
            h("lship", 120, col("o"), col("l_linenumber")) + 1).cast("int"))
          .cast("timestamp_ntz").as("l_shipdate"))
  }

  /** Generate every table at `sf` into `outDir/<name>.parquet`,
    * mirroring the driver layout so `Tables(spark, outDir, name)`
    * works unchanged. */
  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> region(spark),
      "nation" -> nation(spark),
      "customer" -> customer(spark, sf),
      "supplier" -> supplier(spark, sf),
      "part" -> part(spark, sf),
      "orders" -> orders(spark, sf),
      "lineitem" -> lineitem(spark, sf),
      "events" -> events(spark, sf),
      "documents" -> documents(spark, sf),
      "embeddings" -> embeddings(spark, sf))
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    // version marker LAST: a dir with tables but no (current) marker is
    // treated as stale by ScaleBench and regenerated
    val vf = new java.io.PrintWriter(s"$outDir/_GEN_VERSION")
    try vf.println(version) finally vf.close()
  }

  /** The version recorded in `dir`'s marker, if any. */
  def dirVersion(dir: String): Option[String] = {
    val f = new java.io.File(s"$dir/_GEN_VERSION")
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f)
      try Some(src.getLines().mkString.trim) finally src.close()
    }
  }

  /** `runMain graft.tools.SynthGen <outDir> <sf>` */
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: SynthGen <outDir> <sf>")
    val spark = graft.Launch.session("graft-synthgen")
    try generate(spark, args(0), args(1).toDouble)
    finally spark.stop()
  }
}
