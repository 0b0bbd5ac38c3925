package perfbench

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded corpus in the table shapes `graft.tools.SynthGen` writes
  * (the schemas `SynthGenSpec` pins), with every
  * value derived from `xxhash64(seed, tag, id, …)`. The distributions
  * follow SynthGen's: documents of 10–100 words alternating a fixed
  * head vocabulary with a corpus-sized tail, 5% planted near-duplicate
  * documents and embeddings, 64-dim unit embeddings, a month of events,
  * and the TPC-H-like star with an order → lineitem fanout of 1–7.
  * SynthGen itself has no seed, so the same shapes are re-derived here
  * with the seed folded into every hash. */
final class Corpus(spark: SparkSession, seed: Long, sf: Double) {

  private val head = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  private def hash(tag: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: cols): _*)
  private def h(tag: String, m: Long, cols: Column*): Column = pmod(hash(tag, cols: _*), lit(m))
  private def u(tag: String, cols: Column*): Column =
    (pmod(hash(tag, cols: _*), lit(1L << 52)) + 1.0) / (1L << 52).toDouble
  private def gauss(tag: String, cols: Column*): Column =
    sqrt(lit(-2.0) * log(u(tag + "#u1", cols: _*))) * cos(lit(2.0 * math.Pi) * u(tag + "#u2", cols: _*))

  val nDocs: Long = math.max(1L, (50000 * sf).toLong)
  val nEmb: Long = math.max(1L, (20000 * sf).toLong)
  private def scaled(n: Double): Long = math.max(1L, (n * sf).toLong)

  def documents: DataFrame = {
    val n = nDocs
    val tailV = math.max(4096L, n)
    val w = math.min(200L, n)
    val p = h("docbase", n, col("doc_id"))
    val dupBase = when(col("doc_id") < w, pmod(col("doc_id") + 1, lit(w)))
      .otherwise(when(pmod(p, lit(20)) === 11, pmod(p + 1, lit(n))).otherwise(p))
    val vocab = array(head.map(lit): _*)
    spark.range(n).toDF("doc_id")
      .withColumn("is_dup", pmod(col("doc_id"), lit(20)) === 11)
      .withColumn("base_id", when(col("is_dup"), dupBase).otherwise(col("doc_id")))
      .withColumn("n_words", (h("doclen", 91, col("base_id")) + 10).cast("int"))
      .withColumn("words", transform(sequence(lit(0), col("n_words") - 1),
        j => when((j + h("docpar", 2, col("base_id"))) % 2 === 0,
          element_at(vocab, (h("docword", head.size, col("base_id"), j) + 1).cast("int")))
          .otherwise(concat(lit("w"), h("doctail", tailV, col("base_id"), j)))))
      .withColumn("words", {
        val pos = (h("dubpos", 1L << 32, col("doc_id")) % (col("n_words") + 1)).cast("int")
        when(col("is_dup"), concat(slice(col("words"), lit(1), pos), array(lit("dup")),
          slice(col("words"), pos + 1, col("n_words") - pos))).otherwise(col("words"))
      })
      .withColumn("text", array_join(col("words"), " "))
      .select(col("doc_id"), col("text"), {
        val l = h("doclang", 20, col("doc_id"))
        when(l < 8, "en").when(l < 11, "zh").when(l < 14, "es").when(l < 17, "fr")
          .otherwise("de").as("lang")
      }, concat(lit("src"), h("docsrc", 20, col("doc_id"))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def embeddings: DataFrame = {
    val n = nEmb
    val p = h("embbase", n, col("vec_id"))
    val dupBase = when(pmod(p, lit(20)) === 11, pmod(p + 1, lit(n))).otherwise(p)
    val raw = transform(sequence(lit(0), lit(63)), i => gauss("emb", col("base_id"), i) +
      when(col("is_dup"), lit(0.05) * gauss("embpert", col("vec_id"), i)).otherwise(lit(0.0)))
    spark.range(n).toDF("vec_id")
      .withColumn("is_dup", pmod(col("vec_id"), lit(20)) === 11)
      .withColumn("base_id", when(col("is_dup"), dupBase).otherwise(col("vec_id")))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        h("emblabel", 10, col("vec_id")).cast("int").as("label"))
  }

  def events: DataFrame = {
    val monthMicros = 30L * 24 * 3600 * 1000000
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000
    spark.range(scaled(1000000)).toDF("event_id").select(
      col("event_id"),
      ((lit(t0) + h("evts", monthMicros, col("event_id"))) * lit(1000L)).as("ts"),
      h("evuser", scaled(15000), col("event_id")).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "error", "signup").map(lit): _*),
        (h("evtype", 5, col("event_id")) + 1).cast("int")).as("event_type"),
      round(lit(-50.0) * log(u("evval", col("event_id"))), 2).as("value"),
      concat(lit("{\"k\": "), h("evk", 100, col("event_id")), lit("}")).as("props"))
  }

  def region: DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  def nation: DataFrame = spark.range(25).select(
    col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"),
    pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer: DataFrame = spark.range(scaled(150000)).select(
    col("id").as("c_custkey"),
    concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
    h("custnat", 25, col("id")).cast("int").as("c_nationkey"),
    round(lit(-1000.0) + u("custbal", col("id")) * 11000.0, 2).as("c_acctbal"),
    element_at(array(Seq("MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING", "HOUSEHOLD").map(lit): _*),
      (h("custseg", 5, col("id")) + 1).cast("int")).as("c_mktsegment"))

  def supplier: DataFrame = spark.range(scaled(10000)).select(
    col("id").as("s_suppkey"),
    concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
    h("suppnat", 25, col("id")).cast("int").as("s_nationkey"),
    round(lit(-1000.0) + u("suppbal", col("id")) * 11000.0, 2).as("s_acctbal"))

  def part: DataFrame = {
    val adjectives = array(Seq("large", "hot", "blue", "small", "dark", "light", "old", "new").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "gear", "pipe", "wheel", "plate").map(lit): _*)
    spark.range(scaled(200000)).select(
      col("id").as("p_partkey"),
      concat(element_at(adjectives, (h("padj", 8, col("id")) + 1).cast("int")), lit(" "),
        element_at(nouns, (h("pnoun", 6, col("id")) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), h("pbrand", 25, col("id"))).as("p_brand"),
      element_at(array(Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM").map(lit): _*),
        (h("ptype", 6, col("id")) + 1).cast("int")).as("p_type"),
      (h("psize", 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 2).as("p_retailprice"))
  }

  def orders: DataFrame = spark.range(scaled(1500000)).select(
    col("id").as("o_orderkey"),
    h("ocust", scaled(150000), col("id")).as("o_custkey"),
    element_at(array(lit("O"), lit("P"), lit("F")), (h("ostat", 3, col("id")) + 1).cast("int"))
      .as("o_orderstatus"),
    round(u("oprice", col("id")) * 400000.0, 2).as("o_totalprice"),
    date_add(lit("1995-01-01").cast("date"), h("odate", 2404, col("id")).cast("int"))
      .cast("timestamp_ntz").as("o_orderdate"),
    element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
      (h("oprio", 5, col("id")) + 1).cast("int")).as("o_orderpriority"))

  def lineitem: DataFrame = {
    val o = col("o")
    val ln = col("l_linenumber")
    spark.range(scaled(1500000)).toDF("o")
      .withColumn("o_days", h("odate", 2404, o).cast("int"))
      .select(o, col("o_days"),
        explode(sequence(lit(1), (h("lfan", 7, o) + 1).cast("int"))).as("l_linenumber"))
      .select(
        o.as("l_orderkey"),
        h("lpart", scaled(200000), o, ln).as("l_partkey"),
        h("lsupp", scaled(10000), o, ln).as("l_suppkey"),
        ln,
        (h("lqty", 50, o, ln) + 1).cast("double").as("l_quantity"),
        round(u("lprice", o, ln) * 100000.0 + 900.0, 2).as("l_extendedprice"),
        (h("ldisc", 11, o, ln) / 100.0).as("l_discount"),
        (h("ltax", 9, o, ln) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (h("lret", 3, o, ln) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("O"), lit("F")), (h("lstat", 2, o, ln) + 1).cast("int"))
          .as("l_linestatus"),
        date_add(lit("1995-01-01").cast("date"), (col("o_days") + h("lship", 120, o, ln) + 1).cast("int"))
          .cast("timestamp_ntz").as("l_shipdate"))
  }

  def tables: Seq[(String, () => DataFrame)] = Seq(
    "region" -> (() => region), "nation" -> (() => nation), "customer" -> (() => customer),
    "supplier" -> (() => supplier), "part" -> (() => part), "orders" -> (() => orders),
    "lineitem" -> (() => lineitem), "events" -> (() => events),
    "documents" -> (() => documents), "embeddings" -> (() => embeddings))

  /** Write the named tables as `<dir>/<table>.parquet` (the layout
    * `graft.Tables` reads). The tables are written concurrently:
    * generation is never measured. */
  def materialize(dir: File, names: Seq[String]): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = tables.filter(t => names.contains(t._1)).map { case (name, df) =>
      Future(df().write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath))
    }
    Await.result(Future.sequence(writes), Duration.Inf)
  }
}
