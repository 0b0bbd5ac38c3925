package perfbench

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** The benchmark's self-tests (`python3 perfbench/run.py --selftest`):
  * generators are deterministic per seed and differ across seeds, every
  * checker rejects a perturbed output and accepts the true one, and the
  * metric names are printed for comparison with `BENCHMARK.json`. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"selftest ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val bench = new File(argv.sliding(2).collectFirst { case Array("--bench-dir", d) => d }.get)
    val work = new File(bench, s".work/selftest-${ProcessHandle.current().pid()}")
    work.mkdirs()
    try {
      generators(work)
      checkers()
    } finally Harness.deleteRecursively(work)
    def names(xs: Seq[(String, String)]) = xs.map { case (n, u) => Seq(n, u) }
    println("metric-names " + Json.render(Map(
      "end_to_end" -> names(Main.endToEnd),
      "per_layer" -> names(Main.perLayer),
      "workloads" -> Main.workloads.map(_.name))))
    println(s"selftest ${if (failures == 0) "jvm checks passed" else s"$failures jvm checks FAILED"}")
    System.out.flush()
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def generators(work: File): Unit = {
    val size = EtlSize(normal = 300, backfillFactor = 3, hours = 4, filesPerHour = 2)
    def etlFiles(seed: Long) = new EtlModel(seed, size).files.flatten.map { case (n, l) => n + l.mkString }
    expect("ETL generator: same seed, same files", etlFiles(7) == etlFiles(7))
    expect("ETL generator: different seed, different files", etlFiles(7) != etlFiles(8))
    val m = new EtlModel(7, size)
    expect("ETL generator: hours hold updates, duplicates, corrupt and unknown-entity lines",
      m.corruptLines > 0 && m.unknownLines > 0 &&
        m.entityLinesPerHour.sum > m.keysPerHour.map(_.values.sum).sum)
    val longer = new EtlModel(7, size.copy(hours = 5))
    expect("ETL generator: a longer run extends the same hours",
      longer.files.take(4) == m.files)

    val spark = Harness.session(work.getPath)
    try {
      def corpus(seed: Long) = {
        val c = new Corpus(spark, seed, 0.002)
        c.tables.map { case (n, df) => n -> Hashes.forced(df()) }
      }
      import spark.implicits._
      expect("query hash tells a duplicate pair from another one",
        Hashes.forced(Seq(1, 1, 3).toDF("x")) != Hashes.forced(Seq(2, 2, 3).toDF("x")))
      val a = corpus(11)
      expect("corpus generator: same seed, same tables", a == corpus(11))
      val b = corpus(12)
      val differing = a.zip(b).collect { case ((n, x), (_, y)) if x != y => n }
      expect(s"corpus generator: different seed, different values (${differing.mkString(",")})",
        differing.toSet == Set("customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"))
      val synth = graft.tools.SynthGen
      val shapes = Seq(
        "documents" -> synth.documents(spark, 0.002), "embeddings" -> synth.embeddings(spark, 0.002),
        "events" -> synth.events(spark, 0.002), "lineitem" -> synth.lineitem(spark, 0.002),
        "orders" -> synth.orders(spark, 0.002), "part" -> synth.part(spark, 0.002))
      val c = new Corpus(spark, 11, 0.002)
      shapes.foreach { case (n, df) =>
        val ours = c.tables.find(_._1 == n).get._2()
        // lineitem's order fanout is drawn per order, so its count varies
        val (a, b) = (ours.count().toDouble, df.count().toDouble)
        expect(s"corpus generator: $n has SynthGen's schema and row count",
          ours.schema == df.schema && (if (n == "lineitem") math.abs(a / b - 1) < 0.1 else a == b))
      }
    } finally spark.stop()
  }

  private def checkers(): Unit = {
    val size = EtlSize(normal = 300, backfillFactor = 3, hours = 4, filesPerHour = 2)
    val m = new EtlModel(3, size)
    val landing = new File("landing")
    val exp = m.expected(landing)
    val truth = m.truth(landing).tables
    expect("warehouse check accepts the true content", EtlCheck.warehouse(truth, exp).isEmpty)
    val dropped = exp.map { case (t, rows) => t -> (if (t == "vehicle_location") rows.tail else rows) }
    expect("warehouse check rejects one dropped row", EtlCheck.warehouse(truth, dropped).nonEmpty)
    val changed = exp.map { case (t, rows) =>
      t -> (if (t == "operating_periods") rows.updated(0, rows.head.replace("org-", "org-9")) else rows)
    }
    expect("warehouse check rejects one changed value", EtlCheck.warehouse(truth, changed).nonEmpty)
    val swapped = exp.map { case (t, rows) =>
      t -> (if (t == "vehicle_location") rows.tail.tail ++ Seq(rows(2), rows(2)) else rows)
    }
    expect("warehouse check rejects two rows replaced by a duplicate pair", EtlCheck.warehouse(truth, swapped).nonEmpty)

    val files = m.files.map(_.size)
    val good = files.indices.map(h => (m.hourStart(h), files(h), false))
    expect("ingestor audit check accepts the true rows",
      EtlCheck.ingestorAudit(files, m.hourStart, good).isEmpty)
    expect("ingestor audit check rejects one wrong file count",
      EtlCheck.ingestorAudit(files, m.hourStart, good.updated(2, (m.hourStart(2), files(2) + 1, false))).nonEmpty)
    expect("ingestor audit check rejects a missing hour",
      EtlCheck.ingestorAudit(files, m.hourStart, good.take(3)).nonEmpty)
    val hand = m.keysPerHour.zipWithIndex.flatMap { case (k, h) =>
      k.toSeq.map { case (t, n) => (h, t, n.toLong, false) }
    }
    expect("handler audit check accepts the true rows", EtlCheck.handlerAudit(m.keysPerHour, hand).isEmpty)
    expect("handler audit check rejects one wrong record count",
      EtlCheck.handlerAudit(m.keysPerHour, hand.updated(1, hand(1).copy(_3 = hand(1)._3 - 1))).nonEmpty)

    // the key check recomputes event_generated_id from the key columns
    val schema = StructType(Seq(StructField("vehicle_id", StringType), StructField("event_timestamp", TimestampType),
      StructField("event_generated_id", StringType)))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2022-11-24T10:02:11.250Z"))
    val id = "9a2f0c4e-0000-4000-8000-000000000001"
    val right = EtlCheck.generatedId(id, "2022-11-24 10:02:11.250000")
    def row(gen: String): Row = new GenericRowWithSchema(Array[Any](id, ts, gen), schema)
    expect("key check accepts the recomputed id",
      EtlCheck.readTable(Seq(row(right)), Seq("vehicle_id", "event_timestamp"))._2.isEmpty)
    expect("key check rejects a wrong id",
      EtlCheck.readTable(Seq(row(right.reverse)), Seq("vehicle_id", "event_timestamp"))._2.nonEmpty)
    expect("pandas rendering drops an all-zero fraction",
      EtlCheck.pandasStr(1669284131000000L) == "2022-11-24 10:02:11" &&
        EtlCheck.pandasStr(1669284131250000L) == "2022-11-24 10:02:11.250000")

    val golden = Map("q1" -> Seq("5", "42"), "q2" -> Seq("3", "*"))
    val got: Map[String, Either[String, (Long, Long)]] = Map("q1" -> Right((5L, 42L)), "q2" -> Right((3L, 7L)))
    expect("query check accepts committed outputs", QueryCheck.compare(golden, got).isEmpty)
    expect("query check rejects one flipped hash",
      QueryCheck.compare(golden, got.updated("q1", Right((5L, 42L ^ 1L)))).nonEmpty)
    expect("query check rejects a changed row count",
      QueryCheck.compare(golden, got.updated("q2", Right((4L, 7L)))).nonEmpty)
    expect("query check rejects a committed output the run did not produce",
      QueryCheck.compare(golden, got - "q2").nonEmpty)
  }
}
