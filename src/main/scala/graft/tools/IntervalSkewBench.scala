package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skewed-timeline decade for [[graft.operators.IntervalAgg.countSum]]
  * — the round-8 watch item's "done" measurement.
  *
  * The hazard class: the prefix-sum's bucket width adapts to time
  * SPAN, so a corpus whose points concentrate in a tiny slice of a
  * long span can land ~all points in a few window partitions
  * (WindowExec buffers a whole partition per task). countSum now
  * measures max bucket density from the (anyway-needed) bucket
  * totals and engages a `subBuckets`-way sub-division only above
  * `maxBucketRows`; this bench measures all three regimes at n and
  * 10n points over a one-year span, same interval side throughout:
  *
  *  - uniform: spread over the year — single-level, the zero-
  *    overhead baseline;
  *  - skew: 99% of points inside 0.1% of the span (~100 coarse
  *    buckets hot at ~n/100 rows each) — stays single-level BY
  *    DESIGN: hundreds of ≲200k-row partitions are a healthy sort,
  *    and the artifact proves the skewed cell runs ≈ the uniform
  *    one without any sub-division;
  *  - spike: 99% of points inside ONE MILLIONTH of the span (a
  *    single coarse bucket holds ~0.99·n rows) — trips the >1M-row
  *    trigger at both scales, and the artifact proves the engaged
  *    two-level plan keeps the cell in the uniform cell's league
  *    instead of one task sorting 99% of the corpus.
  *
  * Both corpora are generated distributed (`spark.range` + xxhash64
  * formulas — no driver-side data, no ANSI overflow).
  *
  * Usage: `sbt "runMain graft.tools.IntervalSkewBench [out.json]"`
  * (scales fixed: 2M → 20M points, 200k intervals each).
  */
object IntervalSkewBench {

  private val yearMicros = 365L * 86400 * 1000000
  private val epoch0 = 1704067200000000L // 2024-01-01T00:00:00Z in µs

  private val shapes = Seq(
    ("uniform", 1L),          // hot fraction denominator unused
    ("skew", 1000L),          // hot width = span/1e3
    ("spike", 1000000L))      // hot width = span/1e6 (one bucket)

  /** Points over [epoch0, epoch0+year): 99% inside span/hotDiv at
    * mid-span (uniform shape: everything uniform). */
  private def points(spark: SparkSession, n: Long, shape: String,
      hotDiv: Long): DataFrame = {
    val hotStart = epoch0 + yearMicros / 2
    val hotWidth = math.max(1L, yearMicros / hotDiv)
    val uni = lit(epoch0) + pmod(xxhash64(col("id")), lit(yearMicros))
    val tm =
      if (shape == "uniform") uni
      else when(pmod(col("id"), lit(100)) === 0, uni)
        .otherwise(lit(hotStart) + pmod(xxhash64(col("id"), lit(1)), lit(hotWidth)))
    spark.range(n).select(
      timestamp_micros(tm).as("p_ts"),
      (pmod(col("id"), lit(13)) + lit(0.25)).cast("double").as("p_value"))
  }

  /** Monitoring-window-shaped intervals: starts uniform over the
    * year, fixed 1-hour width — identical for every corpus shape. */
  private def intervals(spark: SparkSession, n: Long): DataFrame = {
    val start = lit(epoch0) + pmod(xxhash64(col("id"), lit(2)), lit(yearMicros))
    spark.range(n).select(col("id").as("iid"),
      timestamp_micros(start).as("s"),
      timestamp_micros(start + lit(3600L * 1000000)).as("e"))
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "INTERVAL_SKEW_ISOLATED.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt.max(1)
    val spark = SparkSession.builder()
      .appName("graft-interval-skew")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 512)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = graft.obs.Probe.attach(spark)

    val scales = Seq(2000000L, 20000000L)
    val nIv = 200000L

    // untimed JIT warm-up of BOTH plans (the single-level warm corpus
    // never trips the density trigger, so the two-level stages are
    // additionally warmed via a forced tiny maxBucketRows)
    for (mbr <- Seq(1000000L, 10L))
      Force.rows(graft.operators.IntervalAgg.countSum(
        points(spark, 50000L, "skew", 1000L), intervals(spark, 5000L),
        "p_ts", "p_value", "iid", "s", "e", bucketWidthSec = 60L,
        maxBucketRows = mbr))

    case class Cell(sec: Double, rows: Long, swMb: Double, spillMb: Double)
    def measure(n: Long, shape: String, hotDiv: Long): Cell = {
      val cells = (0 until reps).map { _ =>
        val before = probe.snapshot()
        val t0 = System.nanoTime()
        val rows = Force.rows(graft.operators.IntervalAgg.countSum(
          points(spark, n, shape, hotDiv), intervals(spark, nIv),
          "p_ts", "p_value", "iid", "s", "e", bucketWidthSec = 60L))
        val sec = (System.nanoTime() - t0) / 1e9
        val w = probe.snapshot().since(before)
        Cell(sec, rows,
          w.shuffleWriteBytes / 1048576.0,
          (w.memSpillBytes + w.diskSpillBytes) / 1048576.0)
      }
      val best = cells.minBy(_.sec)
      System.err.println(f"[skewbench] n=$n shape=$shape " +
        f"${best.sec}%.2fs rows=${best.rows} spillMb=${best.spillMb}%.1f")
      best
    }

    val cells = for ((shape, hotDiv) <- shapes; n <- scales)
      yield ((shape, n), measure(n, shape, hotDiv))
    val m = cells.toMap
    def s3(d: Double) = (math.rint(d * 1000) / 1000).toString
    def arr(shape: String, f: Cell => String) =
      scales.map(n => f(m((shape, n)))).mkString("[", ",", "]")
    val shapeJson = shapes.map { case (shape, hotDiv) =>
      val ratio = m((shape, scales.last)).sec / m((shape, scales.head)).sec
      s""""$shape":{"hot_span_fraction":${
        if (shape == "uniform") "null" else s"1e-${math.log10(hotDiv.toDouble).round}"},""" +
      s""""sec":${arr(shape, c => s3(c.sec))},""" +
      s""""rows":${arr(shape, _.rows.toString)},""" +
      s""""shuffle_mb":${arr(shape, c => s3(c.swMb))},""" +
      s""""spill_mb":${arr(shape, c => s3(c.spillMb))},""" +
      s""""ratio":${s3(ratio)}}"""
    }.mkString(",")
    val penalties = shapes.filter(_._1 != "uniform").map { case (shape, _) =>
      s""""penalty_$shape":${scales.map(n =>
        s3(m((shape, n)).sec / m(("uniform", n)).sec)).mkString("[", ",", "]")}"""
    }.mkString(",")
    val js =
      s"""{"metric":"interval_skew_curve","points":${scales.mkString("[", ",", "]")},""" +
      s""""intervals":$nIv,"hot_fraction":0.99,"reps":$reps,"cpus":$cpus,""" +
      s""""trigger_max_bucket_rows":${graft.operators.IntervalAgg.DefaultMaxBucketRows},""" +
      s""""sub_buckets":${graft.operators.IntervalAgg.DefaultSubBuckets},""" +
      s""""corpus_ratio":${s3(scales.last.toDouble / scales.head)},""" +
      s""""shapes":{$shapeJson},$penalties}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      js.getBytes("UTF-8"))
    println(js)
    spark.stop()
  }
}
