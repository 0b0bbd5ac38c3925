package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Order statistics used for every reported figure. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentile `p` in (0, 1) by the exclusive method (Python's
    * `statistics.quantiles` default): position p·(n+1), interpolated. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.length
    val pos = p * (n + 1)
    if (pos <= 1) s.head
    else if (pos >= n) s.last
    else {
      val lo = pos.floor.toInt
      s(lo - 1) + (pos - lo) * (s(lo) - s(lo - 1))
    }
  }

  /** Samples strictly above the `p` percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val q = percentile(xs, p)
    xs.count(_ > q)
  }
}

/** Minimal JSON rendering (the benchmark prints and reads only flat
  * objects of numbers, strings, booleans, arrays and nested objects). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }

  /** Parse the flat golden files the benchmark itself writes: an object
    * mapping names to arrays of integers or strings. */
  def parseGolden(text: String): Map[String, Seq[String]] = {
    val entry = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\\[([^\\]]*)\\]".r
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> m.group(2).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq
    }.toMap
  }
}

/** Order-free content hashes computed by the benchmark's own code. */
object Hashes {
  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  def long64(s: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Sum (mod 2^64) of per-row hashes: independent of row order. */
  def unordered(rows: Iterable[String]): Long = rows.foldLeft(0L)(_ + long64(_))

  /** Row count and order-free 64-bit hash over every output column of
    * `df`, computed in one aggregate the way `graft.tools.Force` forces
    * a query: every output value is produced, only the presentation
    * order is not. Row hashes are summed (in decimal, so ANSI mode does
    * not overflow) and folded mod 2^64 like [[unordered]]; unlike an
    * xor, a pair of equal rows does not cancel out. */
  def forced(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), hashSum(df)).head()
    (r.getLong(0), fold(r, 1))
  }

  /** (rows, hash) per value of `groupCol`, computed the same way. */
  def forcedBy(df: DataFrame, groupCol: String): Map[Long, (Long, Long)] =
    df.groupBy(col(groupCol)).agg(count(lit(1)), hashSum(df, Set(groupCol))).collect()
      .map((r: Row) => r.get(0).toString.toLong -> (r.getLong(1), fold(r, 2))).toMap

  private def hashSum(df: DataFrame, except: Set[String] = Set.empty): Column =
    sum(xxhash64(df.columns.toIndexedSeq.filterNot(except).map(c => df.col(s"`$c`")): _*)
      .cast("decimal(38,0)"))

  private def fold(r: Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getDecimal(i).toBigInteger.longValue
}

/** Session and process facts shared by the workloads. */
object Harness {
  val cores = 4

  def session(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def progress(processStartMs: Long, what: String): Unit =
    System.err.println(f"perfbench: +${(System.currentTimeMillis() - processStartMs) / 1000.0}%.1f s $what")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
