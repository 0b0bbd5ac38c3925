package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.SplittableRandom

import scala.collection.mutable

import graft.config.EntitySchema
import graft.jobs.{Executor, HandlerJob, IngestorJob, Pipelines}
import graft.meta.{FileMonitorStore, HandlerExecution, IngestorExecution, MonitorStore, StoreAdmin}
import graft.sinks.ParquetUpsertSink
import org.apache.spark.sql.Row

/** Seeded JSON-lines landing hours whose ground truth is known.
  *
  * Hour 0 is a normal batch into an empty warehouse (the cold hour);
  * hour 1 is a history batch `backfillFactor` times the normal size;
  * every later hour is a normal batch that also re-sends earlier keys
  * with new values (updates), repeats lines verbatim inside a file
  * (exact duplicates), and carries a few corrupt lines and lines for
  * an entity no schema declares. Every file's mtime falls inside its
  * hour. The model tracks, per table, the final row of every key,
  * which is what the warehouse must hold after the last hour. */
final case class EtlSize(normal: Int, backfillFactor: Int, hours: Int, filesPerHour: Int) {
  def tag: String = s"n$normal-b$backfillFactor-h$hours-f$filesPerHour"
}

final class EtlModel(val seed: Long, val size: EtlSize) {
  import EtlModel._

  val coldStart: Instant = IngestorJob.coldStart
  def hourStart(h: Int): Instant = coldStart.plusSeconds(3600L * h)

  private val built = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x5EEDL)
    val vehicles = IndexedSeq.fill(400)(new java.util.UUID(rng.nextLong(), rng.nextLong()).toString)
    val rows = Map(
      "vehicle_location" -> mutable.LinkedHashMap.empty[String, RawRow],
      "operating_periods" -> mutable.LinkedHashMap.empty[String, RawRow])
    val keyList = mutable.ArrayBuffer.empty[(String, String)]
    val filesB = IndexedSeq.newBuilder[IndexedSeq[(String, IndexedSeq[String])]]
    val linesB = IndexedSeq.newBuilder[Int]
    val entB = IndexedSeq.newBuilder[Int]
    val keysB = IndexedSeq.newBuilder[Map[String, Int]]
    var corrupt = 0
    var unknown = 0

    for (h <- 0 until size.hours) {
      val n = if (h == 1) size.normal * size.backfillFactor else size.normal
      val nFiles = if (h == 1) size.filesPerHour * 4 else size.filesPerHour
      val names = (0 until nFiles).map(f => f"h$h%03d-f$f%02d.json")
      val out = names.map(_ => mutable.ArrayBuffer.empty[String])
      val touched = mutable.HashSet.empty[(String, String)]
      var entityLines = 0
      val base = hourStart(h).getEpochSecond
      for (i <- 0 until n) {
        val f = i % nFiles
        val file = names(f)
        val roll = rng.nextInt(1000)
        if (roll < 5) {
          out(f) += corruptLine(rng, base)
          corrupt += 1
        } else if (roll < 15) {
          out(f) += s"""{"event": "update", "on": "depot", "at": "${iso(base - rng.nextInt(3600), 0)}", """ +
            s""""organization_id": "org-1", "data": {"id": "dep-${rng.nextInt(1000)}"}}"""
          unknown += 1
        } else {
          val update = h >= 2 && roll < 115 && keyList.nonEmpty
          val (table, key) =
            if (update) {
              var k = keyList(rng.nextInt(keyList.size))
              var tries = 0
              while (touched(k) && tries < 20) { k = keyList(rng.nextInt(keyList.size)); tries += 1 }
              if (touched(k)) freshKey(rng, rows, vehicles, h, base) else k
            } else freshKey(rng, rows, vehicles, h, base)
          if (!rows(table).contains(key)) keyList += ((table, key))
          touched += ((table, key))
          val (line, row) = event(rng, table, key, file)
          rows(table)(key) = row
          out(f) += line
          entityLines += 1
          // exact duplicate of this line, in the same file
          if (rng.nextInt(100) < 2) { out(f) += line; entityLines += 1 }
        }
      }
      filesB += names.zip(out.map(_.toIndexedSeq))
      linesB += out.map(_.size).sum
      entB += entityLines
      keysB += rows.keys.map(t => t -> touched.count(_._1 == t)).toMap
    }
    (filesB.result(), linesB.result(), entB.result(), keysB.result(), corrupt, unknown, rows)
  }

  /** Per hour: file name → lines, in write order. */
  val files: IndexedSeq[IndexedSeq[(String, IndexedSeq[String])]] = built._1
  /** Per hour: lines landed (all kinds). */
  val linesPerHour: IndexedSeq[Int] = built._2
  /** Per hour: lines the handler sees for a declared entity (dups included). */
  val entityLinesPerHour: IndexedSeq[Int] = built._3
  /** Per hour and table: distinct keys in that hour's batch. */
  val keysPerHour: IndexedSeq[Map[String, Int]] = built._4
  val corruptLines: Int = built._5
  val unknownLines: Int = built._6
  /** Final rows per table: key → row as raw values (lineage is a file
    * name, resolved against the landing directory by [[expected]]). */
  val finalRows: Map[String, mutable.LinkedHashMap[String, RawRow]] = built._7

  /** Short digest of every generated line. */
  def contentTag: String =
    Hashes.sha256Hex(files.flatten.map { case (n, l) => n + "\n" + l.mkString("\n") }.mkString("\u0000")).take(12)

  /** Write every hour's files under `dir` with mtimes inside the hour. */
  def writeTo(dir: File): Unit = {
    dir.mkdirs()
    files.zipWithIndex.foreach { case (hourFiles, h) =>
      hourFiles.zipWithIndex.foreach { case ((name, lines), f) =>
        val file = new File(dir, name)
        Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
        file.setLastModified(hourStart(h).toEpochMilli + 60000L + f * 1000L)
      }
    }
  }

  /** Expected warehouse content: table → canonical row strings, with
    * lineage resolved against the landing directory. */
  def expected(landing: File): Map[String, Seq[String]] =
    finalRows.map { case (table, rows) =>
      table -> rows.values.map(r => EtlCheck.canonical(r.resolve(landing))).toSeq
    }

  /** What the checks need, without the generated lines and rows. */
  def truth(landing: File): EtlTruth =
    EtlTruth(files.map(_.map(_._1)), linesPerHour, entityLinesPerHour, keysPerHour,
      expected(landing).map { case (t, rows) => t -> TableTruth.of(rows) }, coldStart)
}

/** Row count and order-free content hash of one table's canonical rows. */
final case class TableTruth(rows: Int, hash: Long)

object TableTruth {
  def of(rows: Seq[String]): TableTruth = TableTruth(rows.size, Hashes.unordered(rows))
}

/** The ground truth of an [[EtlModel]] in the form the workload keeps
  * while it runs: file names and counts per hour, and each table's
  * expected [[TableTruth]]. It holds no generated line, so the live
  * heap measured after the last hour is the program's, not the model's. */
final case class EtlTruth(
    fileNames: IndexedSeq[IndexedSeq[String]],
    linesPerHour: IndexedSeq[Int],
    entityLinesPerHour: IndexedSeq[Int],
    keysPerHour: IndexedSeq[Map[String, Int]],
    tables: Map[String, TableTruth],
    coldStart: Instant) {
  def hours: Int = fileNames.size
  def hourStart(h: Int): Instant = coldStart.plusSeconds(3600L * h)
}

/** One warehouse row before lineage resolution: column values in the
  * target table's column order; `file` is the landing file name. */
final case class RawRow(values: IndexedSeq[Any], file: String) {
  def resolve(landing: File): IndexedSeq[Any] =
    values :+ new File(landing, file).getAbsolutePath.stripPrefix("/")
}

object EtlModel {
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  def iso(epochSec: Long, millis: Int): String = {
    val s = isoFmt.format(Instant.ofEpochSecond(epochSec))
    if (millis == 0) s + "Z" else f"$s.$millis%03dZ"
  }

  def micros(epochSec: Long, millis: Int): Long = epochSec * 1000000L + millis * 1000L

  private def corruptLine(rng: SplittableRandom, base: Long): String =
    s"""{"event": "update", "on": "vehicle", "at": "${iso(base, 0).take(5 + rng.nextInt(10))}"""

  /** A key no earlier event used: (table, id|atMicros|atText). */
  private def freshKey(rng: SplittableRandom,
      rows: Map[String, mutable.LinkedHashMap[String, RawRow]],
      vehicles: IndexedSeq[String], h: Int, base: Long): (String, String) = {
    val table = if (rng.nextInt(100) < 75) "vehicle_location" else "operating_periods"
    var key = ""
    do {
      val id =
        if (table == "vehicle_location") vehicles(rng.nextInt(vehicles.size))
        else s"op_${rng.nextInt(300)}"
      // the history hour carries events from the previous 30 days
      val span = if (h == 1) 30 * 86400 else 3600
      val sec = base - 1 - rng.nextInt(span)
      val ms = if (rng.nextInt(10) == 0) 1 + rng.nextInt(999) else 0
      key = s"$id|$sec|$ms"
    } while (rows(table).contains(key))
    (table, key)
  }

  /** One event line for `key` with fresh payload values, and the row
    * the warehouse must hold for it if no later event re-sends it. */
  private def event(rng: SplittableRandom, table: String, key: String,
      file: String): (String, RawRow) = {
    val Array(id, secS, msS) = key.split('|')
    val sec = secS.toLong
    val ms = msS.toInt
    val at = iso(sec, ms)
    val org = s"org-${rng.nextInt(20)}"
    val orgText = if (rng.nextInt(10) == 0) s"  $org  " else org
    val atMicros = micros(sec, ms)
    if (table == "vehicle_location") {
      val kind = rng.nextInt(20)
      val op = if (kind == 0) "register" else if (kind == 1) "deregister" else "update"
      if (kind <= 1) {
        val line = s"""{"event": "$op", "on": "vehicle", "at": "$at", "organization_id": "$orgText", """ +
          s""""data": {"id": "$id"}}"""
        (line, RawRow(IndexedSeq(id, atMicros, op, org, null, null, null), file))
      } else {
        val lat = f"${52.3 + rng.nextInt(400000) / 1e6}%.6f"
        val lng = f"${13.1 + rng.nextInt(600000) / 1e6}%.6f"
        val locSec = sec - rng.nextInt(5)
        val line = s"""{"event": "$op", "on": "vehicle", "at": "$at", "organization_id": "$orgText", """ +
          s""""data": {"id": "$id", "location": {"lat": $lat, "lng": $lng, "at": "${iso(locSec, 0)}"}}}"""
        (line, RawRow(IndexedSeq(id, atMicros, op, org, lat.toDouble, lng.toDouble,
          micros(locSec, 0)), file))
      }
    } else {
      val op = if (rng.nextInt(10) == 0) "delete" else "create"
      val start = sec - sec % 3600 - 3600 * rng.nextInt(4)
      val finish = start + 3600 * (1 + rng.nextInt(12))
      val line = s"""{"event": "$op", "on": "operating_period", "at": "$at", "organization_id": "$orgText", """ +
        s""""data": {"id": "$id", "start": "${iso(start, 0)}", "finish": "${iso(finish, 0)}"}}"""
      (line, RawRow(IndexedSeq(id, atMicros, op, org, micros(start, 0), micros(finish, 0)), file))
    }
  }
}

/** The ETL checks, as pure functions over collected values so that the
  * self-test can hand them perturbed outputs. */
object EtlCheck {

  /** Canonical text of one warehouse row: timestamps as epoch micros,
    * doubles by `Double.toString`, nulls as `\N`; the key column
    * `event_generated_id` is recomputed, not read. */
  def canonical(values: IndexedSeq[Any]): String = {
    val vals = values.map {
      case null => "\\N"
      case d: Double => d.toString
      case other => other.toString
    }
    val at = values(1) match {
      case m: java.lang.Long => pandasStr(m)
      case _ => "None"
    }
    (vals :+ generatedId(String.valueOf(values(0)), at)).mkString("\u0001")
  }

  /** pandas `str()` of a timestamp given as epoch micros: whole seconds
    * print without a fraction, anything else with six digits. */
  def pandasStr(micros: Long): String = {
    val sec = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val base = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
      .format(Instant.ofEpochSecond(sec))
    if (frac == 0) base else f"$base.$frac%06d"
  }

  /** The reference's surrogate key: sha256 over the concatenated
    * pandas-`str` renderings of the key columns, first 32 hex digits
    * formatted as a UUID. */
  def generatedId(id: String, atRendered: String): String = {
    val h = Hashes.sha256Hex(id + atRendered)
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  /** Canonical rows of a warehouse table read back from parquet, plus
    * the rows whose stored `event_generated_id` differs from the
    * recomputed one. */
  def readTable(rows: Seq[Row], columns: Seq[String]): (Seq[String], Seq[String]) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val canon = rows.map { r =>
      val vals = columns.toIndexedSeq.map { c =>
        r.get(r.fieldIndex(c)) match {
          case t: java.sql.Timestamp => EtlCheck.tsMicros(t): Any
          case other => other
        }
      }
      val text = canonical(vals)
      val stored = r.getAs[String]("event_generated_id")
      if (stored != text.split("\u0001").last) bad += s"$stored != ${text.split("\u0001").last}"
      text
    }
    (canon, bad.toSeq)
  }

  def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** Warehouse content against the ground truth: row count and an
    * order-free content hash per table. */
  def warehouse(expected: Map[String, TableTruth], actual: Map[String, Seq[String]]): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (table, exp) =>
      val act = TableTruth.of(actual.getOrElse(table, Nil))
      val errs = mutable.ArrayBuffer.empty[String]
      if (act.rows != exp.rows) errs += s"$table: ${act.rows} rows, expected ${exp.rows}"
      if (act.hash != exp.hash) errs += s"$table: content hash ${act.hash}, expected ${exp.hash}"
      errs
    }

  /** Ingestor audit: one successful row per hour with that hour's file
    * count. `rows` is (fetched hour, files fetched, has traceback). */
  def ingestorAudit(expectedFiles: IndexedSeq[Int], hourOf: Int => Instant,
      rows: Seq[(Instant, Int, Boolean)]): Seq[(Int, String)] =
    expectedFiles.indices.flatMap { h =>
      rows.filter(_._1 == hourOf(h)) match {
        case Seq((_, n, false)) if n == expectedFiles(h) => Nil
        case Seq((_, n, tb)) =>
          Seq(h -> s"ingestor audit: $n files (traceback=$tb), expected ${expectedFiles(h)}")
        case other => Seq(h -> s"ingestor audit: ${other.size} rows, expected 1")
      }
    }

  /** Handler audit: one successful row per entity table per hour whose
    * `recordsInserted` is the number of distinct keys in that hour's
    * batch. `rows` is (hour, table, records inserted, has traceback). */
  def handlerAudit(expectedKeys: IndexedSeq[Map[String, Int]],
      rows: Seq[(Int, String, Long, Boolean)]): Seq[(Int, String)] =
    expectedKeys.indices.flatMap { h =>
      expectedKeys(h).toSeq.sortBy(_._1).flatMap { case (table, n) =>
        rows.filter(r => r._1 == h && r._2 == table) match {
          case Seq((_, _, got, false)) if got == n => Nil
          case Seq((_, _, got, tb)) =>
            Seq(h -> s"handler audit $table: $got records (traceback=$tb), expected $n")
          case other => Seq(h -> s"handler audit $table: ${other.size} rows, expected 1")
        }
      }
    }
}

/** The `etl_hourly` workload: `Executor.run --step all` over
  * consecutive landing hours in one JVM, parquet monitor store. */
object EtlHourly extends Workload {
  val name = "etl_hourly"
  /** The cold hour, the backfill hour, and one incremental hour per
    * 3.2 s of `--seconds` (at least three). The hour count follows from
    * `--seconds` alone, never from measured speed: the warehouse grows
    * hour over hour, so a time-bounded loop would hand slower code
    * smaller tables. */
  def size(seconds: Int): EtlSize =
    EtlSize(normal = 1000, backfillFactor = 20,
      hours = 2 + math.max(3, math.round(seconds / 3.2).toInt), filesPerHour = 4)

  private val columns: Map[String, Seq[String]] =
    EntitySchema.reference.map(s => s.targetTable -> s.columns.map(_.dstName)).toMap

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val size = this.size(ctx.seconds)
    val root = new File(ctx.workDir, "etl").getAbsolutePath
    val landing = new File(root, "landing")
    landing.mkdirs()
    // only the truth outlives generation: the model's lines stay out of the live heap
    val (truth, cache) = ctx.generating {
      val m = new EtlModel(ctx.seed, size)
      // keyed by content, so a changed generator never reuses stale files
      val cache = new File(ctx.cacheDir, s"etl-s${ctx.seed}-${size.tag}-${m.contentTag}")
      if (!new File(cache, "_DONE").exists()) {
        Harness.deleteRecursively(cache)
        m.writeTo(cache)
        new File(cache, "_DONE").createNewFile()
      }
      (m.truth(landing), cache)
    }
    val layerAcc = new EtlLayers(ctx, root, landing)
    ParquetUpsertSink.resetIoStats()

    for (h <- 0 until size.hours) {
      // files land hour by hour, so the listing grows with history
      truth.fileNames(h).foreach { fname =>
        val src = new File(cache, fname).toPath
        val dst = new File(landing, fname).toPath
        try Files.createLink(dst, src)
        catch { case _: Exception =>
          Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
          dst.toFile.setLastModified(src.toFile.lastModified())
        }
      }
      val op = s"hour$h"
      out.attempted += 1
      ctx.markFirstOp()
      val t0 = System.nanoTime()
      try {
        ctx.tracer.span(op, "jobs") {
          if (ctx.trace) layerAcc.tracedHour(java.util.UUID.randomUUID().toString)
          else Executor.run(spark, Executor.Args(step = "all", root = root,
            landing = Some(landing.getAbsolutePath)))
        }
      } catch {
        case e: Exception => out.fail(op, e.toString.take(300))
      }
      val secs = Harness.secondsSince(t0)
      ctx.progress(f"$op done in $secs%.2f s")
      if (h == 0) out.figures += Figure("etl_cold_hour_s", secs, "s", 1)
      else if (h == 1)
        out.figures += Figure("etl_backfill_events_per_s", truth.linesPerHour(h) / secs, "events/s", 1)
      else {
        out.opSeconds += secs
        out.items += truth.linesPerHour(h)
        out.itemSeconds += secs
      }
      if (ctx.trace) layerAcc.countCorrupt()
    }
    out.liveHeapMb = Harness.liveHeapMb()
    ctx.progress("last hour done, checking outputs")
    out.figures += Figure("etl_hour_p50_s", Stats.median(out.opSeconds.toSeq), "s", out.opSeconds.size)
    out.figures += Figure("etl_events_per_s", out.items / out.itemSeconds, "events/s", out.opSeconds.size)

    check(ctx, out, truth, root)
    if (ctx.trace) layerAcc.report(out, truth)
  }

  private def check(ctx: Ctx, out: Outcome, truth: EtlTruth, root: String): Unit = {
    val spark = ctx.spark
    val last = s"hour${truth.hours - 1}"
    val actual = truth.tables.keys.map { t =>
      val rows = spark.read.parquet(s"$root/tables/$t").collect().toSeq
      val (canon, badIds) = EtlCheck.readTable(rows, columns(t))
      badIds.take(3).foreach(b => out.fail(last, s"$t event_generated_id $b"))
      val leaked = rows.count(r => Option(r.get(0)).forall(_.toString.startsWith("dep-")))
      if (leaked > 0) out.fail(last, s"$t holds $leaked corrupt or unknown-entity rows")
      t -> canon
    }.toMap
    EtlCheck.warehouse(truth.tables, actual).foreach(out.fail(last, _))

    val store = new FileMonitorStore(spark, s"$root/monitor")
    val ing = store.ingestorRows()
    val ingRows = ing.map(r => (r.getAs[java.sql.Timestamp]("fetchedHour").toInstant,
      r.getAs[Int]("numberOfFilesFetched"), r.getAs[String]("traceback") != null))
    EtlCheck.ingestorAudit(truth.fileNames.map(_.size), truth.hourStart, ingRows)
      .foreach { case (h, m) => out.fail(s"hour$h", m) }
    val hourOfWorkflow = ing.map(r => r.getAs[String]("workflowId") ->
      ((r.getAs[java.sql.Timestamp]("fetchedHour").toInstant.getEpochSecond -
        truth.coldStart.getEpochSecond) / 3600).toInt).toMap
    val hand = store.handlerRows().map(r => (hourOfWorkflow.getOrElse(r.getAs[String]("workflowId"), -1),
      r.getAs[String]("destinationTable"), r.getAs[Long]("recordsInserted"),
      r.getAs[String]("traceback") != null))
    EtlCheck.handlerAudit(truth.keysPerHour, hand).foreach { case (h, m) => out.fail(s"hour$h", m) }
    val cursor = store.lastSuccessfulFetchHour()
    if (!cursor.contains(truth.hourStart(truth.hours - 1)))
      out.fail(last, s"cursor at $cursor, expected ${truth.hourStart(truth.hours - 1)}")
  }
}

/** Timing wrapper around the parquet monitor store for the traced run:
  * each store call becomes a `meta.<call>` span. */
final class TimedStore(inner: FileMonitorStore, tracer: Tracer) extends MonitorStore with StoreAdmin {
  private def t[T](call: String)(body: => T): T = tracer.span(s"meta.$call", "meta")(body)
  def lastSuccessfulFetchHour(): Option[Instant] = t("lastSuccessfulFetchHour")(inner.lastSuccessfulFetchHour())
  def stagedFilePath(workflowId: String): Option[String] = t("stagedFilePath")(inner.stagedFilePath(workflowId))
  def recordIngestor(row: IngestorExecution): Unit = t("recordIngestor")(inner.recordIngestor(row))
  def recordHandler(row: HandlerExecution): Unit = t("recordHandler")(inner.recordHandler(row))
  def targetTableExists(table: String): Boolean = t("targetTableExists")(inner.targetTableExists(table))
  def migrate(tables: Seq[String]): Unit = t("migrate")(inner.migrate(tables))
  def ingestorRows(): Seq[Row] = inner.ingestorRows()
  def handlerRows(): Seq[Row] = inner.handlerRows()
}

/** Traced ETL hour and the ETL layers' figures. */
final class EtlLayers(ctx: Ctx, root: String, landing: File) {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var rowsOut = 0L
  private var filesListed = 0L
  private var filesMatched = 0L
  private var corrupt = 0L
  private var lastStaged: Option[String] = None
  private val hourSpans = mutable.ArrayBuffer.empty[Int]

  /** `Executor.run`'s call sequence with the store wrapped. */
  def tracedHour(wf: String): Unit = {
    hourSpans += tracer.current.get.id
    val store = new TimedStore(new FileMonitorStore(spark, s"$root/monitor",
      warehouseDir = Some(s"$root/tables")), tracer)
    val schemas = EntitySchema.reference
    store.migrate(schemas.map(_.targetTable))
    val source = Pipelines.unionSourceStruct(schemas)
    val ing = tracer.span("jobs.ingestor", "jobs") {
      IngestorJob.run(spark, store, landing.getAbsolutePath, s"$root/staging", source, wf)
    }
    lastStaged = ing.stagedPath
    filesMatched += ing.filesFetched
    filesListed += Option(landing.list()).map(_.count(_.endsWith(".json"))).getOrElse(0)
    val res = tracer.span("jobs.handler", "jobs") {
      HandlerJob.run(spark, store, s"$root/tables", schemas, wf)
    }
    rowsOut += res.recordsInserted.values.sum
  }

  /** Corrupt lines in the hour's staged batch, counted outside its span. */
  def countCorrupt(): Unit =
    lastStaged.foreach { p =>
      corrupt += spark.read.parquet(p)
        .filter(org.apache.spark.sql.functions.col(graft.sources.JsonLinesSource.corruptCol).isNotNull)
        .count()
    }

  def report(out: Outcome, truth: EtlTruth): Unit = {
    val a = Layers.analyze(tracer)
    val hours = hourSpans.size.toDouble
    def perHour(spanName: String): Double =
      tracer.spans.filter(_.name == spanName).map(s => (s.end - s.start) / 1000).sum / hours
    def add(name: String, v: Double, unit: String, n: Int = hourSpans.size): Unit =
      out.layers += Figure(name, v, unit, n)
    add("jobs.ingestor_s", perHour("jobs.ingestor"), "s")
    add("jobs.handler_s", perHour("jobs.handler"), "s")
    add("sources.files_listed", filesListed.toDouble, "count")
    add("sources.files_matched", filesMatched.toDouble, "count")
    add("sources.job_s", a.jobSeconds("sources") / hours, "s")
    add("sources.input_mb", a.layerIo("sources").input / 1048576.0, "MB")
    add("sources.corrupt_lines", corrupt.toDouble, "count")
    add("operators.job_s", a.jobSeconds("operators") / hours, "s")
    add("operators.rows_in", truth.entityLinesPerHour.sum.toDouble, "count")
    add("operators.rows_out", rowsOut.toDouble, "count")
    add("operators.shuffle_mb", a.layerIo("operators").shuffle / 1048576.0, "MB")
    val io = ParquetUpsertSink.ioStats
    add("sinks.job_s", a.jobSeconds("sinks") / hours, "s")
    add("sinks.promote_s", io.promoteSec / hours, "s")
    add("sinks.files_written", io.filesWritten.toDouble, "count")
    add("sinks.rows_written_per_row_in", a.layerIo("sinks").outRecords / math.max(1.0, rowsOut.toDouble), "ratio")
    add("sinks.output_mb", a.layerIo("sinks").output / 1048576.0, "MB")
    Seq("lastSuccessfulFetchHour", "stagedFilePath", "recordIngestor", "recordHandler",
      "targetTableExists", "migrate").foreach(c => add(s"meta.${c}_s", perHour(s"meta.$c"), "s"))
    def countFiles(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    add("meta.files", countFiles(new File(root, "monitor")).toDouble, "count", 1)
    a.report(out)
  }
}
