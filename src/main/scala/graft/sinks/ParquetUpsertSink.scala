package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent keyed upsert onto a parquet table (reference op K-2,
  * `src/helper/postgres.py:157-189`: `INSERT ... ON CONFLICT (key) DO
  * UPDATE`, last write wins per key, committed all or nothing).
  *
  * Strategy is merge-on-write: one keyed pick over the batch and the
  * live rows keeps one row per key, the incoming row over the live one
  * and, inside the batch, the max-`orderCol` row ([[prepare]]); the
  * picked rows are staged and promoted (below).
  *
  * Scale posture: without a partition column the upsert rewrites the
  * whole table — correct but O(table) per batch, fine for entity
  * tables far smaller than the event stream. With one the table is
  * hive-partitioned (e.g. by event date): only the partitions present
  * in the batch are read, picked, staged and promoted, and untouched
  * partitions are never rewritten. The pick is a single shuffle and a
  * sort, with no join and no aggregation buffer; the rewrite has one
  * file per reduce partition of that shuffle as adaptive execution
  * coalesces it (one per touched partition in the partitioned form).
  *
  * One commit protocol for both forms, and for every table the repo
  * keeps. The rows are staged to `<table>__staging`, complete only
  * once Spark's `_SUCCESS` marker lands, then promoted unit by unit.
  * The writer states the form: a unit is the staging directory itself
  * (the whole table), or each `col=value` child of it (one partition).
  * Per unit the live unit, if there is one, moves under
  * `<table>__backup` (a whole table becomes that directory itself),
  * then the staged unit moves into the live table; the backup and the
  * staging are deleted last. The partitioned promote creates the
  * backup directory before its first move, so an existing backup
  * always means "the promote began"; a partitioned write with no rows
  * stages no partition and leaves the live table as it was.
  * [[recover]] reads the unit shape from the directories and settles a
  * crash at any step on the pre-write or the post-write rows, never a
  * mix; every write and every [[read]] runs it first.
  *
  * Callers: [[upsert]] ([[prepare]], then [[Prepared.commit]]) lands
  * the hourly product's entities ([[graft.jobs.HandlerJob]] prepares
  * them concurrently, commits in its own order), the ETL registry
  * queries and the keyed streams; [[stageAndPromote]] lands every
  * other stream's batch (one `__batch_id` partition) and the SCD2
  * history; [[read]], the committed read, serves [[prepare]],
  * `StreamingEtl.priorState` and the SCD2 history.
  */
object ParquetUpsertSink {

  /** IO attribution for the scale bench and perfbench's sink layer.
    * Accumulated per upsert call, reset by the harness around a
    * measured query: `filesWritten` counts the data files each promote
    * moved into the live table (the whole table without a partition
    * column, the touched partitions with one; FS-metadata work scales
    * with it), `promoteSec` is time spent in the rename/delete state
    * machine AFTER the merged write completed (pure commit cost, no
    * compute). */
  case class UpsertIo(calls: Long, filesWritten: Long, promoteSec: Double) {
    def json: String =
      s"""{"calls":$calls,"files_written":$filesWritten,""" +
        s""""promote_sec":${math.rint(promoteSec * 1000) / 1000}}"""
  }
  private val ioAcc =
    new java.util.concurrent.atomic.AtomicReference(UpsertIo(0, 0, 0.0))
  def resetIoStats(): Unit = ioAcc.set(UpsertIo(0, 0, 0.0))
  def ioStats: UpsertIo = ioAcc.get()
  private def recordIo(files: Long, promoteSec: Double): Unit =
    ioAcc.updateAndGet(cur =>
      UpsertIo(cur.calls + 1, cur.filesWritten + files, cur.promoteSec + promoteSec))

  /** A name Spark's parquet reader skips: it starts with `.`, or with
    * `_` and is not a hive partition dir (`__batch_id=0` is visible;
    * `_SUCCESS`, `_temporary`, `.crc` files are not). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** Data files under `dir` that Spark's parquet reader would see,
    * recursive, lazily; a [[hidden]] dir hides everything under it.
    * `listStatus` recursion, not `listFiles(recursive)`: the latter
    * builds LocatedFileStatus, which some FileSystem implementations
    * (including the local-FS wrapper the FS-contract tests drive
    * through a custom scheme) cannot serve. */
  private[graft] def visibleDataFiles(f: FileSystem, dir: Path): Iterator[Path] = {
    def walk(p: Path): Iterator[Path] =
      f.listStatus(p).iterator.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Iterator.single(s.getPath)
      }
    if (f.exists(dir)) walk(dir) else Iterator.empty
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live table's data schema, from the footer of one of its
    * data files, read on the driver. `spark.read.parquet` infers it
    * from one file's footer too, with the same conversion
    * (`readSchemaFromFooter` under the session's parquet settings),
    * but in a one-task Spark job. Partition columns are not in the
    * footer; the read still infers them from the directory names. */
  private def footerSchema(spark: SparkSession, file: Path): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** HDFS-style FileSystem calls signal some failures by RETURNING
    * false rather than throwing (e.g. rename onto an existing path) —
    * and the promote state machine must never advance past a
    * transition that did not happen: a silently-failed
    * rename(table→backup) followed by rename(staging→table) would
    * move the staging dir INSIDE the still-live table dir. Every
    * transition goes through these, which throw on false so a failed
    * step aborts in a state [[recover]] models. */
  private[graft] def renameOrThrow(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  private[graft] def deleteOrThrow(f: FileSystem, p: Path): Unit =
    if (!f.delete(p, true) && f.exists(p))
      throw new java.io.IOException(s"delete failed: $p")

  private def stagingPath(tablePath: String): String =
    tablePath.stripSuffix("/") + "__staging"
  private def backupPath(tablePath: String): String =
    tablePath.stripSuffix("/") + "__backup"

  /** True iff `path` holds a COMPLETE Spark write (its `_SUCCESS`
    * commit marker landed). */
  private def isComplete(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path.stripSuffix("/") + "/_SUCCESS"))

  /** The visible `col=value` child dirs of a listing: one per hive
    * partition. */
  private def partitionDirs(listing: Seq[FileStatus]): Seq[Path] =
    listing.filter { s =>
      val name = s.getPath.getName
      s.isDirectory && name.contains("=") && !hidden(name)
    }.map(_.getPath)

  /** Promote the complete staging `s` into the live table `t` unit by
    * unit (class doc; `partitioned` names the form), then drop the
    * backup `b` and `s`; returns the data files promoted, counted from
    * the promote's own listing. A unit already moved is no longer
    * staged, so [[recover]] rolls a half-done promote forward through
    * the same loop. */
  private def promote(f: FileSystem, t: Path, s: Path, b: Path, partitioned: Boolean): Long = {
    val listing = f.listStatus(s).toSeq
    val parts = partitionDirs(listing)
    // (staged, live, backup) per unit
    val units =
      if (!partitioned) Seq((s, t, b))
      else parts.map(u => (u, new Path(t, u.getName), new Path(b, u.getName)))
    if (parts.nonEmpty && partitioned) {
      f.mkdirs(b)
      f.mkdirs(t)
    }
    val files =
      if (!partitioned) listing.count(st => st.isFile && !hidden(st.getPath.getName))
      else parts.map(visibleDataFiles(f, _).size).sum
    units.foreach { case (staged, live, backup) =>
      if (f.exists(live)) renameOrThrow(f, live, backup)
      renameOrThrow(f, staged, live)
    }
    if (f.exists(b)) deleteOrThrow(f, b)
    if (f.exists(s)) deleteOrThrow(f, s)
    files.toLong
  }

  /** Settle the promote state machine after a crash (T = live table,
    * S = staging, B = backup; the unit shape comes from the
    * directories, as an empty partitioned write never makes B):
    *  - complete S and B: the promote began — roll forward the units
    *    still in S. S with no unit left beside a live T is a finished
    *    partitioned promote; only its cleanup (below) remains;
    *  - S and no B, or an incomplete S: the promote never began, the
    *    batch never took effect — drop S (the next upsert re-picks);
    *  - B and no S: every staged unit was promoted — restore any
    *    backed-up unit with no live twin (a whole-table B with no T),
    *    then drop B.
    */
  def recover(spark: SparkSession, tablePath: String): Unit = {
    val f = fs(spark, tablePath)
    val t = new Path(tablePath)
    val s = new Path(stagingPath(tablePath))
    val b = new Path(backupPath(tablePath))
    lazy val staged = partitionDirs(f.listStatus(s).toSeq).nonEmpty
    if (f.exists(s) && f.exists(b) && isComplete(spark, s.toString) && (staged || !f.exists(t))) {
      promote(f, t, s, b, partitioned = staged)
    } else {
      if (f.exists(s)) deleteOrThrow(f, s)
      if (f.exists(b)) {
        val parts = partitionDirs(f.listStatus(b).toSeq)
        val units = if (parts.isEmpty) Seq((b, t)) else parts.map(u => (u, new Path(t, u.getName)))
        units.foreach { case (backup, live) =>
          if (!f.exists(live)) {
            f.mkdirs(live.getParent)
            renameOrThrow(f, backup, live)
          }
        }
        if (f.exists(b)) deleteOrThrow(f, b)
      }
    }
  }

  /** Null keys are refused before anything is staged. The pick would
    * put every null-keyed row, batch and live, in one window group and
    * keep one of them; the reference's key column cannot hold a null
    * at all. Keys are generated surrogates (upstream contract), so a
    * null here is a bug: fail loudly, the same posture the partitioned
    * form takes for null partition values. One key-column-pruned scan
    * with an immediate limit-1, a short-circuit job of its own: a probe
    * folded into an aggregate measured 1.87x slower on the sf100 cell
    * (`EXP_UPSERT_QUIET_SF100.json` vs `EXP_UPSERT_PREFOLD_SF100.json`).
    * On a key the plan knows is non-null (KeyGen's) the filter folds to
    * an empty local scan and runs no job. */
  private def requireNonNullKeys(batch: DataFrame, key: String): Unit =
    require(batch.filter(col(key).isNull).isEmpty,
      s"null values in upsert key column '$key' are unsupported (the " +
        "keyed pick cannot match them); keys are generated surrogates — " +
        "fix the key derivation upstream")

  /** A batch [[prepare]] picked and staged under `<table>__staging`.
    * Nothing of it is visible until [[commit]]. A handle never
    * committed leaves a staging with no backup, which the next
    * upsert's [[recover]] drops. */
  final class Prepared private[ParquetUpsertSink] (
      spark: SparkSession, tablePath: String, partitioned: Boolean, rows: Long) {

    /** Promote the staging into the live table (class doc), record
      * the promote in [[ioStats]] and return the batch rows the pick
      * kept. */
    def commit(): Long = {
      val (files, promoteSec) = promoteStaged(spark, tablePath, partitioned)
      recordIo(files, promoteSec)
      rows
    }
  }

  /** Merge-on-write upsert: [[prepare]] then [[Prepared.commit]].
    * Returns the batch rows the pick kept, one per key. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      tablePath: String,
      key: String,
      orderCol: Option[String] = None,
      partitionCol: Option[String] = None): Long =
    prepare(spark, batch, tablePath, key, orderCol, partitionCol).commit()

  /** The committed rows of the table at `tablePath`: [[recover]], then
    * a read with the schema of one data file's footer ([[footerSchema]]),
    * so no schema-inference job runs. None while no data file is
    * visible: no table, a bare directory, or only a crashed write's
    * `_temporary` debris (which a schema-inferring read would fail on,
    * every retry). Partition columns come from the directory names. */
  def read(spark: SparkSession, tablePath: String): Option[DataFrame] = {
    recover(spark, tablePath)
    visibleDataFiles(fs(spark, tablePath), new Path(tablePath)).nextOption()
      .map(file => spark.read.schema(footerSchema(spark, file)).parquet(tablePath))
  }

  /** The upsert up to its promote: [[read]] the table, pick one row
    * per key from the batch and the live rows, and stage the result.
    * Every write, the first into an empty table included, is staged.
    * Two prepares into one table at once would share its staging; into
    * different tables they are independent.
    *
    * The pick: the batch rows, tagged `__pri = 1`, and the live rows,
    * tagged `__pri = 0`, meet in one `unionByName`, and
    * [[graft.operators.Dedup.firstOccurrence]] on the key keeps one row
    * per key, ordered by `__pri` desc, then (with `orderCol`)
    * `orderCol` desc nulls last, then `__tb` desc. So the incoming row wins per key
    * (the reference's `ON CONFLICT (key) DO UPDATE`, which never
    * inserts a second row for a key). Inside the batch, without
    * `orderCol` the surviving row is arbitrary; with it the
    * max-`orderCol` row wins, a null `orderCol` loses to any non-null
    * one, and a tie goes to the highest `__tb`, the `xxhash64` of the
    * batch row's own columns, computed before the union so that its
    * type widening cannot change the winner. Exact duplicates collapse
    * to one row, and so do two DISTINCT rows tying on (`orderCol`,
    * 64-bit hash): about 2^-64 per tying pair, the repo's accepted
    * 8-byte-hash collision bound. The union needs every column on both
    * sides: a batch with a column the table lacks, or without one it
    * has, fails with an `AnalysisException` before anything is staged.
    *
    * The plan is one exchange by key and a sort: Spark plans that
    * pick's `row_number() = 1` filter as a window group limit, with no
    * aggregation buffer, so it spills like a sort. No join runs, and
    * none of the sf100 lessons of the older plans is undone: no forced
    * join hint (a hash build has no spill path), no variable-length
    * aggregation buffer (those fall back to sort-based aggregation and
    * spilled tens of GB). The staged table gets one data file per
    * reduce partition of that exchange, as adaptive execution
    * coalesces them.
    *
    * With `partitionCol` the table is hive-partitioned by it and only
    * the partitions the batch touches are read, rewritten and promoted.
    * The union is repartitioned by `partitionCol` and the window is
    * partitioned by (`partitionCol`, key), which that exchange already
    * satisfies: still one exchange, and one file per partition.
    * Contract: the partition-column value of a key must be immutable
    * across batches (true when it is derived from the key's own
    * columns, e.g. `event_date = date(ts)` under a `(user_id, ts)`
    * key). A key that moved to another partition would keep its old
    * copy there: only the touched partitions are read, and a key is
    * picked per partition, so one that moved between two touched
    * partitions keeps a copy in each. A column whose type differs from
    * the live files' fails before staging ([[requireLiveTypes]]).
    *
    * The handle's count is the batch rows the pick kept: the distinct
    * keys the batch inserts or updates. It is observed on the staged
    * write itself (`Dataset.observe`), so it costs no job. The live
    * rows come from [[read]], so no schema-inference job runs. */
  def prepare(
      spark: SparkSession,
      batch: DataFrame,
      tablePath: String,
      key: String,
      orderCol: Option[String] = None,
      partitionCol: Option[String] = None): Prepared = {
    // the staged write reads the live table, so it can't overwrite it
    // in place; an empty table has nothing to pick from
    val committed = read(spark, tablePath)
    requireNonNullKeys(batch, key)
    val tagged = {
      val b = batch.withColumn("__pri", lit(1))
      orderCol.fold(b)(_ => b.withColumn("__tb", xxhash64(batch.columns.toIndexedSeq.map(col): _*)))
    }
    val both = committed match {
      case None => tagged
      case Some(live) =>
        val l = partitionCol.fold(live)(p =>
          live.filter(col(p).cast("string").isInCollection(touchedPartitions(batch, p))))
          .withColumn("__pri", lit(0))
        val union = tagged.unionByName(orderCol.fold(l)(_ => l.withColumn("__tb", lit(null).cast("long"))))
        partitionCol.foreach(requireLiveTypes(union, live.schema, _, tablePath))
        union
    }
    val rows = Observation()
    val picked = Dedup.firstOccurrence(partitionCol.fold(both)(p => both.repartition(col(p))),
        partitionCol.toSeq.map(col) :+ col(key),
        col("__pri").desc +: orderCol.toSeq.flatMap(o => Seq(col(o).desc_nulls_last, col("__tb").desc)))
      .observe(rows, count(when(col("__pri") === 1, 1)).as("rows"))
      .drop("__pri", "__tb")
    stage(picked, tablePath, partitionCol)
    new Prepared(spark, tablePath, partitionCol.isDefined, rows.get("rows").asInstanceOf[Long])
  }

  /** The partitioned form rewrites only the touched partitions, so a
    * column the union would write with another type than the live
    * files' (`live`, the footer schema plus the partition column
    * `partitionCol`, whose type the directory names only suggest) would
    * leave two types in one table, which no read reconciles: fail
    * before staging, naming the column. */
  private def requireLiveTypes(
      union: DataFrame, live: StructType, partitionCol: String, tablePath: String): Unit =
    for (f <- union.schema.fields if f.name != partitionCol;
         l <- live.find(_.name == f.name) if l.dataType.sql != f.dataType.sql)
      throw new IllegalArgumentException(s"column '${f.name}' is ${l.dataType.sql} in the " +
        s"partitioned table at $tablePath and would be written as ${f.dataType.sql}; the " +
        "partitioned upsert rewrites only the touched partitions, so it cannot change a column's type")

  /** Partition values the batch touches (a small list, collected
    * driver-side), read off the raw batch: under the
    * immutable-partition contract every row of a key carries the same
    * value, so the pick changes nothing here. Values are compared as
    * STRINGS throughout: hive-style partition reads type-infer the
    * partition column (e.g. "2022-11-24" → DateType) while the
    * in-flight batch may carry it as a string, and a mixed-type Set
    * would silently never match — string form is also what names the
    * directory. NULL partition values are unsupported: hive writes
    * them as the __HIVE_DEFAULT_PARTITION__ directory, which this
    * string comparison would not match — fail loudly instead of
    * merging the wrong partitions. */
  private def touchedPartitions(batch: DataFrame, partitionCol: String): Seq[String] = {
    val vs = batch.select(col(partitionCol).cast("string")).distinct()
      .collect().map(r => Option(r.getString(0))).toSeq
    require(vs.forall(_.isDefined),
      s"null values in partition column '$partitionCol' are unsupported " +
        "by the partitioned upsert (hive default partition); filter or " +
        "default them upstream")
    vs.flatten
  }

  /** Write `df` (partitioned by `partitionCol`, if given) to the
    * staging of the table at `tablePath`; complete once Spark's
    * `_SUCCESS` marker lands. */
  private def stage(df: DataFrame, tablePath: String, partitionCol: Option[String]): Unit =
    df.write.partitionBy(partitionCol.toSeq: _*).mode("overwrite").parquet(stagingPath(tablePath))

  /** [[promote]] the complete staging of the table at `tablePath` in
    * the form `partitioned` names; returns the data files promoted and
    * the seconds it took. */
  private def promoteStaged(spark: SparkSession, tablePath: String, partitioned: Boolean): (Long, Double) = {
    val t0 = System.nanoTime()
    val files = promote(fs(spark, tablePath), new Path(tablePath),
      new Path(stagingPath(tablePath)), new Path(backupPath(tablePath)), partitioned)
    (files, (System.nanoTime() - t0) / 1e9)
  }

  /** Replace the table at `tablePath` with `df` (or, with
    * `partitionCol`, the partitions `df` holds: none when `df` is
    * empty) through [[recover]] and the staged, per-unit promote of
    * the class doc. Records no [[ioStats]]; returns the data files
    * promoted and the seconds spent after the staged write. */
  private[graft] def stageAndPromote(
      spark: SparkSession, df: DataFrame, tablePath: String,
      partitionCol: Option[String] = None): (Long, Double) = {
    recover(spark, tablePath)
    stage(df, tablePath, partitionCol)
    promoteStaged(spark, tablePath, partitionCol.isDefined)
  }
}
