package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent keyed upsert onto a parquet table (reference op K-2,
  * `src/helper/postgres.py:157-189`: `INSERT ... ON CONFLICT (key) DO
  * UPDATE`, last write wins per key, committed all or nothing).
  *
  * Strategy is merge-on-write:
  *  1. dedup the incoming batch to one row per key (last-write-wins
  *     inside a batch, like the reference's sequential executemany);
  *  2. keep every batch row and anti-join the live rows against the
  *     batch's keys (incoming wins per key; no aggregation state);
  *  3. stage the merged rows and promote them (below).
  *
  * Scale posture: without a partition column the upsert rewrites the
  * whole table — correct but O(table) per batch, fine for entity
  * tables far smaller than the event stream. With one the table is
  * hive-partitioned (e.g. by event date): only the partitions present
  * in the batch are read, merged, staged and promoted, and untouched
  * partitions are never rewritten. The merge itself is a single
  * shuffle by key.
  *
  * One commit protocol for both forms. The merged rows are staged to
  * `<table>__staging`, complete only once Spark's `_SUCCESS` marker
  * lands, then promoted unit by unit. A unit is a `col=value` child of
  * the staging directory (one partition), or the staging directory
  * itself when it has no such child (the whole table). Per unit the
  * live unit, if there is one, moves under `<table>__backup` (a whole
  * table becomes that directory itself), then the staged unit moves
  * into the live table; the backup and the staging are deleted last.
  * The partitioned promote creates the backup directory before its
  * first move, so an existing backup always means "the promote
  * began". [[recover]] (called at the start of every upsert) reads the
  * unit shape from the directories and settles a crash at any step on
  * the pre-batch or the post-batch rows, never a mix.
  *
  * [[upsert]] is [[prepare]] (recover, dedup, merge, staged write)
  * then [[Prepared.commit]] (the promote). A caller that writes
  * several tables can prepare them concurrently and commit them in
  * its own order ([[graft.jobs.HandlerJob]]).
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
  private[graft] def isComplete(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path.stripSuffix("/") + "/_SUCCESS"))

  /** The visible `col=value` child dirs of a listing: one per hive
    * partition. */
  private def partitionDirs(listing: Seq[FileStatus]): Seq[Path] =
    listing.filter { s =>
      val name = s.getPath.getName
      s.isDirectory && name.contains("=") && !hidden(name)
    }.map(_.getPath)

  /** Promote the complete staging `s` into the live table `t` unit by
    * unit (class doc), then drop the backup `b` and `s`; returns the
    * data files promoted, counted from the promote's own listing.
    * A unit already moved is no longer staged, so [[recover]] rolls a
    * half-done promote forward through the same loop. */
  private def promote(f: FileSystem, t: Path, s: Path, b: Path): Long = {
    val listing = f.listStatus(s).toSeq
    val parts = partitionDirs(listing)
    // (staged, live, backup) per unit
    val units =
      if (parts.isEmpty) Seq((s, t, b))
      else {
        f.mkdirs(b)
        f.mkdirs(t)
        parts.map(u => (u, new Path(t, u.getName), new Path(b, u.getName)))
      }
    val files =
      if (parts.isEmpty) listing.count(st => st.isFile && !hidden(st.getPath.getName))
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
    * directories, see the class doc):
    *  - complete S and B: the promote began — roll forward the units
    *    still in S. S with no unit left beside a live T is a finished
    *    partitioned promote; only its cleanup (below) remains;
    *  - S and no B, or an incomplete S: the promote never began, the
    *    batch never took effect — drop S (the next upsert re-merges);
    *  - B and no S: every staged unit was promoted — restore any
    *    backed-up unit with no live twin (a whole-table B with no T),
    *    then drop B.
    */
  def recover(spark: SparkSession, tablePath: String): Unit = {
    val f = fs(spark, tablePath)
    val t = new Path(tablePath)
    val s = new Path(stagingPath(tablePath))
    val b = new Path(backupPath(tablePath))
    if (f.exists(s) && f.exists(b) && isComplete(spark, s.toString) &&
        (partitionDirs(f.listStatus(s).toSeq).nonEmpty || !f.exists(t))) {
      promote(f, t, s, b)
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

  /** One row per key in the batch — UNCONDITIONALLY (the table's
    * key-unique invariant must hold whatever the batch contains,
    * matching the reference's `ON CONFLICT (key) DO UPDATE`, which
    * can never insert a second row for a key). Without `orderCol`
    * the surviving row is arbitrary (`dropDuplicates`); with it the
    * max-`orderCol` row wins ("last" made explicit), rows tying on
    * the max settle on the highest full-row `xxhash64` (deterministic;
    * exact byte-duplicates collapse to one). Rows whose `orderCol` is
    * NULL lose to any non-null row for the same key and fall back to
    * the hash tie-break when the whole key group is null — never
    * silently dropped (max() ignores nulls, so the winner join is
    * null-SAFE on `orderCol`).
    *
    * Shape: the hot path is UNCHANGED from the pre-tie-break form —
    * one narrow `max(o)` aggregate (fixed-width buffer) plus one
    * null-SAFE semi-join of the batch against the winners. The tie
    * machinery (a full-row-hash argmax + an all-column distinct —
    * two more batch-wide exchanges) runs ONLY when the invariant
    * probe finds a duplicate `(key, orderCol)` pair anywhere in the
    * batch. The probes are TWO deliberately separate short-circuit
    * jobs — a no-shuffle null-key scan (`filter(isNull).isEmpty`) and
    * a grouped dup probe behind a limit-1 — NOT one folded aggregate:
    * the fold ("one probe job answers both invariants", tried after
    * a round-12 job-count observation) was MEASURED 1.87× slower on
    * the sf100 cell (331 s folded vs 177 s split, same host, fresh
    * JVMs, min-of-2, byte-identical shuffle/spill/input — the eager
    * nested two-level aggregate costs far more wall than the extra
    * short-circuit pass it saves; `EXP_UPSERT_QUIET_SF100.json` vs
    * `EXP_UPSERT_PREFOLD_SF100.json`). The documented-unique common
    * case pays metadata-width scans only, never the extra wide
    * shuffles (the sf100 upsert cells are the registry's heaviest
    * rows — doubling their shuffle for a contract-violation path
    * would regress the ladder for nothing). Every aggregation buffer
    * on either path is FIXED-WIDTH — `max(o)`, `count`, `max(__tb)`
    * (8-byte row hash), and the final all-column distinct (grouping
    * keys only, EMPTY buffer) — so nothing here ever falls back to
    * sort-based aggregation (the semantic-dedup argmax lesson; the
    * previous `max_by(struct(all columns))` form spilled tens of GB
    * at sf100 through exactly that fallback). Tie-break trade: two
    * DISTINCT tying rows sharing a 64-bit full-row hash would both
    * survive — ~2⁻⁶⁴ per tying pair, the repo's standard accepted
    * 8-byte-hash collision bound. */
  private def dedupBatch(batch: DataFrame, key: String, orderCol: Option[String]): DataFrame =
    orderCol match {
      case Some(o) =>
        val cols = batch.columns.toIndexedSeq
        // two SEPARATE short-circuit probes, deliberately not folded
        // into one aggregate — the folded form measured 1.87× slower
        // at sf100 with byte-identical IO (see the scaladoc above)
        requireNonNullKeys(batch, key)
        // aliased aggregate, not .count(): the implicit "count" column
        // would capture a key/orderCol literally named "count"
        val hasDupPairs = !batch.groupBy(col(key), col(o))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > lit(1L)).isEmpty
        // winners is narrow but corpus-LINEAR (one row per batch key),
        // so neither join carries a shuffle-hash hint: AQE's
        // local-map-threshold demotion converts the planned SMJ to a
        // hash join only after CHECKING the per-partition build size —
        // a blind hint OOM'd the sf100 cell when the write-side
        // file-count stage fused in (no spill path in a forced hash
        // build). The winner join is null-safe on o: max() ignores
        // nulls, so an all-null key group matches its null "max" and
        // still lands (previously silently dropped), while null-o rows
        // lose to any non-null sibling.
        val winners = batch.groupBy(col(key)).agg(max(col(o)).as("__o"))
          .select(col(key).as("__k"), col("__o"))
        val maxed = batch.join(winners,
          batch(key) === winners("__k") && (batch(o) <=> winners("__o")), "left_semi")
        if (!hasDupPairs) maxed
        else {
          val b = maxed.withColumn("__tb", xxhash64(cols.map(col): _*))
          val tieBreak = b.groupBy(col(key)).agg(max(col("__tb")).as("__tb"))
          b.join(tieBreak, Seq(key, "__tb"), "left_semi")
            .dropDuplicates()
            .select(cols.map(col): _*)
        }
      case None =>
        requireNonNullKeys(batch, key)
        batch.dropDuplicates(key)
    }

  /** Null keys would silently corrupt the merge — [[merge]]'s
    * anti-join never matches a null key, so null-keyed rows would
    * survive on BOTH sides and accumulate monotonically across
    * batches. Keys are generated surrogates (upstream contract), so a
    * null here is a bug: fail loudly, the same posture the partitioned
    * form takes for null partition values. One key-column-pruned scan
    * with an immediate limit-1, kept apart from [[dedupBatch]]'s dup
    * probe (see its scaladoc). */
  private def requireNonNullKeys(batch: DataFrame, key: String): Unit =
    require(batch.filter(col(key).isNull).isEmpty,
      s"null values in upsert key column '$key' are unsupported (the " +
        "keyed merge cannot match them); keys are generated surrogates — " +
        "fix the key derivation upstream")

  /** Data files per unpartitioned upsert rewrite. Modest: entity
    * tables are row-few relative to the event stream, and per-file FS
    * metadata work dominates rewrite cost at small scale. */
  private val OutputFiles = 8

  /** A batch [[prepare]] merged and staged under `<table>__staging`.
    * Nothing of it is visible until [[commit]]. A handle never
    * committed leaves a staging with no backup, which the next
    * upsert's [[recover]] drops. */
  final class Prepared private[ParquetUpsertSink] (
      spark: SparkSession, tablePath: String, rows: Long, staged: Boolean) {

    /** Promote the staging into the live table (class doc), record
      * the promote in [[ioStats]] and return the rows of the deduped
      * batch. */
    def commit(): Long = {
      if (staged) {
        val (files, promoteSec) = promoteStaged(spark, tablePath)
        recordIo(files, promoteSec)
      }
      rows
    }
  }

  /** Merge-on-write upsert: [[prepare]] then [[Prepared.commit]].
    * Returns the rows of the deduped batch. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      tablePath: String,
      key: String,
      orderCol: Option[String] = None,
      partitionCol: Option[String] = None): Long =
    prepare(spark, batch, tablePath, key, orderCol, partitionCol).commit()

  /** The upsert up to its promote: [[recover]] the table, dedup the
    * batch, merge it with the live rows and stage the result. Every
    * write, the first into an empty table included, is staged. Two
    * prepares into one table at once would share its staging; into
    * different tables they are independent.
    *
    * With `partitionCol` the table is hive-partitioned by it and only
    * the partitions the batch touches are read, rewritten and promoted.
    * Contract: the partition-column value of a key must be immutable
    * across batches (true when it is derived from the key's own
    * columns, e.g. `event_date = date(ts)` under a `(user_id, ts)`
    * key). A key that moved to another partition would keep its old
    * copy there: only the touched partitions are read and merged.
    *
    * The handle's count is the rows of the deduped batch: the distinct
    * keys it inserts or updates. It is observed on the staged write
    * itself (`Dataset.observe` on the batch's branch of the merge
    * union, not on the anti join's key side), so it costs no job. The
    * live rows are read with the schema of one data file's footer
    * ([[footerSchema]]), found by the same listing that tells an empty
    * table from a live one, so no schema-inference job runs. */
  def prepare(
      spark: SparkSession,
      batch: DataFrame,
      tablePath: String,
      key: String,
      orderCol: Option[String] = None,
      partitionCol: Option[String] = None): Prepared = {
    recover(spark, tablePath)
    // the null-key invariant is enforced inside dedupBatch
    val incoming = dedupBatch(batch, key, orderCol)
    val rows = Observation()
    val counted = incoming.observe(rows, count(lit(1)).as("rows"))
    // the staged write reads the live table, so it can't overwrite it
    // in place; an empty table (e.g. the bare directory
    // FileMonitorStore.migrate creates) has nothing to merge
    val merged = visibleDataFiles(fs(spark, tablePath), new Path(tablePath)).nextOption() match {
      case None => counted
      case Some(file) =>
        val live = spark.read.schema(footerSchema(spark, file)).parquet(tablePath)
        partitionCol match {
          case None => merge(live, counted, incoming, key)
          case Some(p) =>
            val touched = touchedPartitions(batch, p)
            // an empty batch touches no partition: nothing to stage
            if (touched.isEmpty) return new Prepared(spark, tablePath, 0L, staged = false)
            merge(live.filter(col(p).cast("string").isInCollection(touched)), counted, incoming, key)
        }
    }
    // repartition, NOT coalesce: coalesce is a narrow dependency, so
    // it fused the dedup/merge work INTO an OutputFiles-way final
    // stage — at sf100 that ran the whole merge at 8-task parallelism
    // (the dominant share of the 36 GB spill, and an OOM under a
    // forced hash build). The round-robin exchange decouples compute
    // width from file count for one extra narrow-format pass. The
    // partitioned form co-locates each partition's rows in one task,
    // or every task would append a file to every partition dir.
    val out = partitionCol.fold(merged.repartition(OutputFiles))(p => merged.repartition(col(p)))
    stage(out, tablePath, partitionCol)
    new Prepared(spark, tablePath, rows.get("rows").asInstanceOf[Long], staged = true)
  }

  /** Partition values the batch touches (a small list, collected
    * driver-side), read off the raw batch: under the
    * immutable-partition contract every row of a key carries the same
    * value, so the dedup changes nothing here. Values are compared as
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

  /** [[promote]] the complete staging of the table at `tablePath`;
    * returns the data files promoted and the seconds it took. */
  private def promoteStaged(spark: SparkSession, tablePath: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val files = promote(fs(spark, tablePath), new Path(tablePath),
      new Path(stagingPath(tablePath)), new Path(backupPath(tablePath)))
    (files, (System.nanoTime() - t0) / 1e9)
  }

  /** Replace the table at `tablePath` with `df` (or, with
    * `partitionCol`, the partitions `df` holds) through the staged,
    * per-unit promote of the class doc. Records no [[ioStats]];
    * returns the data files promoted and the seconds spent after the
    * staged write. */
  private[graft] def stageAndPromote(
      spark: SparkSession, df: DataFrame, tablePath: String,
      partitionCol: Option[String] = None): (Long, Double) = {
    stage(df, tablePath, partitionCol)
    promoteStaged(spark, tablePath)
  }

  /** Prefer the incoming row per key: all incoming rows survive, and
    * an existing row survives iff its key is absent from the batch —
    * i.e. `incoming UNION (existing ANTI JOIN incoming ON key)`.
    * Identical to the previous union+argmax form on the (invariant)
    * key-unique inputs, but with NO aggregation state at all: the
    * union is exchange-free, the anti join streams the table side
    * against a hash build of just the batch's KEY column.
    *
    * Why not the `max_by(struct(all columns), __pri)` aggregate this
    * replaces: (a) its var-length buffer forced sort-based
    * aggregation over union-of-both-sides row mass, and (b) the
    * write-side `coalesce(OutputFiles)` narrowed the FINAL stage, so
    * that sort-aggregation ran at OutputFiles-way parallelism —
    * together the dominant share of the sf100 upsert cells' 36-45 GB
    * spill (the coalesce is now a repartition — see [[prepare]]).
    * The batch-keys side is corpus-LINEAR, so the join carries no
    * strategy hint: AQE's local-map-threshold demotion hash-builds it
    * only after checking the per-partition size (a forced hint has no
    * spill path and OOM'd the sf100 cell under stage fusion).
    * Null keys never reach this join: the anti join cannot match
    * them (they would survive on both sides and accumulate across
    * batches), so [[prepare]] rejects them loudly first
    * ([[requireNonNullKeys]]). `kept` is `incoming` as the union
    * writes it ([[prepare]] passes it observed); the anti join reads
    * `incoming`'s keys. */
  private def merge(
      existing: DataFrame, kept: DataFrame, incoming: DataFrame, key: String): DataFrame =
    kept.unionByName(
      existing.join(incoming.select(col(key)), Seq(key), "left_anti")
        .select(incoming.columns.toIndexedSeq.map(col): _*))
}
