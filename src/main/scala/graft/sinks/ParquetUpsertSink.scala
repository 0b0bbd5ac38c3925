package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Idempotent keyed upsert onto a parquet table (reference op K-2,
  * `src/helper/postgres.py:157-189`: `INSERT ... ON CONFLICT (key) DO
  * UPDATE`, last write wins per key).
  *
  * Strategy is merge-on-write:
  *  1. dedup the incoming batch to one row per key (last-write-wins
  *     inside a batch, like the reference's sequential executemany);
  *  2. keep every batch row and anti-join the existing table against
  *     the batch's keys (incoming wins per key; no aggregation state);
  *  3. rewrite and promote crash-safely (see below).
  *
  * Scale posture: the unpartitioned form rewrites the whole table —
  * correct but O(table) per batch, fine for entity tables far smaller
  * than the event stream. [[upsertPartitioned]] is the 100 TB path:
  * the table is hive-partitioned (e.g. by event date), only the
  * partitions present in the batch are read+merged, and the write
  * uses dynamic partition overwrite so untouched partitions are never
  * rewritten. The merge itself is a single shuffle by key.
  *
  * Crash safety of the full-rewrite path: the merged table is staged to
  * `<table>__staging` (complete only once Spark's `_SUCCESS` marker
  * lands), then promoted via rename table→`<table>__backup`,
  * rename staging→table, delete backup. At every instant at least one
  * COMPLETE copy of the data exists in some directory; [[recover]]
  * (called automatically at the start of every upsert) rolls the state
  * machine forward after a crash at any point.
  */
object ParquetUpsertSink {

  /** IO attribution for the scale bench (round-5 verdict task 4: the
    * upsert ladder segment was 3.7× for 3.16× data and nothing
    * recorded whether that was merge compute, small-file metadata, or
    * promote/rename cost). Accumulated per upsert call, reset by the
    * harness around a measured query: `filesWritten` counts the data
    * files in the table after each promote (FS-metadata work scales
    * with it), `promoteSec` is time spent in the rename/delete state
    * machine AFTER the merged write completed (pure commit cost,
    * no compute). */
  case class UpsertIo(
      calls: Long, filesWritten: Long, promoteSec: Double, countFailures: Long = 0) {
    def json: String =
      s"""{"calls":$calls,"files_written":$filesWritten,""" +
        s""""promote_sec":${math.rint(promoteSec * 1000) / 1000},""" +
        s""""count_failures":$countFailures}"""
  }
  private val ioAcc =
    new java.util.concurrent.atomic.AtomicReference(UpsertIo(0, 0, 0.0))
  def resetIoStats(): Unit = ioAcc.set(UpsertIo(0, 0, 0.0))
  def ioStats: UpsertIo = ioAcc.get()
  /** A negative `files` is [[countDataFiles]]'s listing-failure
    * sentinel: adding it into the cumulative sum would silently skew
    * the counter by −1 per failure, so it is recorded as an explicit
    * `countFailures` tick instead (the sum stays a sum of real
    * counts, and the failure is visible in the artifact). */
  private def recordIo(files: Long, promoteSec: Double): Unit = {
    var done = false
    while (!done) {
      val cur = ioAcc.get()
      done = ioAcc.compareAndSet(cur, UpsertIo(
        cur.calls + 1, cur.filesWritten + math.max(files, 0L),
        cur.promoteSec + promoteSec,
        cur.countFailures + (if (files < 0) 1 else 0)))
    }
  }

  /** Data files under `dir` that Spark's parquet reader would see,
    * recursive, lazily. A name is hidden when it starts with `.` or
    * with `_` and is not a hive partition dir (`__batch_id=0` is
    * visible; `_SUCCESS`, `_temporary`, `.crc` files are not), and a
    * hidden dir hides everything under it. `listStatus` recursion,
    * not `listFiles(recursive)`: the latter builds LocatedFileStatus,
    * which some FileSystem implementations (including the local-FS
    * wrapper the FS-contract tests drive through a custom scheme)
    * cannot serve. */
  private[graft] def visibleDataFiles(f: FileSystem, dir: Path): Iterator[Path] = {
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def walk(p: Path): Iterator[Path] =
      f.listStatus(p).iterator.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Iterator.single(s.getPath)
      }
    if (f.exists(dir)) walk(dir) else Iterator.empty
  }

  /** [[visibleDataFiles]] count under `path`; −1 on any failure — IO
    * observability must never fail the write. */
  private def countDataFiles(spark: SparkSession, path: String): Long =
    try visibleDataFiles(fs(spark, path), new Path(path)).size.toLong
    catch { case NonFatal(_) => -1L }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** True iff the table path holds actual data files. A bare empty
    * directory — what [[graft.meta.FileMonitorStore.migrate]] creates —
    * is a valid PRE-EXISTING but EMPTY table: the upsert then takes
    * the fresh-write path instead of trying to read a schema from
    * nothing. */
  private def hasData(spark: SparkSession, path: String): Boolean =
    visibleDataFiles(fs(spark, path), new Path(path)).hasNext

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
    exists(spark, path.stripSuffix("/") + "/_SUCCESS")

  /** Roll the promote state machine forward after a crash. States
    * (T = live table, S = complete staging, B = backup):
    *  - T only / T+incomplete-S: normal; drop the half-written staging.
    *  - T+S: crashed after staging, before promote — the merge never
    *    took effect; drop S (the next upsert re-merges from T).
    *  - B+S, no T: crashed mid-promote — S is the newest complete
    *    table; promote it and drop B.
    *  - B only, no T, no S: crashed between `rename S→T` failing
    *    half-way? Renames are atomic per directory on HDFS/local FS, so
    *    this state means S was already promoted and deleted — restore B.
    *  - incomplete S only: a first write into a missing table crashed
    *    mid-write; drop S.
    */
  def recover(spark: SparkSession, tablePath: String): Unit = {
    val f = fs(spark, tablePath)
    val t = new Path(tablePath)
    val s = new Path(stagingPath(tablePath))
    val b = new Path(backupPath(tablePath))
    if (f.exists(t)) {
      // live table wins; discard any leftover promote state
      if (f.exists(s)) deleteOrThrow(f, s)
      if (f.exists(b)) deleteOrThrow(f, b)
    } else if (f.exists(s) && isComplete(spark, stagingPath(tablePath))) {
      renameOrThrow(f, s, t)
      if (f.exists(b)) deleteOrThrow(f, b)
    } else if (f.exists(b)) {
      if (f.exists(s)) deleteOrThrow(f, s) // incomplete staging
      renameOrThrow(f, b, t)
    } else if (f.exists(s)) {
      deleteOrThrow(f, s) // a first write that never completed
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

  private def nullKeyMessage(key: String): String =
    s"null values in upsert key column '$key' are unsupported (the " +
      "keyed merge cannot match them); keys are generated surrogates — " +
      "fix the key derivation upstream"

  /** Null keys would silently corrupt the merge — [[merge]]'s
    * anti-join never matches a null key, so null-keyed rows would
    * survive on BOTH sides and accumulate monotonically across
    * batches. Keys are generated surrogates (upstream contract), so a
    * null here is a bug: fail loudly, the same posture
    * [[upsertPartitioned]] already takes for null partition values.
    * Only the orderCol-less path uses this standalone scan (one
    * key-column-pruned pass with an immediate limit-1); with an
    * orderCol the check folds into [[dedupBatch]]'s single probe
    * aggregate so the batch lineage is derived once, not twice. */
  private def requireNonNullKeys(batch: DataFrame, key: String): Unit =
    require(batch.filter(col(key).isNull).isEmpty, nullKeyMessage(key))

  /** Data files per upsert rewrite. Modest: entity tables are row-few
    * relative to the event stream, and per-file FS metadata work
    * dominates rewrite cost at small scale. */
  private val OutputFiles = 8

  /** Full-table merge-on-write upsert. Every write, the first into an
    * empty table included, goes through [[stageAndPromote]].
    *
    * Returns the rows of the deduped batch: the distinct keys it
    * inserted or updated. The count is observed on the staged write
    * itself (`Dataset.observe` on the batch's branch of the merge
    * union, not on the anti join's key side), so it costs no job. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      tablePath: String,
      key: String,
      orderCol: Option[String] = None): Long = {
    recover(spark, tablePath)
    // the null-key invariant is enforced inside dedupBatch (folded
    // into its single probe aggregate on the orderCol path)
    val incoming = dedupBatch(batch, key, orderCol)
    val rows = Observation()
    val counted = incoming.observe(rows, count(lit(1)).as("rows"))
    // the staged write reads the live table, so it can't overwrite it
    // in place; an empty table has nothing to merge
    val merged =
      if (hasData(spark, tablePath)) merge(spark.read.parquet(tablePath), counted, incoming, key)
      else counted
    // repartition, NOT coalesce: coalesce is a narrow dependency, so
    // it fused the dedup/merge work INTO an OutputFiles-way final
    // stage — at sf100 that ran the whole merge at 8-task parallelism
    // (the dominant share of the 36 GB spill, and an OOM under a
    // forced hash build). The round-robin exchange decouples compute
    // width from file count for one extra narrow-format pass.
    val promoteSec = stageAndPromote(spark, merged.repartition(OutputFiles), tablePath)
    recordIo(countDataFiles(spark, tablePath), promoteSec)
    rows.get("rows").asInstanceOf[Long]
  }

  /** Replace the table at `tablePath` with `df` through the crash-safe
    * stage-then-promote of the class doc (the table→backup rename is
    * skipped when no table exists yet), hive-partitioned by
    * `partitionCol` when given. Records no [[ioStats]]; returns the
    * seconds spent after the staged write. */
  private[graft] def stageAndPromote(
      spark: SparkSession, df: DataFrame, tablePath: String,
      partitionCol: Option[String] = None): Double = {
    val staged = new Path(stagingPath(tablePath))
    df.write.partitionBy(partitionCol.toSeq: _*).mode("overwrite").parquet(staged.toString)
    val t0 = System.nanoTime()
    val f = fs(spark, tablePath)
    val table = new Path(tablePath)
    val backup = new Path(backupPath(tablePath))
    if (f.exists(table)) renameOrThrow(f, table, backup)
    renameOrThrow(f, staged, table)
    deleteOrThrow(f, backup)
    (System.nanoTime() - t0) / 1e9
  }

  /** Partition-pruned upsert: merges only the partitions the batch
    * touches and dynamically overwrites just those. The first write
    * into an empty table goes through [[stageAndPromote]], so a crash
    * in it leaves no data in the live directory.
    *
    * Contract: the partition-column value of a key must be immutable
    * across batches (true when it is derived from the key's own
    * columns, e.g. `event_date = date(ts)` under a `(user_id, ts)`
    * key). A key that moved to another partition would keep its old
    * copy there: only the touched partitions are read and merged.
    */
  def upsertPartitioned(
      spark: SparkSession,
      batch: DataFrame,
      tablePath: String,
      key: String,
      partitionCol: String,
      orderCol: Option[String] = None): Unit = {
    recover(spark, tablePath)
    // null-key invariant enforced inside dedupBatch (one probe job)
    val incoming = dedupBatch(batch, key, orderCol).cache()
    try {
      // co-locate each hive partition's rows in one task before the
      // write: otherwise every shuffle task appends a file to every
      // partition dir (tasks × partitions small files — FS metadata
      // cost dominates the merge at scale)
      def onePilePerPartition(df: DataFrame): DataFrame =
        df.repartition(col(partitionCol))
      if (!hasData(spark, tablePath)) {
        val promoteSec = stageAndPromote(
          spark, onePilePerPartition(incoming), tablePath, Some(partitionCol))
        recordIo(countDataFiles(spark, tablePath), promoteSec)
        return
      }
      // Partitions touched by this batch (small list, collected
      // driver-side). Values are compared as STRINGS throughout:
      // hive-style partition reads type-infer the partition column
      // (e.g. "2022-11-24" → DateType) while the in-flight batch may
      // carry it as a string, and a mixed-type Set would silently
      // never match — string form is also what names the directory.
      // NULL partition values are unsupported: hive writes them as the
      // __HIVE_DEFAULT_PARTITION__ directory, which this string
      // comparison would not match — fail loudly instead of merging
      // the wrong partitions.
      val touched: Seq[String] = {
        val vs = incoming.select(col(partitionCol).cast("string")).distinct()
          .collect().map(r => Option(r.getString(0))).toSeq
        require(vs.forall(_.isDefined),
          s"null values in partition column '$partitionCol' are unsupported " +
            "by the partitioned upsert (hive default partition); filter or " +
            "default them upstream")
        vs.flatten
      }
      val existing = spark.read.parquet(tablePath)
        .filter(col(partitionCol).cast("string").isInCollection(touched))
      val merged = merge(
        existing.select(incoming.columns.toIndexedSeq.map(col): _*), incoming, incoming, key)
        .cache()
      try {
        onePilePerPartition(merged).write
          .partitionBy(partitionCol)
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(tablePath)
        recordIo(countDataFiles(spark, tablePath), 0.0)
      } finally merged.unpersist()
    } finally incoming.unpersist()
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
    * spill (the coalesce is now a repartition — see [[upsert]]).
    * The batch-keys side is corpus-LINEAR, so the join carries no
    * strategy hint: AQE's local-map-threshold demotion hash-builds it
    * only after checking the per-partition size (a forced hint has no
    * spill path and OOM'd the sf100 cell under stage fusion).
    * Null keys never reach this join: the anti join cannot match
    * them (they would survive on both sides and accumulate across
    * batches), so both public entry points reject them loudly first
    * ([[requireNonNullKeys]]). `kept` is `incoming` as the union
    * writes it ([[upsert]] passes it observed); the anti join reads
    * `incoming`'s keys. */
  private def merge(
      existing: DataFrame, kept: DataFrame, incoming: DataFrame, key: String): DataFrame =
    kept.unionByName(
      existing.join(incoming.select(col(key)), Seq(key), "left_anti")
        .select(incoming.columns.toIndexedSeq.map(col): _*))
}
