package graft.sources

import java.time.Instant
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSON-lines event source (reference ops S-1..S-3,
  * `src/helper/s3.py:37-73`): list the landing prefix, keep only the
  * files whose modification time falls in the target hour, parse
  * line-delimited JSON tolerantly, and inject the lineage column.
  *
  * Corrections over the reference, per SURVEY.md §3.2:
  *  - the hour predicate compares the FULL date+hour, not
  *    hour-of-day-only;
  *  - listing is complete (Hadoop `listStatus`), not capped at 1000
  *    keys.
  *
  * Scale posture: listing+pruning happens driver-side against file
  * metadata — executors only ever see matching files. For object
  * stores the same code runs over `s3a://`; at real scale prefer
  * date/hour-partitioned paths (`data/dt=.../hr=.../`) so pruning is
  * by path, not metadata round-trips. PERMISSIVE mode with a corrupt
  * record column preserves the reference's skip-bad-lines tolerance
  * while keeping a countable audit trail.
  */
object JsonLinesSource {

  val corruptCol = "_corrupt_record"
  val lineageCol = "original_s3_file_path"

  /** Driver-side listing of `*.json` files under `dir` whose mtime is
    * within [hourStart, hourStart+1h). */
  def listHourFiles(spark: SparkSession, dir: String, hourStart: Instant): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val lo = hourStart.toEpochMilli
    val hi = hourStart.plusSeconds(3600).toEpochMilli
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .filter(s => s.getModificationTime >= lo && s.getModificationTime < hi)
      .map(_.getPath.toString)
      .sorted
  }

  /** The landing-record shape every read of the landing area yields:
    * the declared `schema` (less any column named [[lineageCol]]), then
    * [[corruptCol]], then [[lineageCol]]. */
  def recordStruct(schema: StructType): StructType = parseStruct(schema).add(lineageCol, StringType)

  /** Read the given (non-empty) JSON-lines files as [[recordStruct]]
    * rows. */
  def read(spark: SparkSession, files: Seq[String], schema: StructType): DataFrame =
    withLineage(spark.read.schema(parseStruct(schema)).options(parseOptions).json(files: _*))

  /** File-stream read of every JSON-lines file landing under `dir`, as
    * [[recordStruct]] rows, the same parse as [[read]].
    * `maxFilesPerTrigger` caps the files of one micro-batch. */
  def readStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int): DataFrame =
    withLineage(spark.readStream.schema(parseStruct(schema)).options(parseOptions)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).json(dir))

  private def parseStruct(schema: StructType): StructType =
    StructType(schema.filterNot(_.name == lineageCol) :+ StructField(corruptCol, StringType))

  private val parseOptions = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol)

  /** Lineage in `bucket/key` form: the file path without its scheme. */
  private def withLineage(raw: DataFrame): DataFrame =
    raw.withColumn(lineageCol, regexp_replace(input_file_name(), "^[a-zA-Z0-9]+://?/?", ""))

  /** Count of unparseable lines (the reference logs-and-skips;
    * we count them; rows remain dropped from the good frame).
    * The frame is cached first: Spark forbids predicates that touch
    * only the corrupt-record column on a raw file scan. */
  def goodAndBad(df: DataFrame): (DataFrame, DataFrame) = {
    val cached = df.cache()
    (cached.filter(col(corruptCol).isNull).drop(corruptCol),
     cached.filter(col(corruptCol).isNotNull))
  }
}
