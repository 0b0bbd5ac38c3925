package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Parallelism barrier for CPU-heavy map stages over narrow scans.
  *
  * A single-file corpus scans as ONE partition, and Catalyst fuses
  * downstream projections (tokenize/shingle/score regex chains) into
  * that scan stage — so the whole map-side CPU burn runs on one task
  * while the rest of the cluster idles. `wide` inserts a hash
  * exchange ONLY when the scan is narrower than the cluster; a
  * many-file 100 TB table already scans wide and passes through
  * untouched (no cost at scale, pure win on small/benchmark inputs).
  * Measured: 6.5s → 1.4s (decontamination), 6.3s → sub-second scoring
  * stage (curation pipeline) at sf0.1 on local[32].
  *
  * Scan width is estimated from the relation's FILE LISTING
  * (Σ ceil(len / maxPartitionBytes), the same arithmetic
  * FilePartition planning uses, ignoring only small-file packing —
  * which can only make the true scan NARROWER, i.e. the estimate
  * never forces a redundant exchange on an already-wide scan). The
  * listing is already cached in the plan's FileIndex, so probing it
  * costs no extra physical-planning pass — the previous
  * `df.rdd.getNumPartitions` probe forced the whole input to be
  * physically planned twice (round-4 ADVICE).
  *
  * [[narrow]] is the mirror image for small inputs: a plan Catalyst
  * estimates at most [[NarrowBytes]] runs as one task. At that size
  * each task and each job is mostly fixed cost (task deserialization,
  * a map-stage job and an adaptive re-plan per exchange), so the
  * ingestor's hour of 1,000 events stages one file and a small
  * unpartitioned upsert picks and stages in one task with no exchange.
  */
object Spread {

  /** Estimated scan partitions for a file-backed frame; None when the
    * plan has no file relation (in-memory test frames). */
  private def scanWidth(df: DataFrame): Option[Long] = {
    val conf = df.sparkSession.sessionState.conf
    val maxBytes = conf.filesMaxPartitionBytes
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (rels.isEmpty) None
    else {
      val widths: Seq[Long] = rels.map { r =>
        r.location match {
          case p: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
            p.allFiles().map(f => (f.getLen + maxBytes - 1) / maxBytes).sum
          case other =>
            (other.sizeInBytes + maxBytes - 1) / maxBytes
        }
      }
      Some(widths.max)
    }
  }

  def wide(df: DataFrame, key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism.toLong
    val narrow = scanWidth(df) match {
      case Some(w) => w < par
      case None    => df.rdd.getNumPartitions < par // non-file source: old probe
    }
    if (narrow) df.repartition(par.toInt, key) else df
  }

  /** The largest input [[narrow]] runs as one task: 1.5 MiB of
    * Catalyst's estimate, where one task stops beating the exchange on
    * the upsert's pick. One upsert of 1,000 rows into a vehicle-shaped
    * table (65 bytes per row in parquet; 4 local cores, medians of 7
    * to 11 alternated runs, one task vs exchange): one task was faster
    * up to 20k live rows (1.44 MB estimate, 0.49 vs 0.54 s), even from
    * 21k to 23k (1.51-1.64 MB) and slower from 24k (1.71 MB, 0.49 vs
    * 0.42 s); at 135k rows (9.1 MB) it was 1.63x slower. The line is a
    * measured constant, not a setting: on more cores the exchange
    * gains and the break-even moves down. */
  val NarrowBytes: Long = 1536L * 1024

  /** `df` as one task (`coalesce(1)`) when the size estimate of its
    * analyzed plan is at most [[NarrowBytes]]; any other plan is
    * returned unchanged. `spark.sql.autoBroadcastJoinThreshold` at -1
    * turns the rule off, as it turns off broadcast joins. One
    * partition satisfies every clustered distribution, so a keyed
    * operator over the result plans no exchange. The estimate is the
    * input files' bytes (compressed, for parquet) scaled by projected
    * row width, so rows that compress well put more of them under the
    * line than the measurement above. */
  def narrow(df: DataFrame): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold >= 0 && df.queryExecution.analyzed.stats.sizeInBytes <= NarrowBytes) df.coalesce(1)
    else df
  }
}
