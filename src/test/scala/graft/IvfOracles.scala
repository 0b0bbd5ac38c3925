package graft

import java.math.{BigDecimal => JBD, RoundingMode}

import graft.ext.similarity.{CosineKNN, IvfKNN}
import graft.ext.similarity.IvfKNN.{Centroid, DCentroid}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations the production IVF paths are pinned against:
  * the Column forms the native quantizer nodes replaced, a driver-side
  * two-level assignment, and the uncached Lloyd steps. */
object IvfOracles {

  /** Column form of [[IvfKNN.nearestCentroid]]: argmax over K (cosine,
    * -id) structs, struct ordering giving max cosine with ties to the
    * LOWER id. */
  def nearestCentroidColumns(vec: Column, centroids: Seq[Centroid]): Column = {
    val n = CosineKNN.norm(vec)
    val entries = centroids.map { c =>
      val cos = round(CosineKNN.dot(vec, array(c.vec.toIndexedSeq.map(lit): _*)) /
        (n * lit(c.norm)), 9)
      struct(cos.as("cos"), lit(-c.id).as("negid"))
    }
    (-array_max(array(entries: _*)).getField("negid")).cast("long")
  }

  /** [[IvfKNN.dotStableCol]] against one trained centroid, folded into
    * the plan as an array literal. */
  def dotStable(vec: Column, c: DCentroid): Column =
    IvfKNN.dotStableCol(vec, array(c.vec.toIndexedSeq.map(lit): _*))

  /** Column form of [[IvfKNN.nearestCentroidStable]]: K per-centroid
    * decimal folds + first position of the max. Field-name-free on
    * purpose: a struct argmax loses its field aliases when the
    * projection is rewritten around a Generate (CleanupAliases). */
  def nearestCentroidStableColumns(vec: Column, cents: Seq[DCentroid]): Column = {
    val scores = array(
      cents.sortBy(_.id).map(c => round(dotStable(vec, c) / lit(c.norm), 9)): _*)
    (array_position(scores, array_max(scores)) - 1).cast("long")
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      acc += a(i).toDouble * b(i).toDouble
      i += 1
    }
    acc
  }

  /** Rounded cosine: `round(dot(a,b) / (|a|·|b|), 9)`. */
  private def cos9(a: Array[Float], b: Array[Float]): Double =
    JBD.valueOf(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      .setScale(9, RoundingMode.HALF_UP).doubleValue()

  /** Id of the first max-cosine candidate in id order (ties to the
    * lower id). */
  private def argmax(v: Array[Float], cands: Seq[Centroid]): Int =
    cands.sortBy(_.id).map(c => (cos9(v, c.vec), c.id))
      .reduceLeft((best, x) => if (java.lang.Double.compare(x._1, best._1) > 0) x else best)._2

  /** Coarse-cell membership of a fine codebook (dense ids 0..K-1)
    * whose C lowest-id entries are the coarse cells, as (cid, gid) in
    * cid order: fine centroid f belongs to cell f when f < C and to its
    * nearest cell otherwise. */
  def coarseMembership(fine: Seq[Centroid], c: Int): Seq[(Long, Long)] = {
    val coarse = fine.sortBy(_.id).take(c)
    fine.sortBy(_.id).map(f =>
      (f.id.toLong, (if (f.id < c) f.id else argmax(f.vec, coarse)).toLong))
  }

  /** Driver-side [[IvfKNN.assignListsJoined]] over collected rows: a
    * row probes its `probes` nearest coarse cells by (score desc, id
    * asc) and takes the nearest fine centroid among their members. */
  def joinedAssignment(
      rows: Seq[(Long, Array[Float])], fine: Seq[Centroid], c: Int,
      probes: Int): Map[Long, Long] = {
    val coarse = fine.sortBy(_.id).take(c)
    val gid = coarseMembership(fine, c).toMap
    rows.map { case (id, v) =>
      val cells = coarse.map(g => (cos9(v, g.vec), g.id.toLong))
        .sortWith((x, y) => x._1 > y._1 || (x._1 == y._1 && x._2 < y._2))
        .take(probes).map(_._2).toSet
      id -> argmax(v, fine.filter(f => cells(gid(f.id.toLong)))).toLong
    }.toMap
  }

  /** First exact Lloyd step from the k sampled centroids, uncached. */
  def lloyd1(corpus: DataFrame, k: Int): Seq[DCentroid] = {
    val seed = IvfKNN.sampledCentroids(corpus, "vec_id", "embedding", k)
    IvfKNN.lloydStep(corpus, "embedding",
      IvfKNN.nearestCentroid(col("embedding"), seed), IvfKNN.exactSeed(seed))
  }

  /** One further exact Lloyd step from a trained codebook, uncached. */
  def lloydNext(corpus: DataFrame, cents: Seq[DCentroid]): Seq[DCentroid] =
    IvfKNN.lloydStep(corpus, "embedding",
      IvfKNN.nearestCentroidStable(col("embedding"), cents), cents)
}
