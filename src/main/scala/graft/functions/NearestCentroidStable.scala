package graft.functions

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst form of the stabilized IVF quantizer
  * ([[graft.ext.similarity.IvfKNN.nearestCentroidStable]]): nearest
  * TRAINED centroid of an `array<float|double>` vector under the
  * order-independent decimal scoring rule, as ONE expression node.
  *
  * Why native: the Column formulation expands to K centroids × dim
  * per-element `round`/`cast(DECIMAL(30,12))`/decimal-fold
  * higher-order calls — a several-thousand-node tree that every
  * analyzer/optimizer pass re-traverses and that evaluates through
  * boxed `Decimal` allocations per element. At K=8, dim=64 that tree
  * dominated the whole exact-Lloyd training pass (round-4 bench:
  * 113.8 s first rep at sf0.1). This node evaluates the identical
  * arithmetic in a tight loop and leaves the surrounding plan small.
  *
  * The score REPLICATES [[graft.ext.similarity.IvfKNN.dotStableCol]]
  * divided by |c| bit-for-bit — the DuckDB oracles replay that exact
  * recipe, so every step below names the Catalyst operation it
  * mirrors:
  *
  *  1. per element: `p = double(x) * m`; `r = Round(p, 12)` — Spark's
  *     `Round(DoubleType)` is `BigDecimal.valueOf(p).setScale(12,
  *     HALF_UP).toDouble`;
  *  2. `Cast(r AS DECIMAL(30,12))` — `BigDecimal.valueOf(r)
  *     .setScale(12, HALF_UP)`;
  *  3. decimal fold at scale 12 (exact, order-independent),
  *     `Cast(AS DOUBLE)` → `doubleValue`;
  *  4. raw score = `dot / |c|`, rounded and argmaxed by
  *     [[CentroidArgmax]] (`array_position(scores, array_max(scores))
  *     - 1` in the Column form).
  */
case class NearestCentroidStable(
    child: Expression,
    vecs: Seq[Seq[Double]],
    norms: Seq[Double])
  extends CentroidArgmax {

  override def prettyName: String = "nearest_centroid_stable"

  // [k][dim] for tight access; built once per task
  @transient private lazy val cents: Array[Array[Double]] = vecs.map(_.toArray).toArray

  // the score drops the per-row |v| factor
  override protected def rowTerm(v: ArrayData): Double = 0.0

  override protected def score(v: ArrayData, unused: Double, c: Int): Double = {
    val m = cents(c)
    val n = math.min(v.numElements(), m.length)
    // exact decimal fold at scale 12: every addend is a 12-dp value,
    // so an unscaled-long accumulator is exact while it fits; fall
    // back to BigDecimal only on (never-seen) overflow
    var accLong = 0L
    var accBig: JBD = null
    var i = 0
    while (i < n) {
      val p = elem(v, i) * m(i)
      // Round(p, 12) then Cast(DECIMAL(30,12)): valueOf/setScale twice
      val r = JBD.valueOf(p).setScale(12, RoundingMode.HALF_UP).doubleValue()
      val y = JBD.valueOf(r).setScale(12, RoundingMode.HALF_UP)
      if (accBig != null) accBig = accBig.add(y)
      else {
        val yl = y.unscaledValue()
        if (yl.bitLength() <= 62) {
          val yv = yl.longValueExact()
          val prev = accLong
          accLong = accLong + yv
          // detect signed overflow of the running sum
          if (((prev ^ accLong) & (yv ^ accLong)) < 0) {
            accBig = JBD.valueOf(prev, 12).add(y)
          }
        } else accBig = JBD.valueOf(accLong, 12).add(y)
      }
      i += 1
    }
    val dot =
      if (accBig != null) accBig.doubleValue()
      else JBD.valueOf(accLong, 12).doubleValue()
    dot / cnorms(c)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroidStable {
  def apply(vec: Column, vecs: Seq[Seq[Double]], norms: Seq[Double]): Column =
    Bridge.column(NearestCentroidStable(Bridge.expression(vec), vecs, norms))
}
