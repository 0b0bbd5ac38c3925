package graft.functions

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** What the native IVF quantizers ([[NearestCentroidCosine]],
  * [[NearestCentroidStable]]) share: the input check and the argmax.
  * Each node supplies only its own unrounded per-centroid score.
  *
  *  - score = `Round(raw, 9)` — Spark's `Round(DoubleType)` is
  *    `BigDecimal.valueOf(p).setScale(9, HALF_UP).toDouble`;
  *  - result = position of the FIRST maximum over the centroids in id
  *    order, so ties break to the LOWER centroid id; doubles compare by
  *    `java.lang.Double.compare` exactly like Spark's interpreted double
  *    ordering (−0.0 < 0.0, NaN greatest).
  *
  * The input is an `array<float|double>` vector whose elements are
  * assumed non-null and finite (embedding vectors), as everywhere else
  * on the ANN paths. The codebook is index metadata folded into the
  * node like the literal arrays it replaces: non-empty, one norm per
  * vector, every vector of one dimension, and every norm finite and
  * > 0 — a zero norm scores NaN, and NaN WINS the argmax.
  */
trait CentroidArgmax extends UnaryExpression with CodegenFallback {
  def vecs: Seq[Seq[Any]]
  def norms: Seq[Double]

  /** A per-row term every centroid's score shares, computed once per
    * row (the cosine node's |v|). */
  protected def rowTerm(v: ArrayData): Double

  /** Unrounded score of row `v` against centroid `c`. */
  protected def score(v: ArrayData, rowTerm: Double, c: Int): Double

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (vecs.isEmpty || vecs.length != norms.length)
        failure(s"${vecs.length} centroid vectors vs ${norms.length} norms (need equal, non-empty)")
      else if (!norms.forall(n => java.lang.Double.isFinite(n) && n > 0))
        failure("centroid norms must be finite and > 0 " +
          "(zero-norm centroids would score NaN, which wins the argmax)")
      else if (vecs.map(_.length).distinct.length != 1)
        failure("centroid vectors must share one dimension")
      else TypeCheckResult.TypeCheckSuccess
    case other => failure(s"expects array<float|double>, got ${other.simpleString}")
  }

  private def failure(msg: String) = TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")

  override def dataType: DataType = LongType

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  // built once per task
  @transient protected lazy val cnorms: Array[Double] = norms.toArray

  /** Element `i` of the row vector, widened to double. */
  protected final def elem(v: ArrayData, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  final override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val t = rowTerm(v)
    val k = cnorms.length
    var best = Double.NegativeInfinity
    var bestIdx = 0L
    var c = 0
    while (c < k) {
      val s = JBD.valueOf(score(v, t, c)).setScale(9, RoundingMode.HALF_UP).doubleValue()
      if (c == 0 || java.lang.Double.compare(s, best) > 0) {
        best = s; bestIdx = c.toLong
      }
      c += 1
    }
    bestIdx
  }
}
