package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst form of the float/cosine IVF quantizer
  * ([[graft.ext.similarity.IvfKNN.nearestCentroid]]): nearest
  * codebook entry of an `array<float|double>` vector by rounded
  * cosine, as ONE expression node.
  *
  * Why native: the Column formulation expands to K `struct(round(
  * fvec_dot(v, [dim literals]) / (sqrt(fvec_dot(v,v)) * |c|), 9),
  * -id)` entries — a plan literal per codebook element, K·dim of them
  * in one projection. Past a few hundred centroids that blows the
  * codegen method-size limit into interpreted evaluation and bloats
  * every analyzer pass over the plan (round-5 scale bench). This node
  * keeps the plan O(1) in K. Its callers hold index-sized codebooks:
  * the fixed-K ANN queries, the Lloyd seed assignment and the coarse
  * cells of [[graft.ext.similarity.IvfKNN.fineCodebookTable]].
  * SemDeDup's corpus-scaled K = n/250 never reaches this node: its fine
  * codebook is a table, joined by
  * [[graft.ext.similarity.IvfKNN.assignListsJoined]].
  *
  * The score is `dot(v, c) / (sqrt(dot(v, v)) * |c|)`, both dots a
  * left-to-right double accumulation over float→double elements,
  * identical to [[graft.functions.FloatVectorDot]]; rounding and the
  * argmax are [[CentroidArgmax]]'s (the struct-ordering trick
  * `max(struct(cos, -id))` of the Column form).
  */
case class NearestCentroidCosine(
    child: Expression,
    vecs: Seq[Seq[Float]],
    norms: Seq[Double])
  extends CentroidArgmax {

  override def prettyName: String = "nearest_centroid_cosine"

  // [k][dim] for tight access; built once per task
  @transient private lazy val cents: Array[Array[Float]] = vecs.map(_.toArray).toArray

  // |v| once per row, like codegen subexpression elimination does for
  // the Column form
  override protected def rowTerm(v: ArrayData): Double = {
    val nv = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < nv) {
      val x = elem(v, i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def score(v: ArrayData, vnorm: Double, c: Int): Double = {
    val m = cents(c)
    // a row vector shorter/longer than the codebook dim contributes
    // only the overlapping prefix to the dot — intentional: it matches
    // [[FloatVectorDot]], which the Column formulation evaluates
    // through (embedding dims are schema-fixed in practice; the input
    // check rejects ragged CODEBOOKS)
    val n = math.min(v.numElements(), m.length)
    var dot = 0.0
    var j = 0
    while (j < n) {
      dot += elem(v, j) * m(j).toDouble
      j += 1
    }
    dot / (vnorm * cnorms(c))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroidCosine {
  def apply(vec: Column, vecs: Seq[Seq[Float]], norms: Seq[Double]): Column =
    Bridge.column(NearestCentroidCosine(Bridge.expression(vec), vecs, norms))
}
