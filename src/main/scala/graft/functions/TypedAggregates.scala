package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Weighted arithmetic mean as a typed [[Aggregator]] — the repo's demo of
  * Spark's custom-aggregate extension point (the reference's equivalent
  * would be a new aggregate variant in `ballista.proto:121-132` plus a
  * planner case in `planner.rs:149-171`). Input is a (value, weight) pair;
  * the buffer is (Σ value·weight, Σ weight). Both `reduce` and `merge` are
  * associative and commutative, so Spark executes it Partial→Final exactly
  * like a built-in aggregate — partial buffers combine map-side before the
  * single key shuffle, and nothing funnels through one reducer.
  *
  * Prefer a native expression when one exists (for weighted mean the
  * closed form `sum(v*w)/sum(w)` is codegen'd); this class is the
  * documented pattern for when one doesn't.
  */
object WeightedMeanAgg
    extends Aggregator[(Double, Double), (Double, Double), Double] {
  def zero: (Double, Double) = (0.0, 0.0)
  def reduce(b: (Double, Double), in: (Double, Double)): (Double, Double) =
    (b._1 + in._1 * in._2, b._2 + in._2)
  def merge(x: (Double, Double), y: (Double, Double)): (Double, Double) =
    (x._1 + y._1, x._2 + y._2)
  def finish(r: (Double, Double)): Double =
    if (r._2 == 0.0) Double.NaN else r._1 / r._2
  def bufferEncoder: Encoder[(Double, Double)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
  def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Upper-triangle Gram-matrix accumulation Σqᵢqⱼ (i ≤ j) as a typed
  * [[Aggregator]] — the treeAggregate shape every distributed covariance/
  * PCA pass uses (MLlib `RowMatrix.computeGramianMatrix` does exactly
  * this over a flat triangle buffer): the buffer is one primitive
  * `Array[Long]` of d(d+1)/2 cells, `reduce` is a tight multiply-add
  * loop per vector, and only ONE buffer per partition crosses the
  * exchange — never corpus×d² (or even corpus×d) rows. Spark keeps the
  * buffer as a live object between rows (TypedImperativeAggregate) and
  * serializes it only for the partial→final merge. All cells are exact
  * BIGINT sums, so the result is order-independent and engine-exact —
  * the property the PCA oracle's relational replay needs. A declarative
  * pair-explode (`transform`×`transform`→`explode`) computes the same
  * thing but walks the interpreted higher-order-function path and
  * allocates d²/2 structs per row; this loop replaces it at ~10× less
  * cost with an identical result.
  */
final class GramTriangleAgg(d: Int)
    extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  private val len = d * (d + 1) / 2
  def zero: Array[Long] = new Array[Long](len)
  def reduce(buf: Array[Long], q: Seq[Long]): Array[Long] = {
    val a = q.toArray
    var k = 0
    var i = 0
    while (i < d) {
      val xi = a(i)
      var j = i
      while (j < d) { buf(k) += xi * a(j); k += 1; j += 1 }
      i += 1
    }
    buf
  }
  def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var k = 0
    while (k < len) { x(k) += y(k); k += 1 }
    x
  }
  def finish(b: Array[Long]): Seq[Long] = b.toSeq
  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}
