package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Vector helpers for the LLM-pipeline operators (SURVEY.md §2.11).
  *
  * Everything hot-path is built-in HOFs (`zip_with`/`aggregate` —
  * codegen'd, no serialization); the UDF and UDAF below exist to cover
  * the X6/X7 *extension surface* (how a user plugs custom logic into the
  * engine), not because the math needs them.
  */
object Vectors {

  /** Deterministic left-to-right dot product of two float vectors in
    * double precision — identical evaluation order on every engine and
    * every retry (a groupBy-sum over exploded dims would not be).
    * Dispatches to the native codegen'd [[VecDotExpr]] (registered as
    * `vec_dot` by [[GraftExtensions]]); [[dotHof]] is the pure-built-in
    * equivalent with bitwise-identical results. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** HOF fold form of [[dot]] — same accumulation order and results;
    * kept as the no-extensions fallback and for equivalence tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  /** Sequential-fold squared L2 norm. */
  def normSq(v: Column): Column = dot(v, v)

  /** Cosine similarity, sequential-fold. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** X6 UDF surface: L2 norm as a Scala UDF. Deliberately a UDF (the one
    * non-codegen scalar in the library) so the extension path is
    * exercised and benchmarked against the HOF equivalent. */
  val l2NormUdf = udf((v: Seq[Float]) => {
    var s = 0.0d
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  })

  /** X7 UDAF surface: element-wise mean (centroid) of float vectors.
    * Typed `Aggregator` with a mutable Array buffer — partial aggregation
    * (map-side combine) happens exactly like built-in aggregates, so the
    * shuffle carries one (sums, count) buffer per group per partition,
    * never the raw vectors. */
  object CentroidAgg
      extends Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {
    def zero: (Array[Double], Long) = (Array.empty[Double], 0L)

    def reduce(b: (Array[Double], Long),
        v: Seq[Float]): (Array[Double], Long) = {
      val acc = if (b._1.isEmpty) new Array[Double](v.length) else b._1
      var i = 0
      while (i < v.length) { acc(i) += v(i); i += 1 }
      (acc, b._2 + 1)
    }

    def merge(x: (Array[Double], Long),
        y: (Array[Double], Long)): (Array[Double], Long) = {
      if (x._1.isEmpty) y
      else if (y._1.isEmpty) x
      else {
        var i = 0
        while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
        (x._1, x._2 + y._2)
      }
    }

    def finish(r: (Array[Double], Long)): Seq[Double] =
      if (r._2 == 0L) Seq.empty else r._1.map(_ / r._2).toSeq

    def bufferEncoder: Encoder[(Array[Double], Long)] =
      ExpressionEncoder[(Array[Double], Long)]()
    def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()
  }

  /** CentroidAgg as an untyped column function. */
  val centroidUdaf =
    udaf(CentroidAgg, ExpressionEncoder[Seq[Float]]())

  /** Element-wise EXACT long-vector sum + member count — the Lloyd
    * mean's aggregation kernel (queries/Ann.scala). Integer adds are
    * order-free, so partial aggregation/merge order can never change
    * the result (the engine-exact k-means discipline); the shuffle
    * carries ONE (dim-long buffer, count) per (cell × partition)
    * instead of dim exploded rows per corpus row, and the grouping
    * key (the kmeans_cell kernel) is evaluated once per input row —
    * the exploded groupBy spelling re-ran the C·dim argmin per
    * exploded ELEMENT (dim× the work, found by jstack at sf10gk,
    * round 19). */
  object VecSumLongAgg
      extends Aggregator[Seq[Long], (Array[Long], Long), (Seq[Long], Long)] {
    def zero: (Array[Long], Long) = (Array.empty[Long], 0L)

    def reduce(b: (Array[Long], Long),
        v: Seq[Long]): (Array[Long], Long) = {
      val acc = if (b._1.isEmpty) new Array[Long](v.length) else b._1
      var i = 0
      while (i < v.length) { acc(i) += v(i); i += 1 }
      (acc, b._2 + 1)
    }

    def merge(x: (Array[Long], Long),
        y: (Array[Long], Long)): (Array[Long], Long) = {
      if (x._1.isEmpty) y
      else if (y._1.isEmpty) x
      else {
        var i = 0
        while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
        (x._1, x._2 + y._2)
      }
    }

    def finish(r: (Array[Long], Long)): (Seq[Long], Long) =
      (r._1.toSeq, r._2)

    def bufferEncoder: Encoder[(Array[Long], Long)] =
      ExpressionEncoder[(Array[Long], Long)]()
    def outputEncoder: Encoder[(Seq[Long], Long)] =
      ExpressionEncoder[(Seq[Long], Long)]()
  }

  /** VecSumLongAgg as an untyped column function: returns a struct
    * `(_1: ARRAY<BIGINT> sums, _2: BIGINT count)`. */
  val vecSumLongUdaf =
    udaf(VecSumLongAgg, ExpressionEncoder[Seq[Long]]())
}
