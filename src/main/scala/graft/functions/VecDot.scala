package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: dot product of two float vectors in
  * double precision, accumulated left-to-right — bitwise-identical to the
  * sequential `aggregate(zip_with(...))` HOF fold it replaces, INCLUDING
  * null semantics: `zip_with` null-pads the shorter vector and the fold's
  * `acc + null` poisons the sum, so the HOF form yields NULL for
  * length-mismatched vectors or any null element. This expression returns
  * null in exactly those cases, so the VecDotRewrite substitution is safe
  * on malformed data too (ADVICE r2 item 3).
  *
  * Why a custom Expression (SURVEY.md §4.2 preference ladder b): the
  * HOF fold is a CodegenFallback — per-row lambda interpretation
  * allocates and boxes for every element. This generates a tight
  * primitive loop inside whole-stage codegen; measured ~3× on the
  * cosine-pair queries at sf0.1. */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  // null also on length mismatch / null element, not only null inputs
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDotExpr = copy(newLeft, newRight)
}

/** Session extensions: registers the engine's native functions. Wired
  * via `SparkSession.builder.withExtensions` (Sessions.local) — the
  * standard extension-point a deployment would also reach with
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.register(ext)
}

object GraftExtensions {
  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
      (children: Seq[Expression]) =>
        VecDotExpr(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("adc_gather"),
      new ExpressionInfo(classOf[AdcGatherExpr].getName, "adc_gather"),
      (children: Seq[Expression]) =>
        AdcGatherExpr(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("char_fold"),
      new ExpressionInfo(classOf[CharFoldExpr].getName, "char_fold"),
      (children: Seq[Expression]) => CharFoldExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("char_fold64"),
      new ExpressionInfo(classOf[CharFold64Expr].getName,
        "char_fold64"),
      (children: Seq[Expression]) => CharFold64Expr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("kmeans_nearest_cells"),
      new ExpressionInfo(classOf[KmeansNearestCells].getName,
        "kmeans_nearest_cells"),
      (children: Seq[Expression]) =>
        KmeansNearestCells(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("kmeans_cell"),
      new ExpressionInfo(classOf[KmeansCell].getName, "kmeans_cell"),
      (children: Seq[Expression]) =>
        KmeansCell(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("cms_probe_long"),
      new ExpressionInfo(classOf[CmsProbeLong].getName,
        "cms_probe_long"),
      (children: Seq[Expression]) =>
        CmsProbeLong(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName,
        "jaro_winkler"),
      (children: Seq[Expression]) =>
        JaroWinklerExpr(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("damerau_levenshtein"),
      new ExpressionInfo(classOf[DamerauLevenshteinExpr].getName,
        "damerau_levenshtein"),
      (children: Seq[Expression]) =>
        DamerauLevenshteinExpr(children(0), children(1))))
    // custom generator (TextBigrams.scala): row-local bigram fan-out,
    // replacing the posexplode→window-lead route with a Generate node
    ext.injectFunction((
      new FunctionIdentifier("text_bigrams"),
      new ExpressionInfo(classOf[TextBigramsExpr].getName,
        "text_bigrams"),
      (children: Seq[Expression]) => TextBigramsExpr(children.head)))
    // mergeable KMV bottom-k distinct family (KmvSketch.scala): build
    // from pre-hashed 60-bit longs, re-aggregate persisted sketch
    // bytes (k travels in the sketch), extract estimate / fill
    ext.injectFunction((
      new FunctionIdentifier("kmv_sketch_agg"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName,
        "kmv_sketch_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(v) => KmvSketchAgg(v, 256)
        case Seq(v, k) => KmvSketchAgg(v,
          k.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "kmv_sketch_agg(hash60[, k])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_merge_agg"),
      new ExpressionInfo(classOf[KmvMergeAgg].getName,
        "kmv_merge_agg"),
      (children: Seq[Expression]) => KmvMergeAgg(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("kmv_estimate"),
      new ExpressionInfo(classOf[KmvEstimateExpr].getName,
        "kmv_estimate"),
      (children: Seq[Expression]) => KmvEstimateExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("kmv_kept"),
      new ExpressionInfo(classOf[KmvKeptExpr].getName, "kmv_kept"),
      (children: Seq[Expression]) => KmvKeptExpr(children.head)))
    // single-pass Rabin-Karp window fingerprints (RollingHash.scala):
    // the substring-dedup scale path (E288) — n/stride longs per doc
    // instead of materialized window strings
    ext.injectFunction((
      new FunctionIdentifier("rolling_hashes"),
      new ExpressionInfo(classOf[RollingHashExpr].getName,
        "rolling_hashes"),
      (children: Seq[Expression]) =>
        RollingHashExpr(children(0), children(1), children(2))))
    // 2D Hilbert-curve index (HilbertIndex.scala): the locality
    // clustering key for range-sorted layouts (E311), next to z-order
    ext.injectFunction((
      new FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndexExpr].getName,
        "hilbert_index"),
      (children: Seq[Expression]) =>
        HilbertIndexExpr(children(0), children(1), children(2))))
    // Spark's own runtime-filter Bloom machinery, exposed as callable
    // functions (the optimizer only plants these itself inside
    // InjectRuntimeFilter): bloom_agg builds a
    // org.apache.spark.util.sketch.BloomFilter over xxhash64 longs as
    // a TypedImperativeAggregate (map-side partial, mergeable buffers),
    // bloom_might_contain probes it — the incremental-dedup tier
    // (q_dedup_incremental) needs them user-invocable because the
    // automatic rule only fires on equi-join shapes, not on an
    // anti-join-vs-snapshot pipeline.
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(v) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(v)
        case Seq(v, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(v, n)
        case _ => throw new IllegalArgumentException(
          "bloom_agg(xxhash64_value[, estimated_items])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(children(0), children(1))))
    // bucketed-bitmap distinct cells (BitmapCells.scala): build from
    // raw longs (adaptive containers), OR-merge MAP<bucket, container>
    // summary cells, count = exact distinct
    ext.injectFunction((
      new FunctionIdentifier("bitmap_map_construct_agg"),
      new ExpressionInfo(classOf[BitmapMapConstructAgg].getName,
        "bitmap_map_construct_agg"),
      (children: Seq[Expression]) =>
        BitmapMapConstructAgg(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_map_count_agg"),
      new ExpressionInfo(classOf[BitmapMapCountAgg].getName,
        "bitmap_map_count_agg"),
      (children: Seq[Expression]) => BitmapMapCountAgg(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_map_merge_agg"),
      new ExpressionInfo(classOf[BitmapMapMergeAgg].getName,
        "bitmap_map_merge_agg"),
      (children: Seq[Expression]) => BitmapMapMergeAgg(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_map_sum_agg"),
      new ExpressionInfo(classOf[BitmapMapSumAgg].getName,
        "bitmap_map_sum_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(m) => BitmapMapSumAgg(m, ansi = false)
        case Seq(m, a) =>
          // validate BEFORE eval (ADVICE r16): a NULL literal used to
          // NPE and a non-foldable/non-boolean arg to ClassCastException
          // at resolution time — raise the usage error instead
          val v =
            if (a.foldable &&
              a.dataType == org.apache.spark.sql.types.BooleanType)
              a.eval()
            else null
          v match {
            case b: java.lang.Boolean => BitmapMapSumAgg(m, b)
            case _ => throw new IllegalArgumentException(
              "bitmap_map_sum_agg(cell[, ansi]): second argument " +
                "must be a foldable non-null BOOLEAN literal")
          }
        case _ => throw new IllegalArgumentException(
          "bitmap_map_sum_agg(cell[, ansi])")
      }))
    ext.injectOptimizerRule(_ => graft.plans.VecDotRewrite)
    ext.injectOptimizerRule(_ => graft.plans.EditDistPrefilter)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
    ext.injectOptimizerRule(_ => graft.plans.RollupRewrite)
    // whole-operator extensions (SURVEY §4.2 rung c): the TopKPerKey
    // bounded-heap operator and the native streaming-merge as-of join
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // AQE query-stage preparation: small total-order sorts in one task
    ext.injectQueryStagePrepRule(graft.plans.SmallSortOneTask)
  }
}
