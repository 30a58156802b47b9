package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType,
  LongType, StructType}

/** `kmeans_nearest_cells(cents, q, k)` — the k nearest coarse-quantizer
  * cells for one micro-unit vector, ordered by exact integer
  * (squared-L2, cell-id) — the IVF assignment/probe kernel of the
  * learned-cell ANN family (queries/Ann.scala).
  *
  * Why native: the same argmin is expressible with
  * transform + aggregate + array_sort HOFs, but every higher-order
  * function is a CodegenFallback — per row the interpreter allocates
  * C zipped arrays and folds them lambda-by-lambda, which turns a
  * C·dim multiply-add loop (~2k fused ops) into thousands of object
  * allocations. This expression parses the FOLDABLE centroid matrix
  * once per executor (transient lazy, the CmsProbeLong discipline)
  * and runs the whole scan as primitive long loops; generated code
  * makes one virtual call per row.
  *
  * Arguments: `cents` must be a foldable ARRAY<STRUCT<c_id BIGINT,
  * cv ARRAY<BIGINT>>> (the driver-collected Lloyd centroids passed
  * back as a literal), `q` an ARRAY<BIGINT> of the same dimension,
  * `k` a foldable positive INT; returns ARRAY<BIGINT> of min(k, C)
  * cell ids. Ties break on the lower cell id, mirroring the DuckDB
  * oracle's `ORDER BY dist, c_id`. */
case class KmeansNearestCells(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(s: StructType, _), ArrayType(LongType, _),
          IntegerType)
        if s.fields.length == 2 && s.fields(0).dataType == LongType &&
          (s.fields(1).dataType match {
            case ArrayType(LongType, _) => true
            case _ => false
          }) =>
        if (!first.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(
            "kmeans_nearest_cells requires FOLDABLE cents and k " +
              "arguments (pass the centroid matrix and k as literals)")
        else TypeCheckResult.TypeCheckSuccess
      case (c, q, k) => TypeCheckResult.TypeCheckFailure(
        "kmeans_nearest_cells requires (ARRAY<STRUCT<BIGINT, " +
          s"ARRAY<BIGINT>>> cents, ARRAY<BIGINT> q, INT k), got " +
          s"(${c.sql}, ${q.sql}, ${k.sql})")
    }

  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "kmeans_nearest_cells"

  @transient private lazy val (ids, cvs): (Array[Long],
      Array[Array[Long]]) = {
    val arr = first.eval().asInstanceOf[ArrayData]
    val n = arr.numElements()
    // parse-time guard (ADVICE r19): an empty matrix would otherwise
    // rank zero cells per row and silently return empty probe sets
    require(n > 0, "kmeans_nearest_cells: empty centroid matrix — a " +
      "codebook/centroid set lost all members upstream")
    val outIds = new Array[Long](n)
    val outCvs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val st = arr.getStruct(i, 2)
      outIds(i) = st.getLong(0)
      outCvs(i) = st.getArray(1).toLongArray()
      i += 1
    }
    (outIds, outCvs)
  }

  @transient private lazy val k: Int = third.eval().asInstanceOf[Int]

  /** Called per row from both eval paths — primitive loops only. */
  def nearest(qRaw: Any): ArrayData = {
    val q = qRaw.asInstanceOf[ArrayData].toLongArray()
    val n = ids.length
    val dists = new Array[Long](n)
    var i = 0
    while (i < n) {
      val cv = cvs(i)
      require(cv.length == q.length,
        s"kmeans_nearest_cells: dim mismatch ${cv.length} vs ${q.length}")
      var d = 0L
      var j = 0
      while (j < cv.length) {
        val t = q(j) - cv(j)
        d += t * t
        j += 1
      }
      dists(i) = d
      i += 1
    }
    val m = math.min(math.max(k, 0), n)
    if (m > 64) {
      // full-ranking path (the adaptive probe asks for k = C): an
      // O(k·C) selection is O(C²) — 6×10⁸ per probe at C = 25k —
      // while a comparator sort is C·log C; only ~50 probe rows ever
      // take this path, so the boxed index array is irrelevant
      val idx = Array.tabulate(n)(Integer.valueOf)
      java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
        val c = java.lang.Long.compare(dists(a), dists(b))
        if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
      })
      val sel = new Array[Long](m)
      var r = 0
      while (r < m) { sel(r) = ids(idx(r)); r += 1 }
      new GenericArrayData(sel)
    } else {
      val sel = new Array[Long](m)
      val used = new Array[Boolean](n)
      var r = 0
      while (r < m) {
        var best = -1
        var bd = Long.MaxValue
        var bid = Long.MaxValue
        i = 0
        while (i < n) {
          if (!used(i) && (dists(i) < bd ||
              (dists(i) == bd && ids(i) < bid))) {
            best = i; bd = dists(i); bid = ids(i)
          }
          i += 1
        }
        sel(r) = ids(best)
        used(best) = true
        r += 1
      }
      new GenericArrayData(sel)
    }
  }

  override protected def nullSafeEval(cents: Any, q: Any,
      kv: Any): Any = nearest(q)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kmeansCells", this,
      classOf[KmeansNearestCells].getName)
    defineCodeGen(ctx, ev, (_, q, _) => s"$ref.nearest($q)")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): KmeansNearestCells =
    copy(newFirst, newSecond, newThird)
}

/** `kmeans_cell(cents, q)` — the single nearest cell id, the k=1
  * scalar companion of [[KmeansNearestCells]] (same integer distance,
  * same id tiebreak). A distinct entry point rather than
  * `element_at(kmeans_nearest_cells(…), 1)`: the assignment site is
  * the hottest consumer (one call per corpus row per Lloyd pass, C
  * cells each) and this form allocates NOTHING per row — no distance
  * array, no result ArrayData — and abandons a cell's distance loop
  * as soon as the running sum strictly exceeds the best-so-far
  * (monotone partial sums of squares; ties still finish the loop so
  * the id tiebreak stays exact). Measured at sf10gk/C=4096: the
  * delegating k=1 spelling (per-row 4096-long dist buffer + selection
  * + GenericArrayData) ran the 200k-row assignment pass in ~45 s;
  * this one is bounded by the early-exited multiply-adds alone. */
case class KmeansCell(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private val inner = KmeansNearestCells(left, right,
    org.apache.spark.sql.catalyst.expressions.Literal(1))

  override def checkInputDataTypes(): TypeCheckResult =
    inner.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckFailure(m) =>
        TypeCheckResult.TypeCheckFailure(
          m.replace("kmeans_nearest_cells", "kmeans_cell"))
      case ok => ok
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "kmeans_cell"

  @transient private lazy val (ids, cvs): (Array[Long],
      Array[Array[Long]]) = {
    val arr = left.eval().asInstanceOf[ArrayData]
    val n = arr.numElements()
    // parse-time guard (ADVICE r19): the old code returned the
    // Long.MaxValue sentinel on an empty matrix, which downstream
    // element_at map lookups turned into silent nulls — a PQ subspace
    // whose codebook loses all members must fail with a message
    require(n > 0, "kmeans_cell: empty centroid matrix — a " +
      "codebook/centroid set lost all members upstream")
    val outIds = new Array[Long](n)
    val outCvs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val st = arr.getStruct(i, 2)
      outIds(i) = st.getLong(0)
      outCvs(i) = st.getArray(1).toLongArray()
      i += 1
    }
    (outIds, outCvs)
  }

  def cell(qRaw: Any): Long = {
    val q = qRaw.asInstanceOf[ArrayData].toLongArray()
    val n = ids.length
    require(cvs(0).length == q.length,
      s"kmeans_cell: dim mismatch ${cvs(0).length} vs ${q.length}")
    var bd = Long.MaxValue
    var bid = Long.MaxValue
    var i = 0
    while (i < n) {
      val cv = cvs(i)
      val len = cv.length
      var d = 0L
      var j = 0
      // exit only on STRICT excess: a partial sum equal to the best
      // must finish, or an equal-distance lower-id cell would be lost
      while (j < len && d <= bd) {
        val t = q(j) - cv(j)
        d += t * t
        j += 1
      }
      if (j == len && (d < bd || (d == bd && ids(i) < bid))) {
        bd = d
        bid = ids(i)
      }
      i += 1
    }
    bid
  }

  override protected def nullSafeEval(cents: Any, q: Any): Any = cell(q)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kmeansCell", this,
      classOf[KmeansCell].getName)
    defineCodeGen(ctx, ev, (_, q) => s"$ref.cell($q)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): KmeansCell = copy(newLeft, newRight)
}
