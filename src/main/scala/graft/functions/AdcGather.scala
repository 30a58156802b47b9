package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `adc_gather(books_ids, dtab, codes)` — the ADC (asymmetric distance
  * computation) inner loop of the PQ retrieval tiers
  * (queries/Ann.scala) as a table lookup: the probe side
  * precomputes, ONCE per probe on the driver, the squared-L2 distance
  * from its subvector to EVERY codebook centroid (the classical ADC
  * distance table — M·K longs per probe, ≤ 8·64·8 B = 4 KB), and the
  * per-corpus-row distance collapses to M gathers
  * `Σ_sub dtab[off(sub) + idx(codes[sub])]`.
  *
  * Exactly the same integers as the fold it replaces: the old spelling
  * reconstructed the corpus row (`concat` of M `element_at` codebook
  * lookups) and folded `Σ_dim (q_dim − recon_dim)²` with
  * `aggregate(zip_with(...))`; this groups the same 64 terms by
  * subspace first. Long addition is associative and commutative (exact
  * two's-complement arithmetic), so the value is bit-identical — the
  * DuckDB oracle keeps the unrolled fold spelling, so parity is
  * checked across the two FORMS, not just the two engines.
  *
  * Why native + table-form (SURVEY.md §4.2 ladder b, guide §4): the
  * fold spelling is a CodegenFallback chain — per (corpus row × probe)
  * it allocates the reconstruction array, a zipped array, and
  * interprets ~64 lambda applications; this expression does M binary
  * searches over the per-subspace code-id tables (parsed once per
  * executor from the foldable literal) and M primitive adds — no
  * allocation, whole-stage-codegen friendly (one virtual call per
  * row). At the 100 TB design point the global ADC scan touches every
  * corpus row per probe batch, so the per-row constant IS the scan
  * cost.
  *
  * Arguments: `books_ids` must be a FOLDABLE ARRAY<ARRAY<BIGINT>> —
  * per subspace, the codebook's code ids sorted ascending (the layout
  * contract for `dtab`); `dtab` an ARRAY<BIGINT> of Σ_sub K_sub
  * distances laid out subspace-major in that same id order; `codes`
  * an ARRAY<BIGINT> of one code id per subspace. Returns BIGINT.
  * Nulls: null in any argument → null (ternary null-intolerant
  * default); a code id absent from its subspace's id table raises —
  * codes are produced by the same codebooks, so a miss is corruption,
  * not data. */
case class AdcGatherExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "adc_gather"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(ArrayType(LongType, _), _), ArrayType(LongType, _),
          ArrayType(LongType, _)) =>
        if (!first.foldable)
          TypeCheckResult.TypeCheckFailure(
            "adc_gather requires a FOLDABLE books_ids argument (pass " +
              "the per-subspace sorted code-id tables as a literal)")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "adc_gather requires (ARRAY<ARRAY<BIGINT>> books_ids, " +
          s"ARRAY<BIGINT> dtab, ARRAY<BIGINT> codes), got " +
          s"(${a.sql}, ${b.sql}, ${c.sql})")
    }

  /** Per-subspace sorted id tables + their offsets into the flat
    * dtab layout — parsed once per executor (the KmeansCells
    * discipline). */
  @transient private lazy val (ids, offs): (Array[Array[Long]],
      Array[Int]) = {
    val arr = first.eval().asInstanceOf[ArrayData]
    val m = arr.numElements()
    require(m > 0, "adc_gather: empty books_ids — a codebook set " +
      "lost all subspaces upstream")
    val outIds = new Array[Array[Long]](m)
    val outOffs = new Array[Int](m)
    var off = 0
    var s = 0
    while (s < m) {
      val t = arr.getArray(s).toLongArray()
      require(t.nonEmpty,
        s"adc_gather: subspace $s has an empty code-id table")
      var j = 1
      while (j < t.length) {
        require(t(j - 1) < t(j),
          s"adc_gather: subspace $s id table not strictly ascending")
        j += 1
      }
      outIds(s) = t
      outOffs(s) = off
      off += t.length
      s += 1
    }
    (outIds, outOffs)
  }

  /** Called per row from both eval paths — primitive loops only. */
  def gather(dtabRaw: Any, codesRaw: Any): Long = {
    val dtab = dtabRaw.asInstanceOf[ArrayData]
    val codes = codesRaw.asInstanceOf[ArrayData]
    val m = ids.length
    require(codes.numElements() == m,
      s"adc_gather: ${codes.numElements()} codes for $m subspaces")
    var d = 0L
    var s = 0
    while (s < m) {
      val idx = java.util.Arrays.binarySearch(ids(s), codes.getLong(s))
      require(idx >= 0, s"adc_gather: code ${codes.getLong(s)} not in " +
        s"subspace $s's codebook")
      d += dtab.getLong(offs(s) + idx)
      s += 1
    }
    d
  }

  override protected def nullSafeEval(books: Any, dtab: Any,
      codes: Any): Any = gather(dtab, codes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcGather", this,
      classOf[AdcGatherExpr].getName)
    defineCodeGen(ctx, ev, (_, dtab, codes) => s"$ref.gather($dtab, $codes)")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): AdcGatherExpr =
    copy(newFirst, newSecond, newThird)
}
