package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helper so interpreted eval and generated code share one
  * implementation. Iterates Unicode code points (matching DuckDB's
  * `unicode(c)` and Spark's `ascii(c)` per-character semantics). */
object CharFoldHelper {
  final val P = 1000003L
  def fold(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Full-width 64-bit variant: the same code-point polynomial WITHOUT
    * the mod-P reduction — Java long arithmetic wraps mod 2^64, which
    * is the whole point. [[fold]]'s ~2^20-value range is fine for
    * bucketing (minhash bands, blur noise) but NOT for set identity:
    * at a ×1000 corpus the distinct-shingle vocabulary exceeds 2^20,
    * so mod-P collisions are guaranteed by pigeonhole and the "exact"
    * Jaccard family would silently merge unrelated shingles (ADVICE
    * r17 high). At 2^64 the birthday bound over a billion-shingle
    * vocabulary is ~1e9²/2^65 ≈ 3e-2 expected collisions corpus-wide —
    * negligible, and the DuckDB oracle folds the identical polynomial
    * (HUGEINT accumulator reduced mod 2^64 each step, then mapped to
    * the signed representative), so engine parity holds by
    * construction even if one occurred. */
  def fold64(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = acc * 31L + cp
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Column/SQL-level entry points to the portable hash, shared by the
  * LLM-ops queries and the 4CE portable-blur obfuscation path so every
  * consumer (and every DuckDB oracle) folds identically. */
object PortableHash {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  final val P: Long = CharFoldHelper.P

  /** Native codegen'd form — requires the `char_fold` function
    * registered by [[GraftExtensions]] (graft.Sessions does). */
  def charFold(s: Column): Column = call_function("char_fold", s)

  /** Pure-built-in HOF form — identical values on any SparkSession,
    * no extension registration needed; CodegenFallback-slow, so only
    * for small post-aggregation row counts (e.g. obfuscation noise). */
  def charFoldHof(s: Column): Column =
    aggregate(transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L), (a, c) => (a * 31L + c) % P)

  /** Same hash in DuckDB SQL over the given SQL string expression. */
  def charFoldSql(s: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($s, ''),
       |    c -> CAST(unicode(c) AS BIGINT))),
       |  (a, c) -> (a * 31 + c) % $P)""".stripMargin

  /** Full-width 64-bit form ([[CharFoldHelper.fold64]]) — the shingle
    * IDENTITY hash of the exact-Jaccard family: verifyJaccard and
    * ngramPairs join on this, not on [[charFold]]. Their DuckDB oracles
    * join on the shingle strings themselves, so strict parity checks
    * that no two shingles of the fixture share a 64-bit value.
    * The mod-P fold's ~2^20-value range is pigeonhole-collided once the
    * distinct-shingle vocabulary passes a million (the ×1000 rung corpus
    * holds orders of magnitude more), which would silently inflate
    * common-shingle counts and leak false near-dup pairs into every
    * pair-graph consumer (ADVICE r17 high). [[charFold]] remains the
    * BUCKETING hash where a bounded range is the point (minhash band
    * permutations mod P, simhash bit votes, blur noise, sampling
    * spread). Native only (requires
    * the `char_fold64` function [[GraftExtensions]] registers): a
    * built-in HOF form cannot exist under ANSI mode, where Spark's
    * `Multiply`/`Add` raise on the very 64-bit wraparound the hash is
    * defined by; the native expression uses raw Java arithmetic. */
  def charFold64(s: Column): Column = call_function("char_fold64", s)
}

/** Native codegen'd form of the portable char-fold polynomial hash
  * `fold(chars, (a,c) => (a*31 + codepoint(c)) mod 1000003)` — same
  * values as the `aggregate(transform(split(s,"")))` HOF chain
  * (LLMOps.charFoldHof) and the DuckDB `list_reduce` oracle form, minus
  * the per-character array allocation and lambda interpretation of the
  * HOF path (it is a CodegenFallback). Registered as `char_fold` by
  * [[GraftExtensions]]. */
case class CharFoldExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "char_fold"

  override protected def nullSafeEval(input: Any): Any =
    CharFoldHelper.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharFoldHelper.fold($c)")

  override protected def withNewChildInternal(
      newChild: Expression): CharFoldExpr = copy(newChild)
}

/** Native codegen'd form of [[CharFoldHelper.fold64]] — the full-width
  * 64-bit shingle-identity hash (see fold64's doc for why the exact
  * family must not ride the mod-P fold). Registered as `char_fold64`
  * by [[GraftExtensions]]. No HOF fallback exists: under ANSI mode
  * Spark's arithmetic raises on the 64-bit wraparound this hash is
  * defined by, so this expression is its only form. */
case class CharFold64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "char_fold64"

  override protected def nullSafeEval(input: Any): Any =
    CharFoldHelper.fold64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharFoldHelper.fold64($c)")

  override protected def withNewChildInternal(
      newChild: Expression): CharFold64Expr = copy(newChild)
}
