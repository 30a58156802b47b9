package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-call MATERIALIZE-AND-REGISTER for the aggregate navigator —
  * the user-facing half of [[RollupRewrite]]. It builds every cell
  * kind the rule merges: per measure, the sum/min/max cells, the
  * non-null count (AVG's denominator), the Σx² cell (stddev/var), and
  * per distinct measure the adaptive container cell — all in one
  * aggregation at the declared grain, plus count(*). The registered
  * rows in queries/Rollups.scala hand-write narrower builds (only the
  * cells their queries read, some over expression measures or
  * stream-maintained stores), which this helper would widen with
  * unused cells; `q_agg_rollup_build_api` is the row that adopts it.
  * Adopting the navigator for a new fact table is one call:
  *
  * {{{
  * RollupBuild.materialize(spark, base, dir,
  *   dims = Seq("day" -> to_date($"ts"), "kind" -> $"event_type"),
  *   measures = Seq("value" -> $"value"),
  *   distincts = Seq("user" -> $"user_id"))
  * }}}
  *
  * after which every naive sum/min/max/count/count(m)/avg/stddev/var/
  * count(DISTINCT m) aggregate at the grain (or any coarser subset,
  * any dim-only filter, grouping sets, star join-back) silently reads
  * the cells. Numeric measures are summed as-is — quantize to DECIMAL
  * in the caller's Column when exact re-summation matters, and mind
  * register()'s M2 conditioning caveat for stats over
  * large-mean/small-sigma measures (the helper registers stats cells
  * for every measure; pass `stats = false` to opt a build out).
  * Distinct measures must be integral (LongType after an implicit
  * cast) — [[graft.functions.BitmapMapConstructAgg]]'s contract.
  *
  * Scale shape: the build is ONE partial-aggregable hash aggregation
  * over the base (map-side combine does the heavy lifting; no
  * expand, no join, no second grouping level), written once and read
  * by every dashboard query thereafter — the ingest-time amortized
  * cost the navigator trades against per-query fact scans. */
object RollupBuild {

  private def isIntegral(dt: org.apache.spark.sql.types.DataType) =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Build the summary parquet at `dir` and register it. Returns the
    * registered summary DataFrame. Cell naming: `<m>_sum/_min/_max/
    * _cnt/_sq` per measure, `<d>_bm` per distinct, `cnt` for
    * count(*). */
  def materialize(spark: SparkSession, base: DataFrame, dir: String,
      dims: Seq[(String, Column)],
      measures: Seq[(String, Column)],
      distincts: Seq[(String, Column)] = Nil,
      stats: Boolean = true): DataFrame = {
    require(dims.nonEmpty, "RollupBuild: at least one dim")
    // the integral contract is ENFORCED, not just documented (ADVICE
    // r16): the build casts each distinct column to long, which is
    // injective for integral inputs only — a double/decimal/string
    // column would collide (1.5 and 1.7 both → 1) or silently drop
    // unparseable values, yet countDistinct on the RAW column would
    // still match the registered template and return wrong answers.
    // Fail loud at build time instead.
    if (distincts.nonEmpty) {
      val resolved = base.select(distincts.map(_._2): _*).schema
      distincts.map(_._1).zip(resolved).foreach { case (n, f) =>
        require(isIntegral(f.dataType),
          s"RollupBuild: distinct column '$n' must be integral " +
            s"(Byte/Short/Int/Long) — the bitmap cell encodes exact " +
            s"long identities; got ${f.dataType.simpleString}")
      }
    }
    val measureCells: Seq[Column] = measures.flatMap { case (n, c) =>
      val d = c.cast("double")
      Seq(sum(c).as(s"${n}_sum"), min(c).as(s"${n}_min"),
        max(c).as(s"${n}_max"), count(c).as(s"${n}_cnt")) ++
        (if (stats) Seq(sum(d * d).as(s"${n}_sq")) else Nil)
    }
    // the construct aggregate has no DSL wrapper; route through the
    // registered SQL function so the build stays one expression list.
    // The cast-to-long is BUILD-side only (the container contract);
    // the registration template below stays the RAW column so the
    // user's countDistinct(col) matches whatever integral width the
    // column has — the widening cast is injective, so the cell's
    // distinct set is the column's.
    val distinctAggs: Seq[Column] = distincts.map { case (n, c) =>
      call_function("bitmap_map_construct_agg", c.cast("long"))
        .as(s"${n}_bm")
    }
    val allCells = (count(lit(1)).as("cnt") +: measureCells) ++
      distinctAggs
    base.groupBy(dims.map { case (n, c) => c.as(n) }: _*)
      .agg(allCells.head, allCells.tail: _*)
      .write.mode("overwrite").parquet(dir)
    val summary = spark.read.parquet(dir)
    RollupRewrite.register(
      base = base,
      dims = dims,
      sums = measures.map { case (n, c) => s"${n}_sum" -> c },
      mins = measures.map { case (n, c) => s"${n}_min" -> c },
      maxs = measures.map { case (n, c) => s"${n}_max" -> c },
      cntCol = "cnt",
      summary = summary,
      avgs = measures.map { case (n, c) =>
        (s"${n}_sum", s"${n}_cnt", c.cast("double"))
      },
      stats =
        if (stats) measures.map { case (n, c) =>
          (s"${n}_sum", s"${n}_sq", s"${n}_cnt", c.cast("double"))
        } else Nil,
      distincts = distincts.map { case (n, c) => s"${n}_bm" -> c })
    summary
  }
}
