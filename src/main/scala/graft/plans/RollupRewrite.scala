package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{approx_count_distinct, struct}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, Cast, Coalesce, Expression, ExprId, Literal,
  NamedExpression}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Corr, Count, CovPopulation,
  CovSample, Max, Min, StddevPop, StddevSamp, Sum, VariancePop,
  VarianceSamp}
import org.apache.spark.sql.catalyst.expressions.{Greatest, If,
  Multiply, Sqrt, Subtract}
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo,
  GreaterThanOrEqual, IsNotNull, LessThan, PlanExpression,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner,
  LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand,
  Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.{types => types}
import org.apache.spark.sql.types.{DateType, TimestampType}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Optimizer rule: **aggregate-navigator / materialized-rollup
  * rewrite**. A query that aggregates the base fact table at a grain
  * COARSER than (or equal to) a registered materialized rollup's
  * grain, using only re-aggregable measures, is answered from the
  * rollup instead of the base scan:
  *
  *   Aggregate(G ⊆ dims, {sum(m), count(*), min(m), max(m)},
  *             scan(base))
  *   ⇒ Aggregate(G→rollup dims, {sum(sum_m), sum(cnt),
  *               min(min_m), max(max_m)}, scan(rollup))
  *
  * — the classic OLAP "aggregate navigator" every cube server ships
  * (Kimball's summary-table navigation; materialized-view rewrite in
  * warehouse engines): the user writes the naive query against the
  * 100 TB fact table and reads the kilobyte rollup. Correctness rests
  * on the algebra alone: SUM and COUNT are distributive (sum of
  * per-cell sums, sum of per-cell counts), MIN/MAX are idempotent
  * semilattice merges, and any grouping that is a SUBSET of the
  * rollup's dimensions re-partitions whole cells, never splits one.
  * AVG over a DOUBLE measure re-aggregates as Σsums/Σcounts when the
  * registration supplies a PER-MEASURE non-null count column (round
  * 14); decimal AVG and DISTINCT aggregates stay out of scope — the
  * former would have to reproduce Average's precision/scale algebra
  * digit-for-digit, the latter needs exact cell identity — and their
  * presence disables the rewrite.
  *
  * Matching is name-free and expression-exact: the registered dim and
  * measure SOURCE expressions are re-anchored onto the candidate
  * scan's attributes by column name, then compared with
  * `semanticEquals` against the query's (alias-resolved) grouping and
  * aggregate children — `to_date(l_shipdate)` matches however the
  * user spells it, and anything else refuses. Output attributes keep
  * their original `ExprId`s (and a cast back to the original result
  * type where decimal-sum widening differs), so the parent plan never
  * notices the substitution.
  *
  * Round 15 made the single rewrite a NAVIGATOR:
  *  - a summary LATTICE per base (multiple registered grains, the
  *    coarsest qualifying one answers each query — including falling
  *    PAST a coarse summary whose dims cannot express the query's
  *    filter or distinct argument);
  *  - GROUP BY ROLLUP/CUBE/GROUPING SETS (the Expand plan shape)
  *    re-pointed at summary cells — replication commutes with cell
  *    merging;
  *  - star-query JOIN-BACK: Aggregate over Join(base, dim) on a
  *    registered-dim equi-key becomes Join(summary, dim) — cells
  *    share their dim values, so the inner join duplicates/drops
  *    whole cells and the algebra is invariant under uniform
  *    per-cell duplication;
  *  - COUNT(DISTINCT dim) — exact, because the summary holds one
  *    cell per dim combination; COUNT(DISTINCT measure) — exact when
  *    the registration carries a bucketed-bitmap cell for the
  *    measure ([[graft.functions.BitmapMapCountAgg]], round 16):
  *    the cell stores the exact distinct set as MAP<bucket, bitmap>
  *    and OR-idempotence makes the merge safe under every path's
  *    cell replication (other distinct shapes still refuse);
  *  - HAVING/ORDER BY compose for free (output ExprIds preserved).
  *  All paths share ONE re-aggregation algebra (reAggShared) and are
  *  locked by a rule-on/off equivalence fuzz over random query
  *  shapes plus per-shape scan-redirect pins in OperatorSuite.
  *
  * Scope guards, each load-bearing:
  *  - the aggregate's child must be the registered base relation
  *    under deterministic column-pruning Projects / SubqueryAliases
  *    and (round 14) Filters whose every condition re-expresses over
  *    the DIM columns — a dim predicate selects whole cells, so it
  *    moves onto the summary scan verbatim; a predicate touching any
  *    non-dim column (a measure) would split cells the rollup already
  *    merged and still disables the rewrite;
  *  - every aggregate call must be FILTER-free and one of
  *    sum/count/min/max/avg/stddev/var over a registered measure
  *    source, or COUNT(DISTINCT dim);
  *  - every grouping expression must match a registered dim (or, in
  *    the join-back, pass through from the dimension side);
  *  - kill switch `spark.graft.rollup.enabled` (default on) for the
  *    rule-on/off equivalence test, and the registry is consulted by
  *    base-path identity so only explicitly registered tables ever
  *    rewrite.
  *
  * The (c) rung of SURVEY.md §4.2's ladder beside
  * [[RangeJoinBinning]]: only an optimizer rule can redirect a query
  * the user already wrote. Gated by E294 q_agg_rollup_rewrite (oracle
  * runs the naive SQL against the BASE table in DuckDB — the rewrite
  * must be invisible in the result), a PlanSuite lock (the rewritten
  * plan scans the rollup parquet, not lineitem), and an OperatorSuite
  * rule-on/off equivalence. */
object RollupRewrite extends Rule[LogicalPlan] {

  val EnabledConf = "spark.graft.rollup.enabled"

  /** Minimum cells-per-used-grain for the below-join pre-aggregate
    * (see the guard's comment at the decision site). */
  val CollapseMin = 8L

  /** One registered rollup: dims/measures as expressions over the
    * BASE relation's columns (re-anchored by name at match time),
    * plus the analyzed plan of the summary table and its columns. */
  /** Cell-column names for one BIVARIATE measure pair (round 15):
    * pairwise-complete count, Σx, Σy, Σxy, Σx², Σy² — the six
    * distributive moments corr / covar_samp / covar_pop merge from.
    * PAIRWISE matters: Spark's Corr/Cov* skip a row when EITHER side
    * is null, so every cell (including the count) must be built over
    * rows where BOTH measures are non-null, or nullable measures
    * diverge. */
  final case class BiStatCells(nCol: String, sxCol: String,
      syCol: String, sxyCol: String, sxxCol: String, syyCol: String)

  final case class RollupDef(
      basePath: String,
      dims: Seq[(String, Expression)],
      sums: Seq[(String, Expression)],
      mins: Seq[(String, Expression)],
      maxs: Seq[(String, Expression)],
      cntCol: String,
      summaryPlan: LogicalPlan,
      avgs: Seq[(String, String, Expression)] = Nil,
      stats: Seq[(String, String, String, Expression)] = Nil,
      bistats: Seq[(BiStatCells, Expression, Expression)] = Nil,
      distincts: Seq[(String, Expression)] = Nil,
      cells: Long = Long.MaxValue,
      grainNdv: Map[Set[String], Long] = Map.empty) {
    /** Identity for idempotent re-registration: the summary's own
      * file path when it is a file read (the normal case), else the
      * dim-name set — re-running a register() call replaces its prior
      * def instead of accumulating duplicates in the lattice. */
    def key: String = stripToRelation(summaryPlan, Map.empty)
      .collect { case (_, p, _, Nil) => p }
      .getOrElse(dims.map(_._1).sorted.mkString("dims:", ",", ""))
  }

  /** Per base path: ALL registered rollups, CHEAPEST first — the
    * navigator's summary LATTICE. A query is answered from the FIRST
    * def that matches. Round 17 made the order the measured CELL
    * COUNT (counted once at registration from the summary's parquet
    * footers), dims.size as the tiebreak: fewest-dims-first is only a
    * proxy, and two same-arity grains on one base (day×priority vs
    * day×custkey, both real registrations here) can differ by orders
    * of magnitude in cells — exactly the HRU lattice-descent rule
    * (answer from the qualifying view with the fewest rows). */
  private val registry =
    new ConcurrentHashMap[String, List[RollupDef]]()

  /** Register a rollup for the table `base` reads. `summary` must be
    * the READ of the materialized table whose columns are: one per
    * dim name, one per measure name, plus `cntCol` holding the
    * per-cell row count. Template expressions are obtained by
    * ANALYZING `base.select(...)` — a Spark 4 Column is a lazy
    * ColumnNode wrapper, not a Catalyst tree, so only the analyzer
    * produces the normalized expression (resolved casts, time zones)
    * that `semanticEquals` can later compare against real query
    * plans. Idempotent per path (latest wins).
    *
    * '''Numerical conditioning caveat for `stats` / `bistats`'''
    * (ADVICE r15): the rewrite merges stddev/var from sum-of-squares
    * cells (M2 = Σx² − (Σx)²/n) and corr/covar from the six pairwise
    * moments — the TEXTBOOK forms, which are catastrophically
    * ill-conditioned when |mean| ≫ σ: the relative error of the
    * merged variance is amplified by κ ≈ 1 + n·mean²/M2, so a measure
    * like a raw epoch-microsecond timestamp (mean ~1.7e18, σ ~hours)
    * loses ALL significant digits while sum/min/max/avg stay exact.
    * Register a stats/bistats cell only when κ is modest (roughly
    * mean²/variance ≲ 1e9 for doubles — true of ratios, quantities,
    * prices, durations); for an ill-conditioned measure, CENTER it at
    * registration time (register `x − c` for a fixed coarse offset c:
    * variance and covariance are shift-invariant, so the cells stay
    * valid for the original measure) or omit the stats cells so the
    * navigator refuses and the query computes exactly from base.
    *
    * `distincts` (round 16): each entry is (cell column name, measure
    * Column); the summary column must hold `MAP<BIGINT, BINARY>` —
    * per cell, `map_from_entries` over
    * (`bitmap_bucket_number(m)` → `bitmap_construct_agg(
    * bitmap_bit_position(m))`) built over NON-NULL m only (see
    * [[graft.functions.BitmapMapBuffer]] for the full build contract).
    * `COUNT(DISTINCT m)` then re-aggregates exactly on every rewrite
    * path. The measure must be integral (the bitmap encodes longs);
    * size the cells to the measure's per-cell distinct cardinality. */
  def register(base: DataFrame, dims: Seq[(String, Column)],
      sums: Seq[(String, Column)], mins: Seq[(String, Column)],
      maxs: Seq[(String, Column)], cntCol: String,
      summary: DataFrame,
      avgs: Seq[(String, String, Column)] = Nil,
      stats: Seq[(String, String, String, Column)] = Nil,
      bistats: Seq[(BiStatCells, Column, Column)] = Nil,
      distincts: Seq[(String, Column)] = Nil): Unit = {
    val basePath = pathOf(base).getOrElse(throw new IllegalArgumentException(
      "RollupRewrite.register: base must be a file-source read"))
    def exprs(cs: Seq[(String, Column)]): Seq[(String, Expression)] = {
      if (cs.isEmpty) return Nil
      val analyzed = base.select(cs.map(_._2): _*)
        .queryExecution.analyzed
      val list = analyzed match {
        case Project(pl, _) => pl.map {
          case a: Alias => a.child
          case e => e
        }
        case other => other.output
      }
      cs.map(_._1).zip(list)
    }
    val avgDefs = exprs(avgs.map { case (s, _, c) => (s, c) })
      .zip(avgs).map { case ((s, t), (_, c, _)) => (s, c, t) }
    val statDefs = exprs(stats.map { case (s, _, _, c) => (s, c) })
      .zip(stats).map { case ((s, t), (_, q, c, _)) => (s, q, c, t) }
    val biX = exprs(bistats.zipWithIndex.map { case ((_, x, _), i) =>
      (s"x$i", x) }).map(_._2)
    val biY = exprs(bistats.zipWithIndex.map { case ((_, _, y), i) =>
      (s"y$i", y) }).map(_._2)
    val biDefs = bistats.zip(biX.zip(biY)).map {
      case ((cells, _, _), (tx, ty)) => (cells, tx, ty)
    }
    // the bitmap cell encodes exact LONG identities, so the distinct
    // template must be integral (ADVICE r16): a non-integral measure
    // (double/decimal/string) would have been lossily cast at build
    // time, yet its raw column would still semanticEquals the template
    // at match time — wrong answers with no error. Fail registration.
    val distinctDefs = exprs(distincts)
    distinctDefs.foreach { case (n, t) =>
      val ok = t.dataType match {
        case types.ByteType | types.ShortType | types.IntegerType |
             types.LongType => true
        case _ => false
      }
      require(ok, s"RollupRewrite.register: distinct cell '$n' " +
        s"template must be integral (Byte/Short/Int/Long); got " +
        s"${t.dataType.simpleString}")
    }
    // one metadata-only count per registration — read straight from
    // the parquet FOOTERS (no Spark job; ADVICE r17 low flagged the
    // count() job this used to run per register call). The count is
    // what puts the lattice in true cheapest-first order (see the
    // registry doc); non-parquet/unlistable summaries fall back to
    // one count() job, and a summary that can't even count sorts last.
    val nCells = footerRowCount(summary).getOrElse(
      try summary.count()
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue })
    // sub-grain NDVs for the pre-aggregate's COLLAPSE signal (round
    // 19, VERDICT r18 item 5): cells-per-used-grain decides whether
    // merging below the join is worth its exchange (measured 0.74× at
    // collapse 2.2, 1.71× at collapse 10³ — BASELINE.md round 17,
    // "Collapse-factor-honest pre-aggregate measurement"). Footers
    // cannot carry NDVs, so this is ONE approximate-distinct job over
    // the SUMMARY (cells are small by the summary's own contract —
    // the r17 footer-count advice stands for the ROW count, which
    // stays metadata-only); ±5% HLL error is irrelevant to a
    // factor-8 regime threshold. Skipped past 4 dims (2^d subsets)
    // and on failure — the guard then falls back to the
    // shuffle-regime signal alone (the pre-r19 behavior).
    val ndvMap: Map[Set[String], Long] =
      if (dims.size < 2 || dims.size > 4) Map.empty
      else {
        val names = dims.map(_._1)
        val subsets = (1 until names.size).flatMap(k =>
          names.combinations(k)).map(_.toSet).distinct
        try {
          val aggsNdv = subsets.map(ss =>
            approx_count_distinct(struct(
              ss.toSeq.sorted.map(summary(_)): _*))
              .as(ss.toSeq.sorted.mkString("")))
          val row = summary.agg(aggsNdv.head, aggsNdv.tail: _*).head()
          subsets.zipWithIndex
            .map { case (ss, i) => ss -> row.getLong(i) }.toMap
        } catch { case scala.util.control.NonFatal(_) => Map.empty }
      }
    val d = RollupDef(basePath, exprs(dims),
      exprs(sums), exprs(mins), exprs(maxs), cntCol,
      summary.queryExecution.analyzed, avgDefs, statDefs, biDefs,
      distinctDefs, cells = nCells, grainNdv = ndvMap)
    registry.compute(basePath, (_, old) => {
      val kept = Option(old).getOrElse(Nil).filterNot(_.key == d.key)
      (d :: kept).sortBy(x => (x.cells, x.dims.size))
    })
    ()
  }

  /** Summary row count from parquet footers — metadata-only, no Spark
    * job: list the files under the summary's root and sum each
    * footer's record count. None (→ caller falls back to count())
    * when the summary is not a bare file-source read or any footer is
    * unreadable. */
  private def footerRowCount(df: DataFrame): Option[Long] =
    pathOf(df).flatMap { root =>
      try {
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(conf)
        def files(s: org.apache.hadoop.fs.FileStatus)
            : Seq[org.apache.hadoop.fs.FileStatus] =
          if (s.isDirectory)
            fs.listStatus(s.getPath).toSeq.flatMap(files)
          else if (s.getPath.getName.endsWith(".parquet")) Seq(s)
          else Nil
        val fls = files(fs.getFileStatus(p))
        if (fls.isEmpty) None
        else Some(fls.map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf))
          try r.getRecordCount finally r.close()
        }.sum)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Test/maintenance hook. */
  def clear(): Unit = registry.clear()

  /** The file-source root path a DataFrame scans (through pruning
    * Projects), as the rule will see it — registration uses this so
    * the key matches by construction. STRICT about Filters (ADVICE
    * r14): stripToRelation collects filter conditions for the
    * rewrite-side match, but a registration key must be the BARE
    * table — registering `base.filter(...)` would silently bind the
    * unfiltered path to a summary built on filtered rows, answering
    * full-table queries from partial data. Any collected condition
    * therefore yields None here (register then throws, as it did
    * before Filter-peeling existed). */
  def pathOf(df: DataFrame): Option[String] =
    stripToRelation(df.queryExecution.analyzed, Map.empty)
      .collect { case (_, path, _, Nil) => path }

  private def enabled: Boolean =
    try conf.getConfString(EnabledConf, "true").trim.toBoolean
    catch { case _: IllegalArgumentException => true }

  /** NEVER rewrite inside a streaming micro-batch (round 16 — found
    * by the E167 gate, not by reading the code): a file-stream
    * source's per-batch plan is a BATCH LogicalRelation over that
    * batch's files, whose root path can equal a registered base path
    * (it did: registering the events table made the E167 stream read
    * 150 summary cells instead of 10,000 base rows). Rewriting there
    * is unsound in general — a micro-batch is a SUBSET of the base
    * (maxFilesPerTrigger), while the summary is the WHOLE table, so
    * stateful re-aggregation double-counts. Micro-batch planning and
    * foreachBatch user code run on the stream-execution thread, which
    * Spark marks with the `sql.streaming.queryId` local property
    * (StreamExecution.QUERY_ID_KEY) — refuse the whole rule there.
    * Conservative by design: batch work issued from inside
    * foreachBatch also skips the navigator. */
  private def onStreamThread: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists(
      _.sparkContext.getLocalProperty("sql.streaming.queryId") != null)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled || registry.isEmpty || onStreamThread) return plan
    plan.transform {
      case agg @ Aggregate(_, _, ex: Expand, _) =>
        rewriteGroupingSets(agg, ex).getOrElse(agg)
      case agg: Aggregate =>
        rewrite(agg).orElse(rewriteJoinBack(agg)).getOrElse(agg)
    }
  }

  /** Peel deterministic Projects/SubqueryAliases — and Filters, whose
    * conditions are COLLECTED, not skipped — accumulating the alias
    * substitution, down to a file-source relation. A collected filter
    * only permits the rewrite if `rewrite` can re-express every one of
    * its conditions over the summary's dim columns (see
    * `filterOnDims`); anything else still disables it. */
  private def stripToRelation(p: LogicalPlan,
      subst: Map[ExprId, Expression],
      conds: Seq[Expression] = Nil)
      : Option[(LogicalRelation, String, Map[ExprId, Expression],
          Seq[Expression])] =
    p match {
      case Project(projList, child) if projList.forall(_.deterministic) =>
        val next = subst ++ projList.collect {
          case a: Alias => a.exprId -> a.child
        }
        stripToRelation(child, next, conds)
      case SubqueryAlias(_, child) => stripToRelation(child, subst, conds)
      case Filter(cond, child) if cond.deterministic &&
          cond.find(_.isInstanceOf[PlanExpression[_]]).isEmpty =>
        stripToRelation(child, subst, conds :+ cond)
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            // identity = the FULL sorted root-path set (ADVICE r15 /
            // VERDICT r16 item 7): keying on rootPaths.head alone
            // would let a multi-root read (spark.read.parquet(a, b))
            // match a registration made on root `a` only, answering
            // the two-root query from a summary built over half its
            // rows. Single-root reads (this harness's only shape)
            // produce the same key as before; a multi-root read gets
            // a key no single-root registration can collide with.
            val roots = fs.location.rootPaths
            if (roots.isEmpty) None
            else Some((lr,
              roots.map(_.toString).sorted.mkString(";"),
              subst, conds))
          case _ => None
        }
      case _ => None
    }

  /** Inline accumulated Project aliases until the expression only
    * references relation-level attributes. */
  private def resolveThrough(e: Expression,
      subst: Map[ExprId, Expression]): Expression = {
    var cur = e
    var changed = true
    var fuel = 20
    while (changed && fuel > 0) {
      changed = false
      cur = cur.transformUp {
        case a: AttributeReference if subst.contains(a.exprId) =>
          changed = true; subst(a.exprId)
      }
      fuel -= 1
    }
    stripNoopCasts(cur)
  }

  /** Analysis-vs-optimized normalization. Registration obtains its
    * templates from the ANALYZER, but the rule compares them against
    * OPTIMIZED query plans, which have been through two rewrites the
    * templates have not:
    *  - SimplifyCasts drops no-op casts (Cast to the expression's own
    *    type), so `avg(cast(price as double))` arrives as `avg(price)`
    *    while the template kept the cast;
    *  - ConstantFolding collapses implicit literal promotions, so the
    *    template's `i % cast(10 as bigint)` (type-coercion inserted
    *    the cast) arrives as `i % 10L` in the query (the round-15 e2e
    *    incident: every computed dim with a literal failed to match).
    * Fold literal casts and strip no-op casts on both sides before
    * any semanticEquals. */
  private def stripNoopCasts(e: Expression): Expression =
    e.transformUp {
      case c @ Cast(_: Literal, dt, _, _) if c.foldable =>
        // the fold may THROW (ANSI overflow/format casts, or a cast
        // whose evaluation needs a time zone the template never
        // resolved); a normalization helper must degrade to leaving
        // the expression alone — which at worst refuses the rewrite —
        // never propagate an exception out of the optimizer rule
        // (ADVICE r15)
        try Literal.create(c.eval(null), dt)
        catch { case scala.util.control.NonFatal(_) => c }
      case Cast(c, dt, _, _) if c.dataType == dt => c
    }

  private def unwrapRRTop(e: Expression): Expression = e match {
    case r: RuntimeReplaceable => unwrapRRTop(r.replacement)
    case other => other
  }
  private val MicrosPerDay = 86400000000L

  /** Re-express ONE base-side filter condition over the summary's dim
    * columns — shared by the flat path and (round 17) the join-back.
    * A dim predicate selects WHOLE cells (every base row in a cell
    * shares its dim values), so it moves onto the summary scan
    * verbatim; any reference to a non-dim column refuses (that
    * predicate would split cells the rollup already merged). The
    * optimizer unwraps `to_date(c) ⋈ DATE'd'` into raw timestamp
    * bounds at day boundaries (`c >= TIMESTAMP'd 00:00:00'`,
    * `c < TIMESTAMP'd+1 00:00:00'`, plus an isnotnull(c) guard)
    * before this rule sees the filter, so a day-dim predicate arrives
    * as comparisons on the BASE timestamp column. For the day-floor
    * function these are exactly re-expressible: with midnight literal
    * m(d), `c >= m(d)` ⟺ `to_date(c) >= d` and `c < m(d)` ⟺
    * `to_date(c) < d` (floor monotonicity; both directions checked in
    * the suite), and to_date(c) is null iff c is. Guarded on session
    * tz = UTC (the engine pins it; to_date flooring is tz-dependent).
    * Other comparison shapes (>, <=, =, non-midnight literals) are
    * NOT cell-expressible and refuse. */
  private def condToSummary(e0: Expression,
      resolve: Expression => Expression,
      anchoredDims: Seq[(String, Expression)],
      summaryAttr: String => Option[Attribute]): Option[Expression] = {
    lazy val utcSession =
      conf.getConfString("spark.sql.session.timeZone", "") == "UTC"
    def dayFloorDim(c: AttributeReference): Option[Attribute] =
      anchoredDims.collectFirst {
        case (n, t) if (unwrapRRTop(t) match {
          case Cast(a: AttributeReference, DateType, _, _) =>
            a.exprId == c.exprId
          case _ => false
        }) => n
      }.flatMap(summaryAttr)
    def midnightDate(us: Long): Option[Literal] =
      if (us % MicrosPerDay == 0)
        Some(Literal((us / MicrosPerDay).toInt, DateType))
      else None
    def go(e: Expression): Option[Expression] = {
      val r = resolve(e)
      anchoredDims.find(_._2.semanticEquals(r)) match {
        case Some((n, _)) => summaryAttr(n)
        case None => e match {
          case IsNotNull(c: AttributeReference)
              if dayFloorDim(c).isDefined =>
            dayFloorDim(c).map(IsNotNull)
          case GreaterThanOrEqual(c: AttributeReference,
              Literal(us: Long, TimestampType)) if utcSession &&
              dayFloorDim(c).isDefined =>
            for { d <- midnightDate(us); a <- dayFloorDim(c) }
              yield GreaterThanOrEqual(a, d)
          case LessThan(c: AttributeReference,
              Literal(us: Long, TimestampType)) if utcSession &&
              dayFloorDim(c).isDefined =>
            for { d <- midnightDate(us); a <- dayFloorDim(c) }
              yield LessThan(a, d)
          case _: AttributeReference => None
          case leaf if leaf.children.isEmpty => Some(leaf)
          case other =>
            val kids = other.children.map(go)
            if (kids.exists(_.isEmpty)) None
            else Some(other.withNewChildren(kids.map(_.get)))
        }
      }
    }
    go(e0)
  }

  /** Re-anchor a registered template expression onto the candidate
    * relation's output attributes by column name. */
  private def anchor(template: Expression,
      output: Seq[Attribute]): Option[Expression] = {
    val byName = output.map(a => a.name -> a).toMap
    var ok = true
    val re = template.transformUp {
      case a: AttributeReference =>
        byName.get(a.name) match {
          case Some(attr) => attr
          case None => ok = false; a
        }
    }
    if (ok) Some(stripNoopCasts(re)) else None
  }

  /** A PER-REWRITE instance of the summary plan. Two rewritable
    * aggregates in one query (self-join / union of aggregates over the
    * base) must NOT share scan ExprIds — that is the duplicate-
    * attribute-id situation analysis-time DeduplicateRelations exists
    * to prevent, and this rule runs after it. File reads analyze to a
    * MultiInstanceRelation leaf (LogicalRelation), so `newInstance()`
    * re-ids the output; a summary plan with non-leaf structure above
    * the relation cannot be safely re-id'd here and keeps the shared
    * instance (registration via spark.read never produces one). */
  private def freshSummary(d: RollupDef): LogicalPlan =
    d.summaryPlan match {
      case m: MultiInstanceRelation =>
        m.newInstance().asInstanceOf[LogicalPlan]
      case other => other
    }

  /** One registration re-anchored onto a candidate base relation: a
    * fresh summary instance (see freshSummary) and every dim and cell
    * template of `d` re-pointed at `rel`'s output attributes. A measure
    * template that does not anchor is dropped (queries over it refuse);
    * a dim that does not anchor refuses the whole registration
    * (anchorDef returns None). All three rewrite paths start here. */
  private final case class Anchored(d: RollupDef, sumPlan: LogicalPlan,
      dims: Seq[(String, Expression)],
      sums: Seq[(String, Expression)],
      mins: Seq[(String, Expression)],
      maxs: Seq[(String, Expression)],
      avgs: Seq[(String, String, Expression)],
      stats: Seq[(String, String, String, Expression)],
      bistats: Seq[(BiStatCells, Expression, Expression)],
      distincts: Seq[(String, Expression)]) {
    def summaryAttr(name: String): Option[Attribute] =
      sumPlan.output.find(_.name == name)
  }

  private def anchorDef(d: RollupDef,
      rel: LogicalRelation): Option[Anchored] = {
    val sumPlan = freshSummary(d)
    def one(t: Expression) = anchor(t, rel.output)
    def named(ms: Seq[(String, Expression)]) = ms.flatMap {
      case (n, t) => one(t).map(n -> _)
    }
    val dims = named(d.dims)
    if (dims.size != d.dims.size) None
    else Some(Anchored(d, sumPlan, dims, named(d.sums), named(d.mins),
      named(d.maxs),
      d.avgs.flatMap { case (s, c, t) => one(t).map((s, c, _)) },
      d.stats.flatMap { case (s, q, c, t) => one(t).map((s, q, c, _)) },
      d.bistats.flatMap { case (cells, tx, ty) =>
        for { ax <- one(tx); ay <- one(ty) } yield (cells, ax, ay)
      },
      named(d.distincts)))
  }

  /** Rebuild an aggregate's select list with `rw`, preserving every
    * output's name and ExprId so the parent plan is untouched; None
    * when any entry is not re-aggregable. A bare attribute that `rw`
    * returns unchanged (a join-back dim-side column, a kept Expand
    * slot) stays as is. The flat path never takes that short-cut: it
    * maps every attribute to a column of the fresh summary instance,
    * whose ExprIds are new. */
  private def rebuildSelect(ae: Seq[NamedExpression],
      rw: Expression => Option[Expression])
      : Option[Seq[NamedExpression]] =
    Some(ae.map { ne =>
      val rewritten = ne match {
        case al: Alias => rw(al.child).map(c =>
          Alias(c, al.name)(exprId = al.exprId,
            qualifier = al.qualifier))
        case attr: Attribute => rw(attr).map {
          case same: Attribute if same.exprId == attr.exprId => attr
          case c => Alias(c, attr.name)(exprId = attr.exprId)
        }
        case other => rw(other).map(c =>
          Alias(c, other.name)(exprId = other.exprId))
      }
      rewritten.getOrElse(return None)
    })

  /** The shared re-aggregation algebra — ONE definition of how each
    * aggregate call maps to summary cells, used by all three rewrite
    * paths (flat aggregate, Expand grouping sets, join-back). `srcOf`
    * resolves the call's ARGUMENT to a base-relation expression (each
    * path has its own indirection: plain alias substitution, Expand
    * slot substitution, join-side substitution with a right-side
    * refusal); `cell` resolves a summary column NAME to the
    * summary-side expression that carries it (a scan attribute, or an
    * appended Expand slot). Semantics and guards are the round-14/15
    * set: count(*)→Σcnt (COUNT(NULL) refused), sum/min/max→cells with
    * a cast back to the call's type, AVG→Σs/Σc legacy-divide (DOUBLE
    * only, TRY refused), stddev/var→M2 from Σx/Σx²/n (nullOnDivide
    * flavor only; see statOverCells' numerics note at the flat
    * path). */
  private def reAggShared(a: AggregateExpression,
      srcOf: Expression => Option[Expression],
      cell: String => Option[Expression],
      an: Anchored,
      cntOuter: Boolean = false)
      : Option[Expression] = {
    if (a.filter.isDefined) return None
    if (a.isDistinct) {
      // COUNT(DISTINCT dim) is EXACT on the summary: the rollup holds
      // one cell per dim combination, so the distinct set of a dim
      // column is preserved bit-for-bit (and under a join-back's
      // per-cell duplication, DISTINCT erases the multiplicity).
      // COUNT(DISTINCT measure) is EXACT when the registration
      // carries a bucketed-bitmap cell for the measure (round 16):
      // the cell IS the exact distinct set, and bitmap OR's
      // idempotence makes the merge invariant under the Expand
      // replication and join-back duplication the other paths
      // introduce — no cell identity needed. Other distinct shapes
      // (multi-arg, sum/avg distinct) still refuse.
      return a.aggregateFunction match {
        case Count(Seq(e)) =>
          srcOf(e).flatMap { s =>
            an.dims.find(_._2.semanticEquals(s)).flatMap {
              case (n, _) => cell(n).map(c =>
                Cast(Count(Seq(c)).toAggregateExpression(
                  isDistinct = true), a.dataType))
            }.orElse(an.distincts.find(_._2.semanticEquals(s)).flatMap {
              case (n, _) => cell(n).map(c =>
                Cast(graft.functions.BitmapMapCountAgg(c)
                  .toAggregateExpression(), a.dataType))
            })
          }
        // SUM(DISTINCT measure) — exact from the same container cells
        // (round 16): the container IS the value set (bucket·32768 +
        // position), so the distinct sum is Σ of the union's values,
        // idempotent under replication like the count. TRY mode
        // refuses (try_sum returns NULL on overflow; the cell merge
        // throws); ANSI/LEGACY overflow behavior is threaded into the
        // aggregate.
        // NumericEvalContext, not EvalMode (round 17): Spark 4.1's
        // Sum.unapply yields the CONTEXT wrapper, so comparing it to
        // an EvalMode value was vacuously true — the TRY refusal never
        // fired and the ANSI flag was never set (caught by the scalac
        // adapted-comparison warning; Average.unapply still yields the
        // bare EvalMode, so only Sum needed this).
        case Sum(e, ctx) if ctx.evalMode != EvalMode.TRY =>
          srcOf(e).flatMap(s =>
            an.distincts.find(_._2.semanticEquals(s))).flatMap {
            case (n, _) => cell(n).map(c =>
              Cast(graft.functions.BitmapMapSumAgg(c,
                ansi = ctx.evalMode == EvalMode.ANSI)
                .toAggregateExpression(),
                a.dataType))
          }
        // AVG(DISTINCT measure) = distinct-sum / distinct-count over
        // the same container cells; NULL on an empty union on both
        // sides of the division, matching Average's empty contract
        case Average(e, em) if em != EvalMode.TRY &&
            a.dataType == types.DoubleType =>
          srcOf(e).flatMap(s =>
            an.distincts.find(_._2.semanticEquals(s))).flatMap {
            case (n, _) => cell(n).map { c =>
              val s1 = Cast(graft.functions.BitmapMapSumAgg(c,
                ansi = em == EvalMode.ANSI).toAggregateExpression(),
                types.DoubleType)
              val n1 = Cast(graft.functions.BitmapMapCountAgg(c)
                .toAggregateExpression(), types.DoubleType)
              Divide(s1,
                If(EqualTo(n1, Literal(0.0)),
                  Literal(null, types.DoubleType), n1),
                EvalMode.LEGACY)
            }
          }
        case _ => None
      }
    }
    def statOver(srcE: Expression, samp: Boolean,
        sqrtIt: Boolean): Option[Expression] =
      an.stats.find(_._4.semanticEquals(srcE)).flatMap {
        case (sCol, qCol, cCol, _) =>
          for { sa <- cell(sCol); qa <- cell(qCol); ca <- cell(cCol) }
            yield {
              val dbl = types.DoubleType
              def sumD(e: Expression) =
                Cast(Sum(e).toAggregateExpression(), dbl)
              val n = sumD(ca); val s1 = sumD(sa); val s2 = sumD(qa)
              val m2 = Greatest(Seq(Literal(0.0), Subtract(s2,
                Divide(Multiply(s1, s1, EvalMode.LEGACY), n,
                  EvalMode.LEGACY), EvalMode.LEGACY)))
              val denom =
                if (samp) Subtract(n, Literal(1.0), EvalMode.LEGACY)
                else n
              val v = Divide(m2, denom, EvalMode.LEGACY)
              val out = if (sqrtIt) Sqrt(v) else v
              if (samp)
                If(LessThan(n, Literal(2.0)), Literal(null, dbl), out)
              else out
            }
      }
    // bivariate merges from the six pairwise moments (round 15): with
    // N = Σn, SX = Σsx, …, the co-moment CK = N·SXY − SX·SY gives
    //   covar_pop  = CK / N²           (n=1 → 0.0, matching Spark)
    //   covar_samp = CK / (N·(N−1))    (n<2 → NULL, guarded)
    //   corr       = CK / (√(N·SXX−SX²)·√(N·SYY−SY²))
    // — zero variance or N≤1 makes a denominator 0 and LEGACY divide
    // yields NULL, matching nullOnDivideByZero=true (the only flavor
    // matched); the Greatest clamps keep FP noise out of the √.
    def biOver(xE: Expression, yE: Expression,
        form: String): Option[Expression] =
      an.bistats.find(b =>
        b._2.semanticEquals(xE) && b._3.semanticEquals(yE))
        .flatMap { case (cells, _, _) =>
          for { na <- cell(cells.nCol); sxa <- cell(cells.sxCol)
                sya <- cell(cells.syCol); sxya <- cell(cells.sxyCol)
                sxxa <- cell(cells.sxxCol)
                syya <- cell(cells.syyCol) } yield {
            val dbl = types.DoubleType
            def s(e: Expression) =
              Cast(Sum(e).toAggregateExpression(), dbl)
            val n = s(na); val sx = s(sxa); val sy = s(sya)
            val sxy = s(sxya); val sxx = s(sxxa); val syy = s(syya)
            def mul(a1: Expression, b1: Expression) =
              Multiply(a1, b1, EvalMode.LEGACY)
            def sub(a1: Expression, b1: Expression) =
              Subtract(a1, b1, EvalMode.LEGACY)
            def div(a1: Expression, b1: Expression) =
              Divide(a1, b1, EvalMode.LEGACY)
            val ck = sub(mul(n, sxy), mul(sx, sy))
            def varN(ss: Expression, sv: Expression) =
              Greatest(Seq(Literal(0.0), sub(mul(n, ss), mul(sv, sv))))
            form match {
              case "cov_pop" => div(ck, mul(n, n))
              case "cov_samp" =>
                If(LessThan(n, Literal(2.0)),
                  Literal(null, dbl),
                  div(ck, mul(n, sub(n, Literal(1.0)))))
              case _ =>
                div(ck, mul(Sqrt(varN(sxx, sx)), Sqrt(varN(syy, sy))))
            }
          }
        }
    def biArgs(x: Expression, y: Expression): Option[(Expression,
        Expression)] =
      for { xs <- srcOf(x); ys <- srcOf(y) } yield (xs, ys)
    a.aggregateFunction match {
      // non-null literal ONLY: count(*)/count(1). COUNT(NULL) — or
      // any count argument constant-folded to a null literal — is 0,
      // not the cell row count (ADVICE r13). Under an OUTER join-back
      // that preserves the DIM side (round 16), an unmatched dim row
      // reaches the aggregate as one joined row with a NULL cnt cell
      // — exactly one base-plan row — so count(*) sums
      // coalesce(cnt, 1): matched pairs contribute their cell count,
      // null-extended rows contribute the 1 the base join would.
      case Count(Seq(Literal(v, _))) if v != null =>
        cell(an.d.cntCol).map { c =>
          val perRow =
            if (cntOuter) Coalesce(Seq(c, Literal(1L))) else c
          Coalesce(Seq(
            Sum(perRow).toAggregateExpression(), Literal(0L)))
        }
      // COUNT(measure) — the NON-NULL count — re-aggregates as the
      // sum of the measure's per-cell non-null-count cell (round 16):
      // the same cCol the AVG and stats registrations already carry,
      // so no new cell type. Null-extended join-back rows have a NULL
      // cell (Sum skips), matching the base plan's all-NULL measure
      // rows (Count skips) — no cntOuter analog needed.
      case Count(Seq(e)) =>
        srcOf(e).flatMap { s =>
          an.avgs.find(_._3.semanticEquals(s)).map(_._2)
            .orElse(an.stats.find(_._4.semanticEquals(s)).map(_._3))
        }.flatMap(cell).map(c => Coalesce(Seq(
          Sum(c).toAggregateExpression(), Literal(0L))))
      case Corr(x, y, true) =>
        biArgs(x, y).flatMap { case (xs, ys) =>
          biOver(xs, ys, "corr") }
      case CovSample(x, y, true) =>
        biArgs(x, y).flatMap { case (xs, ys) =>
          biOver(xs, ys, "cov_samp") }
      case CovPopulation(x, y, true) =>
        biArgs(x, y).flatMap { case (xs, ys) =>
          biOver(xs, ys, "cov_pop") }
      case Sum(e, em) =>
        srcOf(e).flatMap(s =>
          an.sums.find(_._2.semanticEquals(s))).flatMap { case (n, _) =>
          cell(n).map(c =>
            Cast(Sum(c, em).toAggregateExpression(), a.dataType))
        }
      case Min(e) =>
        srcOf(e).flatMap(s =>
          an.mins.find(_._2.semanticEquals(s))).flatMap { case (n, _) =>
          cell(n).map(c =>
            Cast(Min(c).toAggregateExpression(), a.dataType))
        }
      case Max(e) =>
        srcOf(e).flatMap(s =>
          an.maxs.find(_._2.semanticEquals(s))).flatMap { case (n, _) =>
          cell(n).map(c =>
            Cast(Max(c).toAggregateExpression(), a.dataType))
        }
      case Average(e, em) if a.dataType == types.DoubleType &&
          em != EvalMode.TRY =>
        srcOf(e).flatMap(s =>
          an.avgs.find(_._3.semanticEquals(s))).flatMap {
          case (sCol, cCol, _) =>
            for { sa <- cell(sCol); ca <- cell(cCol) }
              yield Divide(
                Cast(Sum(sa).toAggregateExpression(),
                  types.DoubleType),
                Cast(Sum(ca).toAggregateExpression(),
                  types.DoubleType),
                EvalMode.LEGACY)
        }
      case StddevSamp(e, true) =>
        srcOf(e).flatMap(statOver(_, samp = true, sqrtIt = true))
      case StddevPop(e, true) =>
        srcOf(e).flatMap(statOver(_, samp = false, sqrtIt = true))
      case VarianceSamp(e, true) =>
        srcOf(e).flatMap(statOver(_, samp = true, sqrtIt = false))
      case VariancePop(e, true) =>
        srcOf(e).flatMap(statOver(_, samp = false, sqrtIt = false))
      case _ => None
    }
  }

  /** GROUP BY ROLLUP / CUBE / GROUPING SETS through the navigator
    * (round 15). Spark plans grouping sets as
    * `Aggregate(dims :+ gid, aggs, Expand(projections, out, scan))`:
    * Expand replicates every base row once per grouping set, nulling
    * the un-grouped dim slots and tagging the set with a
    * `spark_grouping_id` literal. The replication commutes with cell
    * merging — each base row lands in exactly one summary cell with
    * identical dim values, so expanding CELLS and re-aggregating
    * (sum-of-sums, sum-of-counts, min-of-mins, …) per (dims, gid) is
    * row-for-row equivalent to expanding the base — which makes the
    * full dashboard-cube family answerable from kilobytes of rollup.
    *
    * Mechanics: classify each Expand output slot by its column of
    * per-projection expressions — all-literal (the gid; kept
    * verbatim), dim-or-null (kept; the dim expression re-pointed at
    * the summary's dim column, the nulls kept as-is), or a measure
    * source identical across projections (DROPPED — aggregate
    * arguments are remapped to appended CELL slots instead, one per
    * needed cell column, shared across grouping sets). Anything else
    * — a slot mixing expressions, a measure-slot reference outside an
    * aggregate, a grouping expression touching a dropped slot, a
    * Filter under the Expand — refuses the rewrite. Same aggregate
    * algebra and eval-mode guards as the flat path (count(*)→Σcnt,
    * sum/min/max→cells, AVG→Σs/Σc legacy-divide, stddev/var→M2 from
    * Σx/Σx²/n); the lattice is consulted coarsest-first exactly like
    * flat aggregates. */
  private def rewriteGroupingSets(agg: Aggregate,
      ex: Expand): Option[LogicalPlan] = {
    val (rel, path, subst, conds) =
      stripToRelation(ex.child, Map.empty).getOrElse(return None)
    // predicate-aware grouping sets are out of scope: a Filter under
    // the Expand stays on the base plan (no rewrite)
    if (conds.nonEmpty) return None
    val defs = Option(registry.get(path)).getOrElse(return None)
    defs.view.flatMap(d => rewriteExpandWith(agg, ex, rel, subst, d))
      .headOption
  }

  /** JOIN-BACK navigation (round 15): the star-query shape
    * `Aggregate(G, aggs, Join(base ⋈ dim ON dimKey = dim.pk))` is
    * answered from `Aggregate(G, aggs', Join(summary ⋈ dim))` when
    * every equi-key on the base side is a registered DIM — the
    * materialized-view join-back rewrite (Goldstein–Larson class).
    * Soundness: all rows of a summary cell share their dim values, so
    * they join EXACTLY the same dim rows as the cell row does; an
    * inner equi-join therefore duplicates or drops WHOLE CELLS with
    * multiplicity equal to the dim-side match count N, and every
    * supported re-aggregation is invariant under uniform per-cell
    * duplication — Σ(N·s)=N·Σs on both legs of AVG, count(*) becomes
    * Σcnt over N copies = N·cnt exactly as the base join would, min/
    * max are idempotent, and the stats merge computes from the same
    * (N-scaled) Σx/Σx²/n totals the base join would produce. NULL
    * keys drop cells and their base rows together.
    *
    * OUTER flavors (round 16) extend the same algebra:
    *  - base-preserved (fact LEFT JOIN dim): an unmatched CELL is
    *    null-extended once, exactly as each of its base rows is —
    *    all supported aggregates are already invariant;
    *  - dim-preserved (dim LEFT JOIN fact / RIGHT / FULL): an
    *    unmatched dim row null-extends the SUMMARY side, matching
    *    the base plan's one all-NULL-base row. Null-skipping
    *    aggregates are invariant for free; count(*) alone sees the
    *    null-extended row and becomes Σcoalesce(cnt, 1) (see
    *    reAggShared's cntOuter). Semi/anti still refuse (they are
    *    row-existence operators, not aggregations over the join).
    * Aggregate arguments must reference the BASE side
    * only; dim-side attrs pass through grouping and select untouched.
    * At 100 TB this turns every star-schema dashboard query — fact ⋈
    * dimension, GROUP BY dimension attribute — into a dim-sized join
    * over kilobytes of cells. */
  private def rewriteJoinBack(agg: Aggregate): Option[LogicalPlan] = {
    def peel(p: LogicalPlan, subst: Map[ExprId, Expression])
        : (LogicalPlan, Map[ExprId, Expression]) = p match {
      case Project(pl, c) if pl.forall(_.deterministic) =>
        peel(c, subst ++ pl.collect {
          case a: Alias => a.exprId -> a.child
        })
      case SubqueryAlias(_, c) => peel(c, subst)
      case other => (other, subst)
    }
    val (core, outer) = peel(agg.child, Map.empty)
    core match {
      case j @ Join(_, _, Inner | LeftOuter | RightOuter | FullOuter,
          Some(cond), _)
          if cond.deterministic &&
            cond.find(_.isInstanceOf[PlanExpression[_]]).isEmpty =>
        trySide(agg, j, baseOnLeft = true, outer)
          .orElse(trySide(agg, j, baseOnLeft = false, outer))
      case _ => None
    }
  }

  private def trySide(agg: Aggregate, j: Join, baseOnLeft: Boolean,
      outer: Map[ExprId, Expression]): Option[LogicalPlan] = {
    val baseSide = if (baseOnLeft) j.left else j.right
    val (rel, path, substB, conds) =
      stripToRelation(baseSide, Map.empty).getOrElse(return None)
    val defs = Option(registry.get(path)).getOrElse(return None)
    defs.view
      .flatMap(d =>
        joinBackWith(agg, j, baseOnLeft, rel, outer ++ substB, conds,
          d))
      .headOption
  }

  private def joinBackWith(agg: Aggregate, j: Join,
      baseOnLeft: Boolean, rel: LogicalRelation,
      subst: Map[ExprId, Expression], conds: Seq[Expression],
      d: RollupDef): Option[LogicalPlan] = {
    val other = if (baseOnLeft) j.right else j.left
    if (other.exists(_.fastEquals(d.summaryPlan))) return None
    val an = anchorDef(d, rel).getOrElse(return None)
    import an.{summaryAttr, sumPlan, dims => anchoredDims}
    val otherIds = other.outputSet
    def overOther(e: Expression): Boolean =
      e.references.subsetOf(otherIds) && e.deterministic
    // Round 17: track WHICH summary columns the rewrite uses ABOVE the
    // scan (join keys, grouping dims, aggregate cells/dims) so a
    // partial re-aggregation can collapse the unused dims below the
    // join. Filter dims are deliberately NOT tracked — the dim filter
    // is applied below the pre-aggregation and consumed there.
    val usedDimNames =
      scala.collection.mutable.LinkedHashSet.empty[String]
    val usedCellNames =
      scala.collection.mutable.LinkedHashSet.empty[String]
    def dimNameOf(e: Expression): Option[String] = {
      val r = resolveThrough(e, subst)
      anchoredDims.find(_._2.semanticEquals(r)).map(_._1)
    }
    def dimAttrOf(e: Expression): Option[Attribute] =
      dimNameOf(e).flatMap { n =>
        usedDimNames += n; summaryAttr(n)
      }

    // Filters between the join and the base scan: the optimizer
    // INFERS isnotnull(joinKey) on the base side of every inner
    // equi-join, so the dims-only re-expression the flat path does is
    // load-bearing here, not optional — a dim predicate (incl. the
    // inferred null guard on a dim key) selects whole cells and moves
    // onto the summary scan; anything touching a measure refuses.
    // Round 17: shares condToSummary with the flat path, so day-range
    // predicates (the optimizer's timestamp-bound unwrap of
    // to_date(c) ⋈ DATE'd') now compose with the join-back too — the
    // everyday "this quarter, by segment" star dashboard.
    val condOnSummary: Option[Expression] = conds match {
      case Nil => None
      case cs =>
        val rw = cs.map(c => condToSummary(c,
          resolveThrough(_, subst), anchoredDims, summaryAttr)
          .getOrElse(return None))
        Some(rw.reduce(And(_, _)))
    }

    def flat(e: Expression): Seq[Expression] = e match {
      case And(a, b) => flat(a) ++ flat(b)
      case x => Seq(x)
    }
    val newConjs = flat(j.condition.get).map {
      case c if overOther(c) => c
      case EqualTo(a, b) if overOther(b) && dimAttrOf(a).isDefined =>
        EqualTo(dimAttrOf(a).get, b)
      case EqualTo(a, b) if overOther(a) && dimAttrOf(b).isDefined =>
        EqualTo(a, dimAttrOf(b).get)
      case _ => return None
    }

    // grouping: dim-side exprs pass (including COMPUTED dim-side
    // expressions reached through peeled Project aliases — the
    // optimizer extracts `expr AS _groupingexpression` into a Project
    // between the aggregate and the join, so after resolveThrough a
    // grouping attr may BE a dim-side expression); base-side exprs
    // must be registered dims
    val dimFor: Map[Expression, Expression] =
      agg.groupingExpressions.flatMap { g =>
        if (overOther(g)) None
        else {
          val rg = resolveThrough(g, subst)
          if (overOther(rg)) Some(g.canonicalized -> rg)
          else dimAttrOf(g) match {
            case Some(a) => Some(g.canonicalized -> (a: Expression))
            case None => return None
          }
        }
      }.toMap
    val newGe = agg.groupingExpressions.map { g =>
      if (overOther(g)) g else dimFor(g.canonicalized)
    }

    def srcOfJ(e: Expression): Option[Expression] =
      if (e.references.intersect(otherIds).nonEmpty) None
      else Some(resolveThrough(e, subst))
    // OUTER join-back (round 16): a join type that preserves the DIM
    // side null-extends unmatched dim rows — one joined row with
    // every summary column NULL, exactly as the base join produces
    // one row with every base column NULL. All null-skipping
    // aggregates (sum/min/max/avg/stats/bi/bitmap-distinct) are
    // therefore invariant for free; count(*) alone counts the
    // null-extended row and re-aggregates as Σcoalesce(cnt, 1).
    val otherPreserved = j.joinType match {
      case LeftOuter => !baseOnLeft
      case RightOuter => baseOnLeft
      case FullOuter => true
      case _ => false
    }
    def reAggJ(a: AggregateExpression): Option[Expression] =
      reAggShared(a, srcOfJ,
        n => { usedCellNames += n; summaryAttr(n) }, an,
        cntOuter = otherPreserved)
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case a: AggregateExpression => reAggJ(a)
      case a: AttributeReference if otherIds.contains(a) => Some(a)
      case a: AttributeReference =>
        dimFor.get(resolveThrough(a, subst).canonicalized)
          .orElse(dimFor.get(a.canonicalized))
      case e if e.children.nonEmpty && !overOther(e) &&
          dimFor.contains(e.canonicalized) =>
        dimFor.get(e.canonicalized)
      case leaf if leaf.children.isEmpty => Some(leaf)
      case other2 =>
        val kids = other2.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other2.withNewChildren(kids.map(_.get)))
    }
    val newAe = rebuildSelect(agg.aggregateExpressions, rewriteExpr)
      .getOrElse(return None)

    val cond2 = newConjs.reduce(And(_, _))
    val filtered =
      condOnSummary.map(Filter(_, sumPlan)).getOrElse(sumPlan)

    // PARTIAL RE-AGGREGATION BELOW THE JOIN (round 17, VERDICT r16
    // item 2): when the query uses a STRICT SUBSET of the summary's
    // dims above the scan (join keys + grouping + aggregate dims;
    // filter dims are consumed below), first merge the cells to that
    // subset grain, so the join input is used-grain-sized instead of
    // cell-count-sized. A (priority × custkey) summary joined on
    // custkey collapses to |custkey| rows before the join — the
    // |dims-not-used| factor never rides the shuffle. Soundness is
    // the cell algebra's associativity: every supported merge (Σ for
    // sum/count/avg/stats/bistat cells, min/min, max/max, bitmap OR
    // for distinct cells) is associative and the outer re-aggregation
    // is computed from the SAME totals either way; per-cell join
    // duplication becomes per-merged-cell duplication with identical
    // multiplicity because all merged rows share the used dim values.
    // THE HONEST FLOOR: when the registered grain IS the used grain
    // (e.g. the key-grain summary of the plain join-back, used dims =
    // {custkey} = all dims), no pre-aggregation is possible or
    // inserted — the join input is already minimal below the join,
    // and its |key universe| growth is information-theoretically
    // required: each key's cell must meet its dim row to be grouped
    // by a dim-side attribute. That case is the documented BASELINE.md
    // ceiling, closed here for every finer-grain registration.
    //
    // REGIME GUARD (measured at the sf1gk rung, not argued): the
    // pre-aggregation is an EXTRA exchange, and it only pays when the
    // join itself shuffles — there its exchange is keyed on the same
    // dims the join needs, so the reduction rides a shuffle the plan
    // pays anyway. Under a BROADCAST dim the cells stream through the
    // join map-side and the final aggregate's partial phase already
    // collapses them without any big-side shuffle, so a pre-aggregate
    // is strictly worse (first cut measured 0.74× on exactly that
    // shape). Decide by the same evidence JoinSelection will use:
    // the dim side's stats size vs autoBroadcastJoinThreshold, and
    // explicit join hints (broadcast hint → never; shuffle hint →
    // always, stats notwithstanding).
    val dimNames = d.dims.map(_._1).toSet
    val (cellDimNames, mergeCellNames) =
      usedCellNames.toSeq.partition(dimNames)
    val preDims = (usedDimNames.toSeq ++ cellDimNames).distinct
    def mergeOf(n: String, a0: Attribute): Option[Expression] = {
      def isSumCell = n == d.cntCol ||
        d.sums.exists(_._1 == n) ||
        d.avgs.exists(t => t._1 == n || t._2 == n) ||
        d.stats.exists(t => t._1 == n || t._2 == n || t._3 == n) ||
        d.bistats.exists { case (b, _, _) =>
          Seq(b.nCol, b.sxCol, b.syCol, b.sxyCol, b.sxxCol, b.syyCol)
            .contains(n)
        }
      if (d.mins.exists(_._1 == n))
        Some(Min(a0).toAggregateExpression())
      else if (d.maxs.exists(_._1 == n))
        Some(Max(a0).toAggregateExpression())
      else if (d.distincts.exists(_._1 == n))
        Some(graft.functions.BitmapMapMergeAgg(a0)
          .toAggregateExpression())
      else if (isSumCell) Some(Sum(a0).toAggregateExpression())
      else None
    }
    val otherHint = if (baseOnLeft) j.hint.rightHint else j.hint.leftHint
    val hintBroadcast = otherHint.exists(_.strategy.contains(
      org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
    val hintShuffle = otherHint.exists(_.strategy.exists(s =>
      s == org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_MERGE ||
        s == org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_HASH))
    val bcThreshold = conf.autoBroadcastJoinThreshold
    val dimBroadcastable = bcThreshold >= 0 &&
      (try other.stats.sizeInBytes <= BigInt(bcThreshold)
       catch { case scala.util.control.NonFatal(_) => false })
    val shuffleRegime =
      hintShuffle || (!hintBroadcast && !dimBroadcastable)
    // SECOND SIGNAL (round 19, VERDICT r18 item 5): the COLLAPSE
    // FACTOR — summary cells per used-grain row, from the NDVs
    // registered alongside the footer count. The pre-aggregate's
    // value is the join-input reduction, which IS this ratio; both
    // ends are measured (BASELINE.md "Collapse-factor guard": 0.74×
    // at collapse 2.2 under broadcast / ~neutral hinted, 1.71×
    // isolated at collapse 10³), so the guard refuses below
    // COLLAPSE_MIN = 8 — above the measured-harmful single-digit
    // band, below the (day × key) dashboard family (collapse ≥ 10)
    // the pre-aggregate exists for.
    // Unknown NDV (no registration job, > 4 dims) falls back to the
    // shuffle-regime signal alone — the pre-r19 behavior.
    val collapseOk = d.grainNdv.get(preDims.toSet) match {
      case Some(ndv) if ndv > 0 => d.cells / ndv >= CollapseMin
      case _ => true
    }
    val preAggOpt: Option[(LogicalPlan, Map[ExprId, Attribute])] =
      if (!shuffleRegime || !collapseOk ||
          preDims.size >= d.dims.size) None
      else {
        val gAttrs = preDims.flatMap(summaryAttr(_).toSeq)
        val merged = mergeCellNames.flatMap { n =>
          summaryAttr(n).flatMap(a0 =>
            mergeOf(n, a0).map(m => a0.exprId -> Alias(m, n)()))
        }
        if (gAttrs.size != preDims.size ||
            merged.size != mergeCellNames.size) None
        else Some((
          Aggregate(gAttrs,
            gAttrs.map(a0 => a0: NamedExpression) ++ merged.map(_._2),
            filtered),
          merged.map { case (id, al) => id -> al.toAttribute }.toMap))
      }
    val (scan, newAeFinal) = preAggOpt match {
      case Some((pre, cellSub)) =>
        (pre, newAe.map(_.transform {
          case a2: AttributeReference if cellSub.contains(a2.exprId) =>
            cellSub(a2.exprId)
        }.asInstanceOf[NamedExpression]))
      case None => (filtered, newAe)
    }
    val newJoin =
      if (baseOnLeft) Join(scan, other, j.joinType, Some(cond2), j.hint)
      else Join(other, scan, j.joinType, Some(cond2), j.hint)
    Some(Aggregate(newGe, newAeFinal, newJoin))
  }

  private sealed trait SlotKind
  private case object LitSlot extends SlotKind
  private final case class DimSlot(name: String) extends SlotKind
  private final case class MeasureSlot(src: Expression) extends SlotKind

  private def rewriteExpandWith(agg: Aggregate, ex: Expand,
      rel: LogicalRelation, subst: Map[ExprId, Expression],
      d: RollupDef): Option[LogicalPlan] = {
    if (ex.child.fastEquals(d.summaryPlan)) return None
    val an = anchorDef(d, rel).getOrElse(return None)
    import an.{summaryAttr, sumPlan, dims => anchoredDims}
    def isNullLit(e: Expression) = e match {
      case Literal(null, _) => true
      case _ => false
    }

    val slotKinds: Seq[SlotKind] = ex.output.indices.map { i =>
      val es = ex.projections.map(_(i))
      if (es.forall(_.isInstanceOf[Literal])) LitSlot
      else {
        val rs = es.filterNot(isNullLit)
          .map(e => stripNoopCasts(resolveThrough(e, subst)))
        val h = rs.head
        if (!rs.forall(_.semanticEquals(h))) return None
        anchoredDims.find(_._2.semanticEquals(h)) match {
          case Some((n, _)) => DimSlot(n)
          // a MEASURE slot must be identical across EVERY projection,
          // nulls included (ADVICE r15): classification above filtered
          // null literals out before the identity check — right for
          // dim slots, whose nulling IS the grouping-sets semantics,
          // but a slot that is a measure in some projections and NULL
          // in others would have its cell slot fed through every
          // projection, over-counting the nulled sets. Spark's
          // grouping-sets planner never nulls measure slots, but the
          // rewrite must not ASSUME that: refuse instead.
          case None if es.exists(isNullLit) => return None
          case None => MeasureSlot(h)
        }
      }
    }
    // a dim slot's non-null projections must map to an existing
    // summary column; verify up front so the projection rebuild below
    // can .get safely
    slotKinds.foreach {
      case DimSlot(n) if summaryAttr(n).isEmpty => return None
      case _ => ()
    }

    val keepIdx = ex.output.indices.filter(i => slotKinds(i) match {
      case MeasureSlot(_) => false
      case _ => true
    })
    val keptIds = keepIdx.map(i => ex.output(i).exprId).toSet
    val measureSrcBySlotId: Map[ExprId, Expression] =
      ex.output.indices.flatMap { i =>
        slotKinds(i) match {
          case MeasureSlot(src) => Some(ex.output(i).exprId -> src)
          case _ => None
        }
      }.toMap

    // grouping expressions may only touch kept (dim / gid) slots
    if (!agg.groupingExpressions.forall(
        _.references.forall(r => keptIds.contains(r.exprId))))
      return None

    // appended cell slots: cell column name -> (new Expand output
    // attr, summary attr fed through every projection)
    val extra = scala.collection.mutable.LinkedHashMap
      .empty[String, (AttributeReference, Attribute)]
    def cellAttr(name: String): Option[AttributeReference] =
      summaryAttr(name).map { sa =>
        extra.getOrElseUpdate(name,
          (AttributeReference(name, sa.dataType, nullable = true)(),
            sa))._1
      }
    // resolve an aggregate ARGUMENT over Expand output back to its
    // base-relation source: substitute measure-slot attrs with their
    // per-projection source expression (the argument may wrap the
    // slot, e.g. `sum(cast(slot as decimal))` — the cast lives in the
    // aggregate, the slot carries the raw column), then normalize.
    // Any dim/gid attr inside an aggregate argument refuses.
    def srcOfArg(e: Expression): Option[Expression] = {
      var ok = true
      val r = e.transformUp {
        case a: AttributeReference =>
          measureSrcBySlotId.get(a.exprId) match {
            case Some(src) => src
            case None => ok = false; a
          }
      }
      if (ok) Some(stripNoopCasts(r)) else None
    }

    def reAggX(a: AggregateExpression): Option[Expression] =
      // COUNT(DISTINCT dim) stays with the flat and join-back paths
      reAggShared(a, srcOfArg, n => cellAttr(n), an.copy(dims = Nil))

    def rewriteExprX(e: Expression): Option[Expression] = e match {
      case a: AggregateExpression => reAggX(a)
      case a: AttributeReference =>
        // dim / gid references stay; a measure-slot reference outside
        // an aggregate has no summary equivalent
        if (keptIds.contains(a.exprId)) Some(a) else None
      case leaf if leaf.children.isEmpty => Some(leaf)
      case other =>
        val kids = other.children.map(rewriteExprX)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }
    val newAe = rebuildSelect(agg.aggregateExpressions, rewriteExprX)
      .getOrElse(return None)

    val newOutput: Seq[Attribute] =
      keepIdx.map(ex.output) ++ extra.values.map(_._1)
    val newProjections: Seq[Seq[Expression]] = ex.projections.map {
      row =>
        keepIdx.map { i =>
          slotKinds(i) match {
            case DimSlot(n) =>
              if (isNullLit(row(i))) row(i) else summaryAttr(n).get
            case _ => row(i) // literal slot (gid) verbatim
          }
        } ++ extra.values.map(_._2)
    }
    Some(Aggregate(agg.groupingExpressions, newAe,
      Expand(newProjections, newOutput, sumPlan)))
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (rel, path, subst, conds) =
      stripToRelation(agg.child, Map.empty).getOrElse(return None)
    val defs = Option(registry.get(path)).getOrElse(return None)
    // lattice descent: defs are kept coarsest-first, so the first
    // qualifying summary is the cheapest one that can answer the query
    defs.view.flatMap(d => rewriteWith(agg, rel, subst, conds, d))
      .headOption
  }

  private def rewriteWith(agg: Aggregate, rel: LogicalRelation,
      subst: Map[ExprId, Expression], conds: Seq[Expression],
      d: RollupDef): Option[LogicalPlan] = {
    val (ge, ae, child) =
      (agg.groupingExpressions, agg.aggregateExpressions, agg.child)
    // never rewrite the rollup-build aggregate itself: it scans the
    // base at exactly the dim grain but its registration happens
    // after the build; this guard keeps a re-run of the build honest
    if (child.fastEquals(d.summaryPlan)) return None

    val an = anchorDef(d, rel).getOrElse(return None)
    import an.{summaryAttr, sumPlan, dims => anchoredDims}

    // Predicate-aware extension (round 14, the scaladoc's recorded
    // extension delivered): a Filter between the aggregate and the
    // scan is safe IFF every condition re-expresses over the rollup's
    // dim columns — a dim predicate selects WHOLE cells (every base
    // row in a cell shares its dim values), so filtering summary
    // cells ≡ filtering base rows. Any reference to a non-dim column
    // (a measure, e.g. l_quantity > 10) aborts the rewrite: that
    // predicate splits cells the rollup already merged.
    // The optimizer unwraps `to_date(c) ⋈ DATE'd'` into raw timestamp
    // bounds at day boundaries (`c >= TIMESTAMP'd 00:00:00'`,
    // `c < TIMESTAMP'd+1 00:00:00'`, plus an isnotnull(c) guard)
    // before this rule sees the filter, so a day-dim predicate
    // arrives as comparisons on the BASE timestamp column. For the
    // day-floor function these are exactly re-expressible: with
    // midnight literal m(d), `c >= m(d)` ⟺ `to_date(c) >= d` and
    // `c < m(d)` ⟺ `to_date(c) < d` (floor monotonicity; both
    // directions checked in the suite), and to_date(c) is null iff c
    // is. Guarded on session tz = UTC (the engine pins it; to_date
    // flooring is tz-dependent). Other comparison shapes (>, <=, =,
    // non-midnight literals) are NOT cell-expressible and abort.
    // (round 17: the mechanics, including the day-floor unwrap, moved
    // to condToSummary so the join-back path shares them verbatim)
    def rewriteCond(e: Expression): Option[Expression] =
      condToSummary(e, resolveThrough(_, subst), anchoredDims,
        summaryAttr)
    val condOnSummary: Option[Expression] = conds match {
      case Nil => None
      case cs =>
        val rw = cs.map(c => rewriteCond(c).getOrElse(return None))
        Some(rw.reduce(And(_, _)))
    }

    // every grouping expression must equal one registered dim
    val dimFor = ge.map { g =>
      val r = resolveThrough(g, subst)
      anchoredDims.find(_._2.semanticEquals(r)) match {
        case Some((n, _)) => g.canonicalized -> n
        case None => return None
      }
    }.toMap

    // one aggregate call → its summary-cells form; the numerics of
    // the stddev/var M2 merge (condition number κ ≈ 1 + n·mean²/M2,
    // register-only-when-κ-is-modest guidance, the Greatest clamp
    // against FP-negative M2, and the n=1→NULL _samp contract) are
    // documented at reAggShared, which all three rewrite paths share
    def reAgg(a: AggregateExpression): Option[Expression] =
      reAggShared(a, e => Some(resolveThrough(e, subst)),
        n => summaryAttr(n), an)

    // rebuild every result expression over the summary, preserving
    // names and ExprIds so the parent plan is untouched. Explicit
    // recursion, NOT transformUp: an AggregateExpression subtree is
    // rewritten ATOMICALLY by reAgg (its base-attribute leaves must
    // not be visited individually — they only exist inside the
    // re-aggregated form), and bare attributes outside any aggregate
    // are grouping references that map to their dim column.
    // a select-list expression that IS a grouping dim — bare attribute
    // or computed (e.g. to_date(l_shipdate)) — maps to its summary dim
    // column as a whole; only grouped dims qualify (ADVICE r13: the
    // recursive case used to abort the rewrite on computed dims)
    val groupedDims = dimFor.values.toSet
    def asGroupedDim(e: Expression): Option[String] =
      dimFor.get(e.canonicalized).orElse {
        val r = resolveThrough(e, subst)
        anchoredDims.find(_._2.semanticEquals(r)).map(_._1)
          .filter(groupedDims)
      }
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case a: AggregateExpression => reAgg(a)
      case a: AttributeReference =>
        dimFor.get(resolveThrough(a, subst).canonicalized)
          .orElse(dimFor.get(a.canonicalized))
          .flatMap(summaryAttr)
      case e if e.children.nonEmpty && asGroupedDim(e).isDefined =>
        asGroupedDim(e).flatMap(summaryAttr)
      case leaf if leaf.children.isEmpty => Some(leaf)
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }
    val newAe = rebuildSelect(ae, rewriteExpr).getOrElse(return None)

    // grouping expressions over the summary: non-attribute grouping
    // expressions (e.g. to_date(...)) map to their dim column too
    val newGe = ge.map { g =>
      dimFor.get(g.canonicalized).flatMap(summaryAttr)
        .getOrElse(return None)
    }

    val scan = condOnSummary.map(Filter(_, sumPlan)).getOrElse(sumPlan)
    Some(Aggregate(newGe, newAe, scan))
  }
}
