package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Round-16 ledger (SURVEY.md §18 — VERDICT r15 coverage edges): the
  * navigator's two refused shapes closed — exact COUNT(DISTINCT
  * measure) via bucketed-bitmap cells, and outer-preserving star
  * join-back — plus incrementally-consistent lattice maintenance.
  * One oracle-gated row each; scale notes per query. */
object Surface16 {

  /** E353: **exact COUNT(DISTINCT measure) through the aggregate
    * navigator** — the one aggregate class the round-15 navigator
    * refused by design (distinct needs cell identity the rollup
    * merged away), made answerable by a new CELL TYPE rather than a
    * weaker guarantee: the registration (Scale.rollupSummary) stores,
    * per (ship_day, returnflag) cell, the EXACT distinct set of
    * l_orderkey as Spark's own bucketed bitmap — MAP<bucket-of-32k,
    * ≤4 KB bitmap> — and [[graft.plans.RollupRewrite]] rewrites
    * `count(DISTINCT l_orderkey)` to
    * [[graft.functions.BitmapMapCountAgg]]: OR the per-bucket bitmaps
    * across the cells of each group, popcount the union. Set union is
    * idempotent, so the same cell algebra is exact under grouping-sets
    * replication and join-back duplication — no special casing, by
    * algebra.
    *
    * The query below groups STRICTLY coarser than the rollup grain
    * (returnflag only), so each group ORs ~2,500 day-cells; the plan
    * never runs countDistinct's expand + double shuffle over the fact
    * table. At 100 TB this is the classic "distinct users per day →
    * distinct users per month" rollup problem solved exactly: query
    * cost ∝ cells × buckets-touched, not base rows, and the cells
    * maintain incrementally because OR is idempotent (a replayed
    * ingest batch cannot double-count). Oracle = naive
    * count(DISTINCT) over the BASE table in DuckDB; the rewrite must
    * be invisible. Scan redirection + rule on/off equality are locked
    * in OperatorSuite. */
  val qAggRollupDistinctMeasure = Q("q_agg_rollup_distinct_measure",
    (spark, sfDir) => {
      import spark.implicits._
      Scale.rollupSummary(spark, sfDir)
      Tables.read(spark, sfDir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_orderkey").as("n_orders"),
          sum($"l_quantity".cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           |    AS sum_qty
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin))

  /** E354: **outer-preserving star join-back through the navigator**
    * — the round-15 join-back was Inner-only: a dimension row with no
    * fact rows silently got no rewrite coverage, yet `dim LEFT JOIN
    * fact` is THE dashboard shape for "show every segment, zero or
    * not". The extension
    * ([[graft.plans.RollupRewrite]] round 16) is pure algebra, no new
    * cells: a dim-preserved outer join null-extends the SUMMARY side
    * of an unmatched dim row exactly as the base join null-extends
    * the base side, so every null-skipping aggregate is invariant for
    * free, and count(*) — the one aggregate that counts the
    * null-extended row — re-aggregates as Σcoalesce(cnt, 1). The
    * query below left-joins a customer-key SPINE (2·c_custkey — half
    * its keys lie past the fact table's key domain at every scale
    * factor, since this fixture assigns every customer at least one
    * order) to orders: the null-extension path is load-bearing in
    * the gated values, not theoretical, and the grouping is a
    * DIM-SIDE expression (spine key mod 7), exercising the pass-
    * through leg. At 100 TB the win compounds the inner join-back's:
    * the outer dashboard query joins the dimension to KILOBYTES of
    * cells, and unmatched dim rows cost nothing instead of probing
    * the fact table. Oracle = the naive outer-join SQL over BASE
    * tables in DuckDB; scan redirection + rule on/off equality + a
    * base-preserved and full-outer variant are locked in
    * OperatorSuite. */
  val qAggRollupJoinbackOuter = Q("q_agg_rollup_joinback_outer",
    (spark, sfDir) => {
      import spark.implicits._
      Surface15.latticeSummaries(spark, sfDir) // registers bycust grain
      val cust = Tables.read(spark, sfDir, "customer")
      val orders = Tables.read(spark, sfDir, "orders")
      val spine = cust.select(($"c_custkey" * 2).as("k"))
      spine.join(orders, $"k" === orders("o_custkey"), "left")
        .groupBy(($"k" % 7).as("cohort"))
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_totalprice".cast("decimal(18,2)"))
            .cast("double").as("sum_price"),
          max($"o_totalprice".cast("decimal(18,2)"))
            .cast("double").as("max_price"))
        .orderBy($"cohort")
    },
    Some("""SELECT k % 7 AS cohort,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS sum_price,
           |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS max_price
           |FROM (SELECT c_custkey * 2 AS k FROM customer) s
           |LEFT JOIN orders ON k = o_custkey
           |GROUP BY 1
           |ORDER BY cohort""".stripMargin))

  /** Build side of E355: drain the 50k-row MicroBatchStream in five
    * admission-controlled batches; per batch, fold partial cells into
    * the FINE summary (grain: i%20 × shard), then refresh ONLY the
    * coarse (shard-grain) partitions the batch touched — derived from
    * the refreshed FINE store, never from base. Shard = i div 15000
    * against 10k-row contiguous batches, so refreshes mix
    * first-insert, update, and untouched coarse partitions. Cells:
    * Σv, Σv², non-null n, row count, and the EXACT distinct set of
    * i % 7000 as a bucketed bitmap ([[graft.functions
    * .BitmapMapMergeAgg]] re-merges it idempotently at every level —
    * a replayed batch id overwrites its own versioned output AND
    * cannot double-count the distinct cell, by algebra). Registers
    * BOTH grains with [[graft.plans.RollupRewrite]]. Returns
    * (rawZoneDir, fineCellsDir, coarseCellsDir), built once per
    * (session, sfDir) — the OperatorSuite equivalence self-test reads
    * the same stores the gated query registered. */
  private[graft] def incrLattice(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (String, String, String) = {
    graft.Memo.value(spark, s"lat_incr:$sfDir") {
      import spark.implicits._
      import org.apache.spark.sql.DataFrame
      val root = java.nio.file.Files
        .createTempDirectory("graft-lat-incr").toString
      val baseDir = s"$root/base"
      val src = spark.readStream.format("graft.sources.SeriesSource")
        .option("rows", "50000").option("slices", "4")
        .option("maxRowsPerBatch", "10000").load()
      @volatile var fineDir: String = null
      @volatile var coarseDir: String = null
      val reAggCells
          : org.apache.spark.sql.RelationalGroupedDataset => DataFrame =
        g => g.agg(sum($"v_sum").as("v_sum"), sum($"v_sq").as("v_sq"),
          sum($"v_cnt").as("v_cnt"), sum($"cnt").as("cnt"),
          expr("bitmap_map_merge_agg(k_bm)").as("k_bm"))
      val maintain: (DataFrame, Long) => Unit = { (batch, id) =>
        // raw zone is per-batch-id, mode OVERWRITE (ADVICE r16): a
        // replayed batch id re-writes ITS OWN directory instead of
        // appending duplicate rows, so the raw zone is idempotent
        // end-to-end like the cell stores (whose OR/overwrite algebra
        // already was). Spark's partition discovery reads the
        // batch=<id> layout back as one table with an extra partition
        // column the queries never touch.
        batch.write.mode("overwrite").parquet(s"$baseDir/batch=$id")
        val g1 = ($"i" % 20).cast("int").as("g1")
        val shard = expr("cast((i div 15000) as int)").as("shard")
        val partial = batch.groupBy(g1, shard)
          .agg(sum($"value").as("v_sum"),
            sum($"value" * $"value").as("v_sq"),
            count($"value").as("v_cnt"), count(lit(1)).as("cnt"),
            expr("bitmap_map_construct_agg(i % 7000)").as("k_bm"))
        val mergedFine = Option(fineDir)
          .map(d => reAggCells(spark.read.parquet(d)
            .unionByName(partial).groupBy($"g1", $"shard")))
          .getOrElse(partial)
        val nextFine = s"$root/fine_v$id"
        mergedFine.write.mode("overwrite").parquet(nextFine)
        // coarse refresh: ONLY the shards this batch touched, derived
        // from the refreshed FINE store — cost O(fine cells of the
        // affected shards), never O(base), never O(history)
        val affected = partial.select($"shard").distinct()
        val refreshed = reAggCells(
          spark.read.parquet(nextFine)
            .join(broadcast(affected), Seq("shard"), "left_semi")
            .groupBy($"shard"))
        val nextCoarse = s"$root/coarse_v$id"
        Option(coarseDir)
          .map(d => spark.read.parquet(d)
            .join(broadcast(affected), Seq("shard"), "left_anti")
            .unionByName(refreshed))
          .getOrElse(refreshed)
          .write.mode("overwrite").parquet(nextCoarse)
        fineDir = nextFine
        coarseDir = nextCoarse
      }
      val key = "spark.sql.shuffle.partitions"
      val prevParts = spark.conf.get(key)
      spark.conf.set(key, "4")
      try {
        val q = src.writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch(maintain).start()
        q.processAllAvailable(); q.stop()
      } finally spark.conf.set(key, prevParts)
      val base = spark.read.parquet(baseDir)
      def reg(dims: Seq[(String, org.apache.spark.sql.Column)],
          dir: String): Unit =
        graft.plans.RollupRewrite.register(
          base = base, dims = dims,
          sums = Seq("v_sum" -> base("value")),
          mins = Nil, maxs = Nil, cntCol = "cnt",
          summary = spark.read.parquet(dir),
          stats = Seq(("v_sum", "v_sq", "v_cnt", base("value"))),
          distincts = Seq("k_bm" -> (base("i") % 7000)))
      reg(Seq(
        "g1" -> (base("i") % 20).cast("int"),
        "shard" -> expr("cast((i div 15000) as int)")), fineDir)
      reg(Seq("shard" -> expr("cast((i div 15000) as int)")),
        coarseDir)
      (baseDir, fineDir, coarseDir)
    }
  }

  /** E355: **incrementally-consistent summary LATTICE** — E342
    * maintained ONE grain from the stream; this row maintains the
    * whole lattice: each micro-batch folds partial cells into the
    * fine summary, then re-derives only the AFFECTED coarse-grain
    * partitions from the refreshed fine cells (never from base, never
    * the whole store) — the standard warehouse delta-propagation
    * discipline, here with an exact-distinct bitmap cell riding the
    * same refresh (OR-idempotent, so replay cannot double-count). The
    * user query below is the naive shard-grain aggregate over the raw
    * zone — sum, count, stddev and COUNT(DISTINCT i%7000) — and the
    * navigator answers it from the COARSE cell store (coarsest-first
    * descent). At 100 TB: refresh cost per interval is O(batch +
    * affected cells); a dashboard query reads kilobytes; and the
    * lattice never disagrees with itself because coarse grains are
    * DERIVED, not separately maintained. Oracle recomputes everything
    * from DuckDB range() (deterministic generator) — one hash gates
    * ingestion, both refresh legs, registration and the rewrite.
    * Lattice-wide equivalence vs full recompute of every grain +
    * coarse-scan redirection are locked in OperatorSuite. */
  val qAggRollupLatticeIncr = Q("q_agg_rollup_lattice_incr",
    (spark, sfDir) => {
      import spark.implicits._
      val (baseDir, _, _) = incrLattice(spark, sfDir)
      spark.read.parquet(baseDir)
        .groupBy(expr("cast((i div 15000) as int)").as("shard"))
        .agg(round(sum($"value"), 4).as("sum_value"),
          round(stddev_samp($"value"), 4).as("sd_value"),
          count(lit(1)).as("n"),
          countDistinct($"i" % 7000).as("n_keys"))
        .orderBy($"shard")
    },
    Some("""WITH s AS (
           |  SELECT i,
           |    CAST(i * 2654435761 % 2147483648 % 10000 AS DOUBLE)
           |      / 100.0 AS value
           |  FROM range(0, 50000) t(i)
           |)
           |SELECT CAST(i // 15000 AS INT) AS shard,
           |  round(sum(value), 4) AS sum_value,
           |  round(stddev_samp(value), 4) AS sd_value,
           |  count(*) AS n,
           |  CAST(count(DISTINCT i % 7000) AS BIGINT) AS n_keys
           |FROM s GROUP BY 1 ORDER BY shard""".stripMargin))

  /** E356: **COUNT(measure) — the non-null count — through the
    * navigator.** The round-15 algebra mapped only count(*)/count(1)
    * (→ Σ cell row counts); `count(price)` — the everyday non-null
    * count — refused, even though the AVG and stats registrations
    * ALREADY carry a per-measure non-null-count cell (it is the
    * denominator of Σs/Σc). Round 16 closes it with zero new cell
    * types: count(m) → Σ cCol. NULL semantics line up by
    * construction — the cell was built as count(m), Sum skips NULL
    * cells from outer join-backs exactly as Count skips the base
    * plan's all-NULL rows. The query pairs count(measure) with
    * count(*) and avg over a grouping strictly coarser than the
    * rollup grain; oracle = the naive SQL over base. Scan-redirect +
    * rule on/off are locked in OperatorSuite and count(m1) joined the
    * fuzz's aggregate pool. */
  val qAggRollupCountMeasure = Q("q_agg_rollup_count_measure",
    (spark, sfDir) => {
      import spark.implicits._
      Scale.rollupSummary(spark, sfDir)
      Tables.read(spark, sfDir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(count($"l_extendedprice").as("n_price"),
          count(lit(1)).as("n_rows"),
          round(avg($"l_extendedprice".cast("double")), 4)
            .as("avg_price"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  CAST(count(l_extendedprice) AS BIGINT) AS n_price,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  round(avg(CAST(l_extendedprice AS DOUBLE)), 4)
           |    AS avg_price
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin))

  /** E357: **EXPRESSION measures through the navigator** — the TPC-H
    * Q1 revenue shape: the registered measure is
    * `l_extendedprice * (1 − l_discount)` quantized to
    * DECIMAL(18,4), not a bare column. Registration templates are
    * analyzed Catalyst expressions re-anchored onto the candidate
    * scan by column name and matched with semanticEquals, so the
    * user's spelling of the same arithmetic rides the summary — the
    * warehouse's derived-measure rollup (revenue, margin, weighted
    * anything) with no engine changes; this row pins that the
    * mechanism actually covers it. The decimal quantization makes
    * the cell sum EXACT and associative, so the oracle's different
    * summation order cannot drift a double hash. At 100 TB the Q1
    * dashboard reads ~7.5k cells instead of re-multiplying two
    * columns across the fact table. Scan-redirect + on/off locked in
    * OperatorSuite. */
  val qAggRollupExprMeasure = Q("q_agg_rollup_expr_measure",
    (spark, sfDir) => {
      import spark.implicits._
      Scale.rollupSummary(spark, sfDir)
      Tables.read(spark, sfDir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(18,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
           |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_rows
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin))

  /** E358: **the one-call navigator API** —
    * [[graft.plans.RollupBuild.materialize]] adopted for a SECOND
    * fact table (events) in one statement: dims (day, event_type),
    * measure value, distinct user_id. The helper builds every
    * supported cell kind in ONE partial-aggregable hash aggregation
    * (count(*), per-measure sum/min/max/non-null-count/Σx², the
    * adaptive distinct container) and registers the lot, after which
    * the naive per-type dashboard query below — count(*),
    * count(value), sum, avg, stddev AND exact distinct users — reads
    * cells. This is the adoption story the engine's user actually
    * follows ("switch to the library and run every query you run
    * today"): no hand-written cell algebra per table. Oracle = the
    * naive SQL over the base events table; scan redirect + on/off in
    * OperatorSuite. */
  val qAggRollupBuildApi = Q("q_agg_rollup_build_api",
    (spark, sfDir) => {
      import spark.implicits._
      val base = Tables.read(spark, sfDir, "events")
      graft.Memo.once(spark, s"rollup_events:$sfDir") {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-rollup-events").toString
        graft.plans.RollupBuild.materialize(spark, base, dir,
          dims = Seq("day" -> to_date($"ts"),
            "event_type" -> $"event_type"),
          measures = Seq("value" -> $"value"),
          distincts = Seq("user" -> $"user_id"))
        ()
      }
      base.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          count($"value").as("n_vals"),
          round(sum($"value"), 4).as("sum_value"),
          round(avg($"value"), 4).as("avg_value"),
          round(stddev_samp($"value"), 4).as("sd_value"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(value) AS BIGINT) AS n_vals,
           |  round(sum(value), 4) AS sum_value,
           |  round(avg(value), 4) AS avg_value,
           |  round(stddev_samp(value), 4) AS sd_value,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           |FROM events GROUP BY event_type
           |ORDER BY event_type""".stripMargin))

  /** E359: **the rollup ADVISOR** — the recommendation half every
    * cube server ships beside its navigator
    * ([[graft.plans.RollupAdvisor]]): given the naive queries a site
    * runs (four dashboard aggregates over lineitem below), extract
    * each aggregate's (base, dims, measures), absorb dim-sets into
    * their maximal supersets (the navigator answers subset groupings
    * from a superset summary — HRU lattice), and emit the
    * materialize worklist with the decision numbers: exact cells at
    * the grain vs base rows. The expected output is fully
    * deterministic for the fixed workload — (ship-day × returnflag)
    * absorbing three queries, (linestatus) covering the fourth — and
    * the oracle RECOMPUTES the cell counts from base in DuckDB while
    * pinning the extracted dim/measure sets and coverage as
    * literals: a drifted extraction, a wrong absorption, or a wrong
    * count each breaks the hash. The per-proposal cell counting is a
    * small distinct-count job per row (an offline advisor run);
    * the assembled result is proposal-sized, never data-sized. */
  val qRollupAdvisor = Q("q_rollup_advisor",
    (spark, sfDir) => {
      import spark.implicits._
      val li = Tables.read(spark, sfDir, "lineitem")
      val workload = Seq(
        li.groupBy($"l_returnflag")
          .agg(sum($"l_quantity").as("s")),
        li.groupBy(to_date($"l_shipdate").as("d"), $"l_returnflag")
          .agg(count(lit(1)).as("n")),
        li.groupBy(to_date($"l_shipdate").as("d"))
          .agg(avg($"l_extendedprice").as("a")),
        li.groupBy($"l_linestatus")
          .agg(max($"l_quantity").as("m")))
      val props = graft.plans.RollupAdvisor.propose(workload)
      val nRows = li.count()
      val rows = props.map { p =>
        val nCells = li.selectExpr(p.dims: _*).distinct().count()
        (p.dims.mkString(","), p.queriesCovered,
          p.measures.mkString(","), nCells, nRows,
          math.round(nRows.toDouble / nCells * 100.0) / 100.0)
      }
      rows.toDF("dims", "n_queries", "measures", "n_cells",
        "n_rows", "compression").orderBy($"dims")
    },
    Some("""WITH n AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
           |), c1 AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_cells FROM (
           |    SELECT DISTINCT l_returnflag, CAST(l_shipdate AS DATE)
           |    FROM lineitem)
           |), c2 AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_cells FROM (
           |    SELECT DISTINCT l_linestatus FROM lineitem)
           |)
           |SELECT * FROM (
           |  SELECT 'l_returnflag,to_date(l_shipdate)' AS dims,
           |    3 AS n_queries,
           |    'l_extendedprice,l_quantity' AS measures,
           |    c1.n_cells, n.n_rows,
           |    round(n.n_rows * 1.0 / c1.n_cells, 2) AS compression
           |  FROM c1, n
           |  UNION ALL
           |  SELECT 'l_linestatus', 1, 'l_quantity',
           |    c2.n_cells, n.n_rows,
           |    round(n.n_rows * 1.0 / c2.n_cells, 2)
           |  FROM c2, n
           |) ORDER BY dims""".stripMargin))

  /** E360: **exact SUM(DISTINCT measure) through the navigator** —
    * the adaptive container cell IS the exact value set
    * (bucket·32768 + position reconstructs the value, negatives
    * included), so the distinct SUM is recoverable from cells with
    * the same union-idempotence guarantee as the count: replicated
    * or duplicated cells cannot double-add a value because union
    * erases multiplicity before summation. The rewrite threads the
    * query's eval mode through (ANSI → checked overflow, LEGACY →
    * Long ring, TRY refuses), and legacy-format containers fail LOUD
    * rather than reconstructing off-by-one values (their positions
    * are 1-based). Grouped strictly coarser than the rollup grain;
    * oracle = the naive sum(DISTINCT) over base. Scan-redirect +
    * on/off in OperatorSuite; sum_distinct joined the fuzz pool so
    * the property holds across flat/cube/join-back rounds. */
  val qAggRollupSumDistinct = Q("q_agg_rollup_sum_distinct",
    (spark, sfDir) => {
      import spark.implicits._
      Scale.rollupSummary(spark, sfDir)
      Tables.read(spark, sfDir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(sum_distinct($"l_orderkey").cast("long")
            .as("okey_dsum"),
          countDistinct($"l_orderkey").as("n_orders"),
          round(expr("avg(DISTINCT l_orderkey)"), 4)
            .as("okey_davg"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  CAST(sum(DISTINCT l_orderkey) AS BIGINT) AS okey_dsum,
           |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           |  round(avg(DISTINCT l_orderkey), 4) AS okey_davg
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin))

  val all: Seq[Q] = Seq(qAggRollupDistinctMeasure,
    qAggRollupJoinbackOuter, qAggRollupLatticeIncr,
    qAggRollupCountMeasure, qAggRollupExprMeasure,
    qAggRollupBuildApi, qRollupAdvisor, qAggRollupSumDistinct)
}
