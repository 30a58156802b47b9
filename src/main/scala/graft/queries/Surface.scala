package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Public SQL/DataFrame surface: the SQL and DataFrame verbs with no
  * row elsewhere (TABLESAMPLE, transpose, EXECUTE IMMEDIATE, pipe
  * syntax, both parameter-binding styles, collated predicates, …)
  * plus incremental join-view maintenance. One oracle-gated row each;
  * scale notes per query.
  */
object Surface {

  /** Per-invocation temp-view suffix (same concurrency discipline as
    * Extras.viewRun: Verify and a test may run a query concurrently
    * in one JVM, and temp views are session-global). */
  private val viewRun =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** E324: **TABLESAMPLE surface** — the SQL sampling verb, which at
    * 100 TB is the difference between "profile the corpus" being a
    * full scan or a pushed-down partial read (Spark pushes the
    * Bernoulli filter into the scan; no shuffle at all).
    *
    * Sampling is seeded-random, so the exact row set is engine-
    * specific and a row-for-row oracle is impossible BY DESIGN
    * (`REPEATABLE (42)` pins the set within Spark — per-partition
    * xorshift streams — but DuckDB's sampler is a different PRNG).
    * The oracle therefore gates the INVARIANTS any correct Bernoulli
    * 50% sample satisfies, each a deterministic constant:
    * `subset_violations` = |sample ∖ base| via exceptAll (0: sampling
    * without replacement can never emit a row more often than the
    * base contains it), and `frac_in_band` = sampled fraction within
    * [0.4, 0.6] (Binomial(1500, .5) at sf0.01 has σ≈19 rows, so the
    * band sits ≈7.7σ out — and the seeded sample is bit-identical
    * run-to-run anyway; same gate pattern as the q_sample_* rows,
    * which avoid rand() entirely — this row exists to cover the SQL
    * verb itself). */
  val qSqlTablesample = Q("q_sql_tablesample",
    (spark, sfDir) => {
      import spark.implicits._
      val v = s"ts_customer_${viewRun.incrementAndGet()}"
      val base = Tables.read(spark, sfDir, "customer")
      base.createOrReplaceTempView(v)
      try {
        val s = spark.sql(
          s"SELECT * FROM $v TABLESAMPLE (50 PERCENT) REPEATABLE (42)")
        val nBase = base.count()
        val nSamp = s.count()
        val viol = s.exceptAll(base).count()
        val inBand =
          if (nSamp * 10 >= nBase * 4 && nSamp * 10 <= nBase * 6) 1L
          else 0L
        Seq(("frac_in_band", inBand), ("subset_violations", viol))
          .toDF("probe", "ok").orderBy($"probe")
      } finally { spark.catalog.dropTempView(v); () }
    },
    Some("""SELECT 'frac_in_band' AS probe, CAST(1 AS BIGINT) AS ok
           |UNION ALL
           |SELECT 'subset_violations', CAST(0 AS BIGINT)
           |ORDER BY probe""".stripMargin))

  /** E325: **DataFrame.transpose** (new in Spark 4.0) — the
    * row/column flip of a SMALL aggregate frame (here 5 regions ×
    * 2 measures → 2 rows × 6 columns), the presentation step after a
    * big aggregation. Scale note: transpose collects the index
    * column to the driver to NAME the output columns, so it is only
    * ever legal on post-aggregation frames with a bounded index
    * domain — exactly this shape; the 100 TB work happened in the
    * groupBy below it. The oracle rebuilds the transposed frame with
    * conditional aggregation (one FILTER column per region), proving
    * the flip is value-exact including the column naming ("MIDDLE
    * EAST" with the space). */
  val qDfTranspose = Q("q_df_transpose",
    (spark, sfDir) => {
      import spark.implicits._
      val wide = Tables.read(spark, sfDir, "nation")
        .join(Tables.read(spark, sfDir, "region"),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_nations"),
          min($"n_nationkey").cast("long").as("min_key"))
        .orderBy($"r_name")
      wide.transpose().orderBy($"key")
    },
    Some("""WITH j AS (
           |  SELECT r_name, n_nationkey
           |  FROM nation JOIN region ON n_regionkey = r_regionkey
           |)
           |SELECT 'n_nations' AS key,
           |  CAST(count(*) FILTER (WHERE r_name = 'AFRICA') AS BIGINT)
           |    AS "AFRICA",
           |  CAST(count(*) FILTER (WHERE r_name = 'AMERICA') AS BIGINT)
           |    AS "AMERICA",
           |  CAST(count(*) FILTER (WHERE r_name = 'ASIA') AS BIGINT)
           |    AS "ASIA",
           |  CAST(count(*) FILTER (WHERE r_name = 'EUROPE') AS BIGINT)
           |    AS "EUROPE",
           |  CAST(count(*) FILTER (WHERE r_name = 'MIDDLE EAST')
           |    AS BIGINT) AS "MIDDLE EAST"
           |FROM j
           |UNION ALL
           |SELECT 'min_key',
           |  CAST(min(n_nationkey) FILTER (WHERE r_name = 'AFRICA')
           |    AS BIGINT),
           |  CAST(min(n_nationkey) FILTER (WHERE r_name = 'AMERICA')
           |    AS BIGINT),
           |  CAST(min(n_nationkey) FILTER (WHERE r_name = 'ASIA')
           |    AS BIGINT),
           |  CAST(min(n_nationkey) FILTER (WHERE r_name = 'EUROPE')
           |    AS BIGINT),
           |  CAST(min(n_nationkey) FILTER (WHERE r_name = 'MIDDLE EAST')
           |    AS BIGINT)
           |FROM j
           |ORDER BY key""".stripMargin))

  /** E326: **XML scalar surface** — `from_xml` (new in Spark 4.0) and
    * the classic `xpath_long`/`xpath_string` extractors, the F7 JSON
    * row's XML twin. The gate is a roundtrip identity: the XML is
    * BUILT in-query from base columns, parsed back both ways, and the
    * oracle simply recomputes the source values — any parser
    * misstep (entity handling, type coercion, struct field order)
    * breaks value equality. Row-local, zero-shuffle, stays inside
    * whole-stage codegen except the from_xml call itself. */
  val qScalarXml = Q("q_scalar_xml",
    (spark, sfDir) => {
      import spark.implicits._
      Tables.read(spark, sfDir, "orders")
        .filter($"o_orderkey" <= 50)
        .withColumn("px",
          ($"o_totalprice".cast("decimal(18,2)")).cast("string"))
        .withColumn("xml", concat(lit("<o><k>"), $"o_orderkey",
          lit("</k><p>"), $"px", lit("</p><s>"), $"o_orderstatus",
          lit("</s></o>")))
        .withColumn("parsed",
          from_xml($"xml", lit("k BIGINT, p STRING, s STRING")))
        .select($"o_orderkey",
          expr("xpath_long(xml, '/o/k/text()')").as("xk"),
          expr("xpath_string(xml, '/o/s/text()')").as("xs"),
          $"parsed.p".as("xp"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
           |  o_orderkey AS xk,
           |  o_orderstatus AS xs,
           |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS xp
           |FROM orders WHERE o_orderkey <= 50
           |ORDER BY o_orderkey""".stripMargin))

  /** E327: **map higher-order functions** — `str_to_map` ingestion
    * plus the three map HOFs F8's array row does not cover:
    * `transform_keys`, `transform_values`, `map_zip_with`. Map
    * iteration order is engine-internal, so the output edge EXPLODES
    * the final map and sorts — never compare rendered maps. The
    * oracle recomputes each (key, value) pair straight from the
    * source columns. Row-local and shuffle-free up to the output
    * sort. */
  val qScalarMaps = Q("q_scalar_maps",
    (spark, sfDir) => {
      import spark.implicits._
      Tables.read(spark, sfDir, "orders")
        .filter($"o_orderkey" <= 50)
        .withColumn("m0", str_to_map(
          concat(lit("stat:"), $"o_orderstatus",
            lit(",prio:"), $"o_orderpriority"),
          lit(","), lit(":")))
        .withColumn("mk", transform_keys($"m0", (k, _) => upper(k)))
        .withColumn("mv", transform_values($"mk",
          (k, v) => concat(k, lit("="), v)))
        .withColumn("mz", map_zip_with($"mk", $"mv",
          (_, a, b) => concat(a, lit("|"), b)))
        .select($"o_orderkey", explode($"mz").as(Seq("mkey", "mval")))
        .orderBy($"o_orderkey", $"mkey")
    },
    Some("""WITH pairs AS (
           |  SELECT o_orderkey, 'STAT' AS mkey,
           |    o_orderstatus || '|STAT=' || o_orderstatus AS mval
           |  FROM orders WHERE o_orderkey <= 50
           |  UNION ALL
           |  SELECT o_orderkey, 'PRIO',
           |    o_orderpriority || '|PRIO=' || o_orderpriority
           |  FROM orders WHERE o_orderkey <= 50
           |)
           |SELECT o_orderkey, mkey, mval FROM pairs
           |ORDER BY o_orderkey, mkey""".stripMargin))

  /** E328: **try_* OVERFLOW class** — `try_add`/`try_multiply` on
    * BIGINT overflow (plus the divide/cast forms for contrast with
    * F4b's q_scalar_try, which covers the parse/zero-divisor classes
    * on part): NULL instead of an ANSI runtime error, the idiom that
    * keeps a 100 TB scan alive when one row of a trillion would
    * overflow (the per-row alternative — a CASE guard — is exactly
    * what the oracle uses, proving the NULL-on-error contract). Divisors are restricted to
    * {1, 2} so every surviving division is exact in binary and the
    * DOUBLE column needs no rounding canon; keys start at 1 because
    * the fixture HAS an o_orderkey = 0, for which MaxValue + 0 does
    * NOT overflow. */
  val qScalarTry = Q("q_scalar_try_overflow",
    (spark, sfDir) => {
      import spark.implicits._
      Tables.read(spark, sfDir, "orders")
        .filter($"o_orderkey".between(1, 50))
        .select($"o_orderkey",
          try_divide($"o_totalprice", $"o_orderkey" % 3)
            .as("td"),
          try_add(lit(Long.MaxValue), $"o_orderkey").as("ta"),
          try_multiply(lit(3037000500L), lit(3037000500L)).as("tm"),
          expr("try_cast(o_orderstatus AS INT)").as("tc"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
           |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
           |       ELSE o_totalprice / (o_orderkey % 3) END AS td,
           |  CAST(NULL AS BIGINT) AS ta,
           |  CAST(NULL AS BIGINT) AS tm,
           |  TRY_CAST(o_orderstatus AS INT) AS tc
           |FROM orders WHERE o_orderkey BETWEEN 1 AND 50
           |ORDER BY o_orderkey""".stripMargin))

  /** E330: **EXECUTE IMMEDIATE** (Spark 4) — dynamic SQL with
    * positional `?` parameters bound via USING, the SQL-side twin of
    * the parameterized `spark.sql(sqlText, args)` API. Parameter
    * binding (not string splicing) is the injection-safe idiom a
    * metadata-driven warehouse needs; the oracle runs the resolved
    * query directly. The dynamic text is itself assembled from a
    * session VARIABLE to exercise the full Spark 4 variable surface
    * (DECLARE/SET VAR feed the statement; E314's scripting row covers
    * the procedural block form). */
  val qSqlExecuteImmediate = Q("q_sql_execute_immediate",
    (spark, sfDir) => {
      import spark.implicits._
      val v = s"ei_orders_${viewRun.incrementAndGet()}"
      Tables.read(spark, sfDir, "orders").createOrReplaceTempView(v)
      try {
        spark.sql("DECLARE OR REPLACE VARIABLE ei_limit INT DEFAULT 40")
        spark.sql("SET VAR ei_limit = 60")
        spark.sql(
          s"""EXECUTE IMMEDIATE
             |  'SELECT o_orderstatus, count(*) AS n,
             |     CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))),
             |       6) AS DOUBLE) AS revenue
             |   FROM $v WHERE o_orderkey < ? GROUP BY o_orderstatus
             |   ORDER BY o_orderstatus'
             |  USING ei_limit""".stripMargin)
      } finally { spark.catalog.dropTempView(v); () }
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6)
           |    AS DOUBLE) AS revenue
           |FROM orders WHERE o_orderkey < 60
           |GROUP BY o_orderstatus
           |ORDER BY o_orderstatus""".stripMargin))

  /** E331: **grouping() / grouping_id()** — the disambiguation
    * functions that make A5's GROUPING SETS output machine-readable:
    * a NULL dim value in a super-aggregate row is indistinguishable
    * from a NULL in the data without them. grouping_id() additionally
    * gives the canonical integer encoding of WHICH dims are rolled
    * up, the key BI tools pivot on. Identical surface in DuckDB, so
    * the oracle is 1:1. */
  val qAggGroupingId = Q("q_agg_grouping_id",
    (spark, sfDir) => {
      import spark.implicits._
      val v = s"gid_orders_${viewRun.incrementAndGet()}"
      Tables.read(spark, sfDir, "orders").createOrReplaceTempView(v)
      try {
        spark.sql(
          s"""SELECT coalesce(o_orderstatus, 'all') AS status,
             |  coalesce(o_orderpriority, 'all') AS priority,
             |  grouping(o_orderstatus) AS g_status,
             |  grouping(o_orderpriority) AS g_priority,
             |  CAST(grouping_id(o_orderstatus, o_orderpriority)
             |    AS BIGINT) AS gid,
             |  count(*) AS n
             |FROM $v
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
             |  (o_orderstatus), (o_orderpriority), ())
             |ORDER BY gid, status, priority""".stripMargin)
      } finally { spark.catalog.dropTempView(v); () }
    },
    Some("""SELECT coalesce(o_orderstatus, 'all') AS status,
           |  coalesce(o_orderpriority, 'all') AS priority,
           |  CAST(grouping(o_orderstatus) AS TINYINT) AS g_status,
           |  CAST(grouping(o_orderpriority) AS TINYINT) AS g_priority,
           |  CAST(grouping_id(o_orderstatus, o_orderpriority)
           |    AS BIGINT) AS gid,
           |  count(*) AS n
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
           |  (o_orderstatus), (o_orderpriority), ())
           |ORDER BY gid, status, priority""".stripMargin))

  /** E332: **timestamp arithmetic verbs** — `timestampadd` /
    * `timestampdiff` / `date_part`, the ANSI forms F1's
    * date-arithmetic row does not cover (it uses datediff/add_months
    * style). Pure calendar arithmetic, no time zones — tz conversion
    * semantics differ between the engines' type systems and belong to
    * a session-config story, not a row-function one. Zero-shuffle
    * scan; the events ts-unit gotcha is handled by the ev CTE canon
    * on the oracle side. */
  val qScalarTsArith = Q("q_scalar_ts_arith",
    (spark, sfDir) => {
      import spark.implicits._
      Tables.read(spark, sfDir, "events")
        .filter($"event_id" < 50)
        .select($"event_id",
          expr("timestampadd(HOUR, 3, ts)").as("ts_plus3h"),
          expr("timestampadd(DAY, -1, ts)").as("ts_minus1d"),
          expr("timestampdiff(DAY, ts, timestampadd(HOUR, 50, ts))")
            .cast("long").as("dd"),
          expr("date_part('hour', ts)").cast("long").as("hr"),
          // Spark date_part('dow') is 1=Sunday..7 (dayofweek); DuckDB
          // dayofweek is 0=Sunday..6 — the oracle adds 1
          expr("date_part('dow', ts)").cast("long").as("dow"))
        .orderBy($"event_id")
    },
    Some("""WITH ev AS (
           |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
           |)
           |SELECT event_id,
           |  ts + INTERVAL 3 HOUR AS ts_plus3h,
           |  ts - INTERVAL 1 DAY AS ts_minus1d,
           |  CAST(date_diff('day', ts, ts + INTERVAL 50 HOUR)
           |    AS BIGINT) AS dd,
           |  CAST(date_part('hour', ts) AS BIGINT) AS hr,
           |  CAST(dayofweek(ts) + 1 AS BIGINT) AS dow
           |FROM ev WHERE event_id < 50
           |ORDER BY event_id""".stripMargin))

  /** E333: **array edit functions** — `array_insert`,
    * `array_compact`, `array_distinct`, `array_prepend`: the
    * mutation-shaped verbs F8's HOF row (transform/filter/aggregate)
    * does not cover. Arrays are BUILT in-query from scalar columns so
    * the oracle can state the expected result literally, and the
    * output edge renders through `array_join` — rendered list
    * syntax differs between engines ('[1 2]' vs '[1, 2]'), a string
    * join is the canonical form. Row-local, zero shuffle. */
  val qScalarArrayEdit = Q("q_scalar_array_edit",
    (spark, sfDir) => {
      import spark.implicits._
      Tables.read(spark, sfDir, "orders")
        .filter($"o_orderkey".between(1, 50))
        .select($"o_orderkey",
          array_join(array_compact(array($"o_orderkey", lit(null),
            $"o_orderkey" + 1)), ",").as("compacted"),
          array_join(array_insert(array($"o_orderkey",
            $"o_orderkey" + 1), lit(2), lit(99L)), ",").as("inserted"),
          array_join(array_distinct(array($"o_orderkey",
            $"o_orderkey", $"o_orderkey" + 1)), ",").as("distincted"),
          array_join(array_prepend(array($"o_orderkey"), lit(0L)), ",")
            .as("prepended"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
           |  o_orderkey || ',' || (o_orderkey + 1) AS compacted,
           |  o_orderkey || ',99,' || (o_orderkey + 1) AS inserted,
           |  o_orderkey || ',' || (o_orderkey + 1) AS distincted,
           |  '0,' || o_orderkey AS prepended
           |FROM orders WHERE o_orderkey BETWEEN 1 AND 50
           |ORDER BY o_orderkey""".stripMargin))

  /** E335: **incremental join-view maintenance** — the join twin of
    * E329's rollup refresh, the other half of classical IVM: with
    * deltas on BOTH sides of a materialized join view,
    *
    *   (A ∪ ΔA) ⋈ (B ∪ ΔB)
    *     = A⋈B  ∪  ΔA⋈(B ∪ ΔB)  ∪  A⋈ΔB
    *
    * — the standing view is REUSED untouched and only the two delta
    * terms are computed. At 100 TB the delta terms are the whole
    * point: ΔA is small, so ΔA⋈B broadcasts the delta against the big
    * side (no full-table shuffle), and A⋈ΔB likewise; refresh cost is
    * ∝ |Δ|·selectivity, never |A⋈B|. Old/delta splits are
    * deterministic key-hash slices (no cutoff stat frame, no 1-row
    * cross). The oracle answers the final per-nation aggregate from
    * the naive full join — the maintenance algebra must be invisible
    * in the result. */
  val qJoinIncremental = Q("q_join_incremental",
    (spark, sfDir) => {
      import spark.implicits._
      val o = Tables.read(spark, sfDir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val c = Tables.read(spark, sfDir, "customer")
        .select($"c_custkey", $"c_nationkey")
      val oldO = o.filter($"o_orderkey" % 10 < 8)
      val dO = o.filter($"o_orderkey" % 10 >= 8)
      val oldC = c.filter($"c_custkey" % 10 < 9)
      val dC = c.filter($"c_custkey" % 10 >= 9)
      val standing = oldO.join(oldC, $"o_custkey" === $"c_custkey")
      val deltaA = dO.join(c, $"o_custkey" === $"c_custkey")
      val deltaB = oldO.join(broadcast(dC),
        $"o_custkey" === $"c_custkey")
      standing.unionByName(deltaA).unionByName(deltaB)
        .groupBy($"c_nationkey".cast("long").as("nation"))
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,6)"))
            .cast("double").as("revenue"))
        .orderBy($"nation")
    },
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation,
           |  count(*) AS n_orders,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
           |    AS revenue
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY 1 ORDER BY nation""".stripMargin))

  /** E339: **SQL pipe syntax** (Spark 4's `|>` operators, the last
    * notable uncovered SQL dialect surface after round 14's sweep) —
    * one query chaining the core pipe verbs: `FROM` → `WHERE`
    * (pre-agg) → `EXTEND` (computed column) → `AGGREGATE … GROUP BY`
    * → `WHERE` (post-agg, pipe's HAVING) → `ORDER BY` → `LIMIT`.
    * Pipe syntax is pure parse-time sugar — the analyzer produces the
    * identical logical plan as the classic form, so every Catalyst
    * optimization (pushdown through the EXTEND, partial aggregation)
    * applies unchanged and the 100 TB story is the classic query's.
    * The oracle is the SAME query spelled classically (DuckDB has no
    * pipe parser), which is exactly the semantic claim: sugar, not
    * semantics. */
  val qSqlPipe = Q("q_sql_pipe",
    (spark, sfDir) => {
      val v = s"pipe_li_${viewRun.incrementAndGet()}"
      Tables.read(spark, sfDir, "lineitem").createOrReplaceTempView(v)
      try spark.sql(
        s"""FROM $v
           ||> WHERE l_quantity >= 10
           ||> EXTEND l_extendedprice * (1 - l_discount) AS revenue
           ||> AGGREGATE
           |     CAST(round(sum(revenue), 2) AS DOUBLE) AS sum_rev,
           |     CAST(count(*) AS BIGINT) AS n_items
           |   GROUP BY l_returnflag, l_linestatus
           ||> WHERE n_items > 50
           ||> ORDER BY l_returnflag, l_linestatus
           ||> LIMIT 5""".stripMargin)
      finally { spark.catalog.dropTempView(v); () }
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(round(sum(l_extendedprice * (1 - l_discount)), 2)
           |    AS DOUBLE) AS sum_rev,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem
           |WHERE l_quantity >= 10
           |GROUP BY l_returnflag, l_linestatus
           |HAVING count(*) > 50
           |ORDER BY l_returnflag, l_linestatus
           |LIMIT 5""".stripMargin))

  /** E340: **parameterized SQL, both binding styles** — `spark.sql(
    * text, args)` with NAMED (`:lo`) and POSITIONAL (`?`) markers.
    * The named style alone is already covered (E-ledger
    * `q_sql_params`, queries/Scalars.scala); this row adds the
    * POSITIONAL `Array`-bound form and pins that the two styles are
    * semantically interchangeable by unioning them over the same
    * aggregate. Parameters bind as typed literals at parse time —
    * they are NOT string-spliced, so a hostile value cannot alter the
    * plan shape. The oracle inlines the literals, which is precisely
    * the semantics parameter binding promises. Constant-folding sees
    * the bound literal, so pushdown/pruning behave exactly as with
    * hand-written constants — nothing changes at 100 TB. */
  val qSqlParams = Q("q_sql_params_styles",
    (spark, sfDir) => {
      val v = s"param_li_${viewRun.incrementAndGet()}"
      Tables.read(spark, sfDir, "lineitem").createOrReplaceTempView(v)
      try {
        val named = spark.sql(
          s"""SELECT 'named' AS style, l_returnflag,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM $v WHERE l_quantity BETWEEN :lo AND :hi
             |GROUP BY l_returnflag""".stripMargin,
          Map("lo" -> 5, "hi" -> 15))
        val positional = spark.sql(
          s"""SELECT 'positional' AS style, l_returnflag,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM $v WHERE l_quantity BETWEEN ? AND ?
             |GROUP BY l_returnflag""".stripMargin,
          Array(5, 15))
        named.unionAll(positional)
          .orderBy("style", "l_returnflag")
      } finally { spark.catalog.dropTempView(v); () }
    },
    Some("""WITH g AS (
           |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
           |  FROM lineitem WHERE l_quantity BETWEEN 5 AND 15
           |  GROUP BY l_returnflag)
           |SELECT s.style, g.l_returnflag, g.n
           |FROM (VALUES ('named'), ('positional')) s(style), g
           |ORDER BY s.style, g.l_returnflag""".stripMargin))

  /** E341: **collation-aware predicates + aggregation** — Spark 4's
    * `COLLATE UTF8_LCASE` makes equality case-insensitive at the TYPE
    * level, replacing the classic `lower(col)` normalization (and
    * unlike `lower()`, a collated column keeps its original bytes —
    * display text survives while comparison semantics change).
    * Collated GROUP BY alone is already covered (E246
    * `q_sql_collation`, queries/Metrics.scala); this row adds collated
    * EQUALITY/INEQUALITY PREDICATES (the tautology `= x OR <> x` must
    * keep every row under any collation — a row lost here means the
    * collated comparison diverged from trichotomy) and a numeric
    * aggregate riding the collated grouping. The fixture is
    * consistently-cased, so the query manufactures mixed case
    * deterministically (even keys upper, odd lower). Grouping on a
    * collated string hashes its collation key — same shuffle shape as
    * any string groupBy at scale. */
  val qSqlCollation = Q("q_sql_collation_pred",
    (spark, sfDir) => {
      val v = s"coll_cust_${viewRun.incrementAndGet()}"
      Tables.read(spark, sfDir, "customer").createOrReplaceTempView(v)
      try spark.sql(
        s"""WITH mixed AS (
           |  SELECT CASE WHEN c_custkey % 2 = 0
           |           THEN upper(c_mktsegment)
           |           ELSE lower(c_mktsegment) END AS seg,
           |         c_acctbal
           |  FROM $v)
           |SELECT lower(seg COLLATE UTF8_LCASE) AS segment,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS bal
           |FROM mixed
           |WHERE seg COLLATE UTF8_LCASE = 'bUiLdInG'
           |   OR seg COLLATE UTF8_LCASE <> 'bUiLdInG'
           |GROUP BY seg COLLATE UTF8_LCASE
           |ORDER BY segment""".stripMargin)
      finally { spark.catalog.dropTempView(v); () }
    },
    Some("""SELECT lower(c_mktsegment) AS segment,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS bal
           |FROM customer
           |GROUP BY lower(c_mktsegment)
           |ORDER BY segment""".stripMargin))

  val all: Seq[Q] = Seq(qSqlTablesample, qDfTranspose, qScalarXml,
    qScalarMaps, qScalarTry, qSqlExecuteImmediate, qAggGroupingId,
    qScalarTsArith, qScalarArrayEdit, qJoinIncremental, qSqlPipe,
    qSqlParams, qSqlCollation)
}
