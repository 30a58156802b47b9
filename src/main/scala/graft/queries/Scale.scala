package graft.queries

import graft.{Q, Tables}
import graft.streaming.StreamRun
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 scale-path and sink operators:
  *
  *  - the binned range-join refinement SURVEY.md §4.2(c) promises for
  *    range joins that carry NO equi key (the one plan shape where naive
  *    Spark falls back to a nested-loop join),
  *  - a RANGE-frame window (the frame type W3's rowsBetween form does
  *    not exercise),
  *  - ROLLUP (the hierarchy-shaped cousin of A5's cube),
  *  - stream-static join + foreachBatch sink (the two Structured
  *    Streaming surfaces T1–T6 left uncovered).
  */
object Scale {

  /** §4.2(c) binned range join: signup→purchase pairs within 1 hour
    * ACROSS ALL USERS — no equi key exists, so a naive formulation is a
    * BroadcastNestedLoopJoin that dies at scale. The refinement: bin both
    * sides to the window width (1 h), probe bins {b, b+1} via explode,
    * equi-join on the bin, refine with the exact interval predicate.
    * Each qualifying pair matches in exactly one probe bin (the
    * purchase's own bin), so no dedup pass is needed. At 100 TB this is
    * a plain shuffled equi-join whose per-bin fan-out is bounded by the
    * event rate per window — the standard interval-join plan every
    * streaming engine uses. The oracle runs the naive range join. */
  val qJoinRangeBinned = Q("q_join_range_binned",
    (spark, sfDir) => {
      import spark.implicits._
      val e = Tables.read(spark, sfDir, "events")
      val binUs = 3600000000L // 1 hour in µs
      // True floor division (pmod keeps the remainder non-negative), so
      // pre-1970 timestamps bin correctly and the {b, b+1} probe-bin
      // invariant holds on both sides of the epoch. The subtraction
      // leaves an exact multiple of binUs, so the double division is
      // exact (quotient magnitude << 2^53).
      def floorBin(ts: org.apache.spark.sql.Column) =
        ((unix_micros(ts) - pmod(unix_micros(ts), lit(binUs))) / binUs)
          .cast("long")
      val s = e.filter($"event_type" === "signup")
        .select($"ts".as("s_ts"), floorBin($"ts").as("s_bin"))
      val p = e.filter($"event_type" === "purchase")
        .select($"ts".as("p_ts"), floorBin($"ts").as("p_bin"))
      s.withColumn("probe_bin", explode(array($"s_bin", $"s_bin" + 1)))
        .join(p, $"probe_bin" === $"p_bin" &&
          $"p_ts" > $"s_ts" &&
          $"p_ts" <= $"s_ts" + expr("INTERVAL 1 HOUR"))
        .groupBy(date_trunc("hour", $"s_ts").as("signup_hour"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"signup_hour")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
           |)
           |SELECT date_trunc('hour', s.ts) AS signup_hour,
           |       count(*) AS n_pairs
           |FROM ev s JOIN ev p
           |  ON s.event_type = 'signup' AND p.event_type = 'purchase'
           | AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
           |GROUP BY 1 ORDER BY signup_hour""".stripMargin))

  /** E273: the SAME keyless interval join written NAIVELY — and
    * auto-binned by [[graft.plans.RangeJoinBinning]], the optimizer
    * rule that performs qJoinRangeBinned's manual rewrite for every
    * user query. The DataFrame code below is the formulation a user
    * who has never heard of bin-refinement would write; the rule
    * (default bin 3600 s, `spark.graft.rangeJoin.bin`) turns it into
    * an equi join on the hour bin with the exact predicate as
    * residual. The 30-minute window also exercises the multi-bin
    * explode path (an interval spans 1–2 hour bins). Gates: this
    * oracle (DuckDB runs the same naive SQL), a PlanSuite lock (bin
    * equi-join, no BNLJ; conf-off control nested-loops), and an
    * OperatorSuite rule-on/off row equivalence. */
  val qJoinRangeAuto = Q("q_join_range_auto",
    (spark, sfDir) => {
      import spark.implicits._
      val e = Tables.read(spark, sfDir, "events")
      val s = e.filter($"event_type" === "signup").select($"ts".as("s_ts"))
      val p = e.filter($"event_type" === "purchase")
        .select($"ts".as("p_ts"))
      s.join(p, $"p_ts" > $"s_ts" &&
          $"p_ts" <= $"s_ts" + expr("INTERVAL 30 MINUTES"))
        .groupBy(date_trunc("day", $"s_ts").as("signup_day"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(unix_micros($"p_ts") - unix_micros($"s_ts"))
            .as("gap_us_sum"))
        .orderBy($"signup_day")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
           |)
           |SELECT date_trunc('day', s.ts) AS signup_day,
           |       count(*) AS n_pairs,
           |       CAST(sum(epoch_us(p.ts) - epoch_us(s.ts)) AS BIGINT)
           |         AS gap_us_sum
           |FROM ev s JOIN ev p
           |  ON s.event_type = 'signup' AND p.event_type = 'purchase'
           | AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
           |GROUP BY 1 ORDER BY signup_day""".stripMargin))

  /** W3b: RANGE-frame moving aggregate — 7-day trailing event volume per
    * calendar day. RANGE frames bound by value, not row position, so gaps
    * in the date sequence shrink the window (rowsBetween would silently
    * span them). Runs over the tiny daily spine (≤ span days), so the
    * unpartitioned ordered window is safe at any fact scale — same
    * argument as W1. */
  val qWindowRangeFrame = Q("q_window_range_frame",
    (spark, sfDir) => {
      import spark.implicits._
      val daily = Tables.read(spark, sfDir, "events")
        .groupBy(to_date($"ts").as("d"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dn", datediff($"d", lit("1970-01-01").cast("date")))
      val w = Window.orderBy($"dn").rangeBetween(-6, 0)
      daily.select($"d", $"n", sum($"n").over(w).as("n_7d"))
        .orderBy($"d")
    },
    Some("""WITH daily AS (
           |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
           |         count(*) AS n
           |  FROM events GROUP BY 1
           |), d2 AS (
           |  SELECT d, n, datediff('day', DATE '1970-01-01', d) AS dn
           |  FROM daily
           |)
           |SELECT d, n,
           |       CAST(sum(n) OVER (ORDER BY dn
           |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           |         AS BIGINT) AS n_7d
           |FROM d2 ORDER BY d""".stripMargin))

  /** A5b: ROLLUP — the hierarchical subset of grouping sets (nation →
    * (nation, segment)), with grouping() relabeled to 'all' exactly like
    * the Demographics cube (SURVEY.md §2.4 A5). */
  val qAggRollup = Q("q_agg_rollup",
    (spark, sfDir) => {
      import spark.implicits._
      val c = Tables.read(spark, sfDir, "customer")
      val n = Tables.read(spark, sfDir, "nation")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .rollup($"n_name", $"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          round(sum($"c_acctbal").cast("decimal(18,6)"), 6)
            .cast("double").as("total_bal"),
          grouping($"n_name").as("g_nat"),
          grouping($"c_mktsegment").as("g_seg"))
        .select(
          when($"g_nat" === 1, "all").otherwise($"n_name").as("nation"),
          when($"g_seg" === 1, "all").otherwise($"c_mktsegment")
            .as("segment"),
          $"n_cust", $"total_bal")
        .orderBy($"nation", $"segment")
    },
    Some("""SELECT
           |  CASE WHEN GROUPING(n_name) = 1 THEN 'all'
           |       ELSE n_name END AS nation,
           |  CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'all'
           |       ELSE c_mktsegment END AS segment,
           |  count(*) AS n_cust,
           |  CAST(round(CAST(sum(c_acctbal) AS DECIMAL(18,6)), 6)
           |    AS DOUBLE) AS total_bal
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY ROLLUP (n_name, c_mktsegment)
           |ORDER BY nation, segment""".stripMargin))

  /** T7b: stream-static join — the streaming fact flow enriched by a
    * static broadcast dimension (the streaming twin of J2). The static
    * side is planned as a broadcast hash join inside every micro-batch;
    * no state is kept for it, so the join adds zero to the state store —
    * exactly how a 100 TB/day stream joins a code-map. */
  val qStreamStatic = Q("q_stream_static",
    (spark, sfDir) => {
      import spark.implicits._
      val dim = broadcast(Tables.read(spark, sfDir, "customer")
        .select($"c_custkey".as("user_id"), $"c_mktsegment"))
      val s = Tables.readStream(spark, sfDir, "events")
        .join(dim, Seq("user_id"))
        .groupBy($"c_mktsegment", $"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value").cast("decimal(18,6)"), 6)
            .cast("double").as("sum_value"))
      graft.streaming.StreamRun.toTable(spark, s, "t_static", "complete")
        .orderBy($"c_mktsegment", $"event_type")
    },
    Some("""SELECT c_mktsegment, event_type, count(*) AS n,
           |  CAST(round(CAST(sum(value) AS DECIMAL(18,6)), 6) AS DOUBLE)
           |    AS sum_value
           |FROM events JOIN customer ON user_id = c_custkey
           |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin))

  /** S4b: foreachBatch sink — the programmable-sink surface (idempotent
    * parquet append per micro-batch, the pattern every custom warehouse
    * sink uses). The batches land in a per-run temp dir which is then
    * read back and aggregated, so the check is independent of how the
    * source split micro-batches. */
  /** Previous invocation's aggregate scratch dir (see qSinkForeach). */
  private val sinkAggDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  val qSinkForeach = Q("q_sink_foreach",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fb_").toString
      // The per-run batch dir is scratch: reduce it to the (tiny,
      // per-event-type) aggregate ENTIRELY executor-side — written to a
      // second scratch parquet — then delete the batch dir, also when
      // the stream fails, so repeated bench/verify runs don't accumulate
      // micro-batch files in /tmp and no driver collect sits in the
      // query path (VERDICT r8 item 7). The returned frame reads the
      // aggregate parquet, so laziness can't resurrect the deleted batch
      // path; the previous invocation's (already consumed) aggregate dir
      // is retired on the next invocation, bounding scratch to one tiny
      // file per JVM, and the last one when the JVM exits.
      val aggDir =
        try {
          StreamRun.foreachBatch(spark,
            Tables.readStream(spark, sfDir, "events")
              .select($"event_id", $"event_type", $"value"),
            "sink_foreach") { (batch, _) =>
            // mode=append + per-batch task retry safety comes from
            // parquet file-commit atomicity; real deployments key on
            // batchId for exactly-once into transactional stores
            batch.write.mode("append").parquet(dir)
          }
          val agg = Tables.scratchDir("graft_fb_agg_")
          spark.read.parquet(dir)
            .groupBy($"event_type")
            .agg(count(lit(1)).as("n"),
              round(sum($"value").cast("decimal(18,6)"), 6)
                .cast("double").as("sum_value"))
            .coalesce(1)
            .write.mode("overwrite").parquet(agg)
          agg
        } finally Tables.deleteTree(dir)
      val prev = sinkAggDir.getAndSet(aggDir)
      if (prev != null) Tables.deleteTree(prev)
      spark.read.parquet(aggDir).orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(round(CAST(sum(value) AS DECIMAL(18,6)), 6) AS DOUBLE)
           |    AS sum_value
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin))

  /** Monotone suffix for qStreamUpsert's per-invocation table/views. */
  private val upsertRun =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Previous invocation's (already consumed) target table — retired
    * on the next invocation (the sinkAggDir convention), bounding the
    * JVM-global catalog store to one live table per query. */
  private val upsertPrevTable =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Micro-batch count of the LAST qStreamUpsert invocation — read by
    * the suite to prove the stream really split into multiple batches
    * (a single-batch run would not exercise the out-of-order guard). */
  private[graft] val upsertBatches =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** E88: streaming CDC apply — `readStream` → `foreachBatch` →
    * conditional **`MERGE INTO`** the engine's DSv2 table (E86's
    * catalog), the pattern every production change feed uses to
    * maintain a warehouse table from a stream. The feed (latest-value
    * purchase events) is split into 4 hash-distributed files read one
    * per micro-batch, so batches arrive OUT of event-time order; the
    * merge therefore guards with the CDC event-time rule — apply a
    * source row only if it is newer (`ts`, then `event_id`) than what
    * the target already absorbed — which makes the converged state
    * equal to the global latest-per-key REGARDLESS of how the source
    * split batches. Each batch first reduces to latest-per-key
    * map-side (`max(struct(us, eid, value))` — one partial-agg
    * shuffle, and it also satisfies MERGE's at-most-one-match
    * cardinality rule), then merges. Converged table ≡ the E15/E86
    * fixture state plus the applied event-time bookkeeping columns,
    * which the oracle recomputes exactly — so a batch boundary leaking
    * through the guard fails the hash.
    *
    * Scale: this is the Delta/Iceberg streaming-upsert loop verbatim —
    * per-batch work is one keyed partial agg + one MERGE join (AQE
    * governs broadcast vs shuffle), state lives in the TABLE not the
    * state store, and the event-time guard is what makes replay /
    * at-least-once delivery idempotent at 100 TB. */
  val qStreamUpsert = Q("q_stream_upsert",
    (spark, sfDir) => {
      import spark.implicits._
      if (spark.conf.getOption("spark.sql.catalog.graftmem").isEmpty)
        spark.conf.set("spark.sql.catalog.graftmem",
          classOf[graft.sources.MemRowTableCatalog].getName)
      val id = upsertRun.incrementAndGet()
      val tbl = s"graftmem.db.upsert_target_$id"
      val prev = upsertPrevTable.getAndSet(tbl)
      if (prev != null) spark.sql(s"DROP TABLE IF EXISTS $prev")
      spark.sql(s"CREATE TABLE $tbl (key BIGINT, c_mktsegment STRING, " +
        "balance DOUBLE, applied_us BIGINT, applied_eid BIGINT)")
      Tables.read(spark, sfDir, "customer")
        .filter($"c_custkey" % 2 === 0)
        .select($"c_custkey".as("key"), $"c_mktsegment",
          $"c_acctbal".cast("double").as("balance"),
          lit(null).cast("long").as("applied_us"),
          lit(null).cast("long").as("applied_eid"))
        .writeTo(tbl).append()
      // stand-in for the kafka topic: purchase feed in 4 files hashed
      // on event_id, so each micro-batch spans the whole time range
      val feedDir = java.nio.file.Files
        .createTempDirectory("graft_upsert_feed_").toString
      Tables.read(spark, sfDir, "events")
        .filter($"event_type" === "purchase" && $"value".isNotNull)
        .select($"user_id", $"value",
          unix_micros($"ts").as("us"), $"event_id".as("eid"))
        .repartition(4, $"eid")
        .write.mode("overwrite").parquet(feedDir)
      upsertBatches.set(0)
      try {
        val src = spark.readStream
          .schema("user_id BIGINT, value DOUBLE, us BIGINT, eid BIGINT")
          .option("maxFilesPerTrigger", 1)
          .parquet(feedDir)
        StreamRun.foreachBatch(spark, src, "upsert") { (batch, batchId) =>
          upsertBatches.incrementAndGet()
          // foreachBatch runs in the stream's CLONED session — the
          // view must register there, and the catalog store being
          // name-keyed (see MemRowTableCatalog) is what lets this
          // MERGE see the outer session's table
          val bs = batch.sparkSession
          val view = s"upsert_src_${id}_$batchId"
          batch.groupBy(col("user_id"))
            .agg(max(struct(col("us"), col("eid"), col("value")))
              .as("m"))
            .select(col("user_id").as("key"), col("m.us").as("us"),
              col("m.eid").as("eid"), col("m.value").as("value"))
            .createOrReplaceTempView(view)
          try {
            bs.sql(
              s"""MERGE INTO $tbl t USING $view s ON t.key = s.key
                 |WHEN MATCHED AND (t.applied_us IS NULL
                 |    OR s.us > t.applied_us
                 |    OR (s.us = t.applied_us
                 |        AND s.eid > t.applied_eid)) THEN
                 |  UPDATE SET balance = s.value,
                 |    applied_us = s.us, applied_eid = s.eid
                 |WHEN NOT MATCHED THEN
                 |  INSERT (key, c_mktsegment, balance,
                 |          applied_us, applied_eid)
                 |  VALUES (s.key, NULL, s.value, s.us, s.eid)"""
                .stripMargin)
            ()
          } finally { bs.catalog.dropTempView(view); () }
        }
      } finally Tables.deleteTree(feedDir)
      spark.table(tbl).orderBy($"key")
    },
    Some(s"""WITH ${Cohort.evCte}, pur AS (
           |  SELECT user_id, value, ts, event_id FROM ev
           |  WHERE event_type = 'purchase' AND value IS NOT NULL
           |), latest AS (
           |  SELECT user_id AS key, value,
           |         epoch_us(ts) AS applied_us,
           |         event_id AS applied_eid
           |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
           |          ORDER BY ts DESC, event_id DESC) AS rn FROM pur)
           |  WHERE rn = 1
           |), base AS (
           |  SELECT c_custkey AS key, c_mktsegment,
           |         CAST(c_acctbal AS DOUBLE) AS balance
           |  FROM customer WHERE c_custkey % 2 = 0
           |)
           |SELECT COALESCE(b.key, l.key) AS key,
           |       b.c_mktsegment,
           |       COALESCE(l.value, b.balance) AS balance,
           |       l.applied_us, l.applied_eid
           |FROM base b FULL OUTER JOIN latest l ON b.key = l.key
           |ORDER BY key""".stripMargin))

  /** O2b/§4.2(c): top-k PER KEY through the custom whole-operator
    * machinery — graft.plans.TopKPerKey (logical node → injected
    * planner strategy → bounded-heap physical operator). Unlike the
    * Window form (Exchange → FULL Sort → Window → Filter) the custom
    * plan is Exchange → TopKPerKeyExec: one k-heap per key, no
    * partition sort, O(n log k) comparisons — the shape that wins at
    * 100 TB for small k. The (o_totalprice DESC, o_orderkey ASC)
    * order is total, so the kept SET is engine-independent and the
    * row_number oracle reproduces it exactly. PlanSuite locks
    * TopKPerKeyExec present + Window absent. */
  val qTopkPerKey = Q("q_topk_per_key",
    (spark, sfDir) => {
      import spark.implicits._
      val o = Tables.read(spark, sfDir, "orders")
        .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
      graft.plans.TopKPerKey.of(o,
          partitionCols = Seq("o_orderpriority"),
          orderCol = "o_totalprice", desc = true,
          tiebreak = "o_orderkey", k = 3)
        .orderBy($"o_orderpriority", $"o_totalprice".desc, $"o_orderkey")
    },
    Some("""SELECT o_orderpriority, o_orderkey, o_totalprice
           |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
           |        row_number() OVER (PARTITION BY o_orderpriority
           |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |      FROM orders)
           |WHERE rn <= 3
           |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey"""
      .stripMargin))

  /** E2b: AQE skew-join — the production-DEFAULT answer to the skewed
    * key that E2 (q_join_salted) handles manually. Half of all events
    * collapse onto key 0 (the Zipf-hot key of SURVEY.md §4.2 — keyed
    * off event_id, whose domain is dense at every sf), then join a
    * uniform per-key dim built from `part` — one of the tables
    * ScaleUp deliberately does NOT scale, so the per-key dim
    * multiplicity (20 rows/k) is a constant and the join OUTPUT grows
    * linearly in the fact. (The first cut derived the dim from
    * customer, which ScaleUp scales; since the universe stride is
    * divisible by the modulus, every copy collided onto the same k,
    * both sides grew with sf, and the join output grew QUADRATICALLY —
    * measured 15 B output rows / 100 s at sf10, a fixture artifact:
    * per-output-row throughput was actually improving. A real skewed
    * fact⋈dim grows the fact against a fixed dim, which `part`
    * matches by construction.) The `merge` hint
    * pins the sort-merge strategy this join gets at real scale (both
    * sides are fact-sized there; AQE would broadcast the fixture-sized
    * dim and bypass the mechanism being demonstrated). At production
    * sizes `spark.sql.adaptive.skewJoin` (on in Sessions) splits the
    * hot partition into advisory-sized chunks and duplicates the
    * matching dim partition — no code changes, no salt column; the
    * PlanSuite lock runs this same join with the skew thresholds scaled
    * down to fixture bytes and asserts the split fired (`skew=true` on
    * the SMJ). The oracle checks the join result is split-invariant.
    * pmod-emulation on the oracle side keeps parity for negative ids
    * (same contract as q_sample_stratified). */
  val qJoinSkewAqe = Q("q_join_skew_aqe",
    (spark, sfDir) => {
      import spark.implicits._
      // AQE splits a skewed partition at MAPPER granularity
      // (contiguous map-index ranges), and the fixture's single-file
      // single-row-group parquet collapses the scan to ONE effective
      // mapper — unsplittable no matter how skewed. A production
      // layout has thousands of files (= mappers), so the round-robin
      // spread is gated on the actual file count: it fires only on
      // few-file fixtures and costs a 100 TB run nothing (the same
      // single-file remedy the shingle table uses, LLMOps.scala)
      val raw = Tables.read(spark, sfDir, "events")
      val spread =
        if (raw.inputFiles.length >= graft.Sessions.cpuCount) raw
        else raw.repartition(graft.Sessions.cpuCount)
      val e = spread
        .select(when(pmod($"event_id", lit(1000L)) < 500L, 0L)
          .otherwise(pmod($"event_id", lit(1000L))).as("k"), $"value")
      // the dim stays a pure projection: OptimizeSkewedJoin only
      // matches SMJ(Sort(shuffle), Sort(shuffle)) — an aggregate
      // sitting between the dim's exchange and the join (already
      // partitioned on the join key) would hide the shuffle stage from
      // the rule and silently disable the skew split
      val c = Tables.read(spark, sfDir, "part")
        .select(pmod($"p_partkey", lit(1000L)).as("k"), $"p_partkey")
      e.hint("merge").join(c, Seq("k"))
        .groupBy(($"k" === 0L).as("hot"))
        .agg(count(lit(1)).as("n"),
          countDistinct($"k").as("n_keys"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"hot")
    },
    Some("""WITH e AS (
           |  SELECT CASE WHEN (event_id % 1000 + 1000) % 1000 < 500
           |           THEN 0
           |           ELSE (event_id % 1000 + 1000) % 1000 END AS k,
           |         value
           |  FROM events
           |), c AS (
           |  SELECT (p_partkey % 1000 + 1000) % 1000 AS k, p_partkey
           |  FROM part
           |)
           |SELECT (k = 0) AS hot, count(*) AS n,
           |       count(DISTINCT k) AS n_keys,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM e JOIN c USING (k)
           |GROUP BY 1 ORDER BY hot""".stripMargin))

  /** Runtime Bloom-filter join — the third runtime scan-reduction
    * mechanism next to DPP (E46, partitioned layouts) and the AQE skew
    * split (E47): when the fact side is NOT partitioned on the join
    * key, Spark's InjectRuntimeFilter can still build a Bloom filter
    * from the selectively-filtered dim side and push a
    * `might_contain` probe into the fact scan, cutting shuffle input
    * by the dim's selectivity (urgent orders ≈ 1/5 of lineitem rows
    * here). The production thresholds are sized for real clusters
    * (application side ≥ 10 GB), so the fixture-scale correctness row
    * runs the plain join; the PlanSuite lock scopes the thresholds
    * down and asserts the bloom probe lands in the plan AND that the
    * filtered result is bit-identical to the unfiltered one. */
  val qJoinBloom = Q("q_join_bloom",
    (spark, sfDir) => {
      import spark.implicits._
      val o = Tables.read(spark, sfDir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      Tables.read(spark, sfDir, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_quantity".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
           |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 6)
           |    AS DOUBLE) AS sum_qty
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE o_orderpriority = '1-URGENT'
           |GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** E272: **native as-of join operator** — every purchase joined to
    * the same user's latest at-or-before view through
    * [[graft.plans.AsOfJoin]], the second whole-operator extension
    * (logical node + injected strategy + streaming-merge
    * BinaryExecNode): both sides hash-cluster on user_id and sort
    * (key, time) per partition, then one merge pass holds exactly ONE
    * candidate row of state — no unioned shuffle, no window buffer,
    * no candidate-pair expansion at any skew (the operator's scaladoc
    * carries the full comparison against the tagged-union-window form
    * E102 uses). The oracle IS that window form, so the hash pins the
    * two implementations to identical semantics, ties included (a
    * view at the purchase's exact timestamp matches; equal-time views
    * resolve to the greatest event_id). PlanSuite locks the AsOfJoin
    * node into the plan. */
  val qJoinAsofNative = Q("q_join_asof_native",
    (spark, sfDir) => {
      import spark.implicits._
      val ev = Tables.read(spark, sfDir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id")
      val views = ev.filter($"event_type" === "view")
        .select($"user_id".as("v_user_id"), $"ts".as("v_ts"),
          $"event_id".as("v_event_id"))
      graft.plans.AsOfJoin.of(purchases, views,
          probeKey = "user_id", buildKey = "v_user_id",
          probeTime = "ts", buildTime = "v_ts",
          buildTiebreak = "v_event_id")
        .select($"user_id", $"event_id".as("purchase_id"),
          $"v_event_id".as("prev_view_id"),
          (unix_micros($"ts") - unix_micros($"v_ts")).as("gap_us"))
        .orderBy($"purchase_id")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
           |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
           |  FROM events
           |  WHERE event_type IN ('view', 'purchase')
           |), carried AS (
           |  SELECT user_id, ts, event_id, kind,
           |    last_value(CASE WHEN kind = 0 THEN event_id END
           |      IGNORE NULLS) OVER w AS prev_view_id,
           |    last_value(CASE WHEN kind = 0 THEN epoch_us(ts) END
           |      IGNORE NULLS) OVER w AS prev_view_us
           |  FROM ev
           |  WINDOW w AS (PARTITION BY user_id
           |    ORDER BY ts, kind, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |)
           |SELECT user_id, event_id AS purchase_id, prev_view_id,
           |  epoch_us(ts) - prev_view_us AS gap_us
           |FROM carried WHERE kind = 1
           |ORDER BY purchase_id""".stripMargin))

  val all: Seq[Q] = Seq(qJoinRangeBinned, qJoinRangeAuto,
    qWindowRangeFrame, qAggRollup,
    qStreamStatic, qSinkForeach, qStreamUpsert, qTopkPerKey,
    qJoinSkewAqe, qJoinBloom, qJoinAsofNative)
}
