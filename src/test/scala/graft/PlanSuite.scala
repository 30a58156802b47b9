package graft

import graft.queries.{Aggregates, LLMOps, Relational}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4.2): the scale story lives in
  * the plan shape, not the sf0.001 runtime — lock the load-bearing
  * properties so a regression shows up as a red test, not as a 100 TB
  * incident. Streaming queries are excluded (their fn executes the
  * stream; plans are checked by their own suite's equivalence tests). */
class PlanSuite extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("broadcast dim join plans a BroadcastHashJoin, no shuffle of facts") {
    val p = plan("q_join_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("star join broadcasts both small dims") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("code-list scan pushes the IN filter into the parquet scan") {
    val p = plan("q_scan_filter_in")
    assert(p.contains("PushedFilters"))
    assert(p.contains("In(l_returnflag"))
  }

  test("event-time filters push down to the parquet scan (µs native)") {
    // Reading ts natively as TimestampType (footer-probe path) makes
    // time predicates pushable into the scan — impossible under the
    // legacy raw-nanos read, where ts was a COMPUTED column
    // (timestamp_micros(div)) no source filter could reach. At 100 TB
    // this is the difference between pruning row groups by min/max ts
    // stats and decoding every event ever written.
    import org.apache.spark.sql.functions.{col, lit}
    val p = Tables.read(spark, sf, "events")
      .filter(col("ts") >= lit("2024-01-15").cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(ts"),
      s"ts predicate must reach the parquet scan, got:\n$p")
  }

  test("mixed-unit union stays narrow: two scans, one aggregate") {
    // E95: the legacy-ns + modern-µs union must plan as two parquet
    // scans flowing into ONE partial+final aggregate — unit
    // normalization is a scan-edge projection, not an extra shuffle
    // (at 100 TB an extra exchange for 'normalization' would dominate).
    val df = SparkEntry.queries("q_source_mixed_ts_units")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("Scan parquet").length - 1 == 2,
      s"expected exactly 2 parquet scans in:\n$p")
    // one shuffle for the groupBy — none extra for the legacy branch
    assert(p.split("Exchange hashpartitioning").length - 1 <= 1,
      s"unit normalization must not introduce an extra exchange:\n$p")
  }

  test("one-dir mixed-unit split-read stays narrow: two scans, one agg") {
    // E97: the per-file-group split of ONE directory must plan exactly
    // like E95's two-root case — a scan per unit group into one
    // partial+final aggregate, no extra exchange for normalization
    val df = SparkEntry.queries("q_source_mixed_units_one_dir")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("Scan parquet").length - 1 == 2,
      s"expected exactly 2 parquet scans in:\n$p")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 1,
      s"the group split must not introduce an extra exchange:\n$p")
  }

  test("projection prunes the parquet read schema") {
    val p = plan("q_scan_filter_in")
    // only the 5 selected columns reach ReadSchema — no shipdate etc.
    assert(!p.contains("l_shipdate"))
    assert(!p.contains("l_extendedprice"))
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("range join carries the equi key — never a nested-loop join") {
    val p = plan("q_join_range")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("binned range join (no equi key) still avoids nested-loop plans") {
    // §4.2(c): the bin refinement turns a keyless interval join into an
    // equi join on the bin — the exact plan property this query exists
    // to demonstrate
    val p = plan("q_join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("probe_bin"))
  }

  test("naive keyless interval join is auto-binned into an equi join") {
    // E273: the RangeJoinBinning optimizer rule must rewrite the naive
    // formulation into the binned equi join — the assertion is on the
    // PLAN, because the naive BNLJ would pass the oracle too (slowly)
    val p = plan("q_join_range_auto")
    assert(p.contains("graft_rj_bin"),
      s"RangeJoinBinning did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"auto-binned join must not nested-loop:\n$p")
    // the explode fan-out rides the interval side, not the point side
    assert(p.contains("Generate explode"),
      s"interval side must explode its bin range:\n$p")
    // control: with the rule disabled the same query nested-loops —
    // proving the rule (not query formulation) carries the plan shape
    spark.conf.set(graft.plans.RangeJoinBinning.BinConf, "0")
    try {
      val c = graft.queries.Scale.qJoinRangeAuto.fn(spark, sf)
        .queryExecution.executedPlan.toString
      assert(c.contains("BroadcastNestedLoopJoin") ||
        c.contains("CartesianProduct"),
        s"control (rule off) should nested-loop:\n$c")
    } finally spark.conf.unset(graft.plans.RangeJoinBinning.BinConf)
  }

  test("semi/anti joins plan as semi/anti, not join+distinct") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("no query plans a cartesian product") {
    val batch = SparkEntry.queries.keys.filterNot(_.startsWith("q_stream"))
    batch.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("nested-loop joins appear only where a tiny broadcast probe is intended") {
    // cosine top-k broadcasts ≤10 query vectors against the table with
    // a non-equi (!=) condition — the one legitimate BNLJ; the daily-
    // counts/date-spine family broadcasts a tiny spine the same way;
    // ngram-jaccard cross-joins ONE scalar row (the corpus size, for
    // the max-df cap) into the shingle-df frame.
    val allowed = Set("q_sim_cosine_topk", "q_cohort_daily_counts",
      "q_dedup_ngram_jaccard", "q_fource_daily_counts",
      "q_dedup_cluster", // inherits ngram-jaccard's 1-row corpus cross
      "q_sql_recursive", // same inherited 1-row corpus cross
      "q_text_tfidf", // same 1-row corpus-size cross for the idf term
      "q_quality_lm", // 1-row token-total cross into the LM log-probs
      "q_quality_bigram_lm", // same 1-row token-total cross (the
                             // unigram interpolation term, E345)
      "q_sample_dsir", // 1-row (N_raw, N_tgt) totals cross into the
                       // smoothed feature log-ratios (E346)
      "q_drift_chi2", // 1-row corpus-total cross into the type shares
      "q_sample_mixture", // 1-row (N, Σw) totals cross into the rates
      "q_sample_systematic", // 1-row (lo, hi) key-bounds cross feeds
                             // the distributed-rank bucketing (r16)
      "q_dedup_canonical", // inherits ngram-jaccard's 1-row cross
      "q_text_bm25", // 1-row (N, avgdl, df) stats cross into scores
      "q_observe_metrics", // 1-row captured-metrics cross into the agg
      "q_pack_sequences", // 1-row invariant-gate crosses (E42 oracle)
      "q_basket_pairs", // 1-row basket-universe-count cross into lift
      "q_rolling_distinct", // 1-row span-bounds cross clips the edge
      "q_crosstab_chi2", // 5x5 marginal-grid + 1-row totals crosses
      "q_kmeans_step", // k=8 centroid broadcast cross, cosine-family shape
      "q_ab_test", // 1-row arm-vs-arm cross into the z statistic
      "q_mutual_info", // 1-row total crosses into the MI/entropy terms
      "q_markov_backtest", // 1-row time-cutoff cross splits train/test
      "q_seasonality", // 1-row overall-mean cross into the index
      "q_psi", // 1-row cutoff + decile-edge crosses into the binning
      "q_class_weights", // 1-row (N, k) totals cross over the label frame
      "q_degree_distribution", // inherits ngram-jaccard's 1-row cross
      "q_quality_policy", // 1-row min/max-bounds cross into the scoring
      "q_acf", // 1-row ACF-denominator cross into the per-lag ratios
      "q_ccf", // same 1-row denominator cross, two-series form (E280)
      "q_kendall_tau", // ≤31-row daily-frame d1<d2 pair broadcast
      "q_agg_kmv_distinct", // 1-row exact-count cross into the audit
      "q_pmi_cooccur", // 1-row corpus-size cross into the PMI term
      "q_embed_separation", // 500-row fixed-frame vec_id<vec_id pairs
      "q_sim_ann_recall", // ≤50 probe vectors broadcast, X3's shape
      "q_pca_power_step", // 1-row norm cross into the 64-dim vector
      "q_link_fellegi", // 1-row (N1,N2,u) stats cross into ≤4 patterns
      "q_did", // 1-row day-span-pivot cross splits pre/post
      "q_cuped", // 1-row pivot + 1-row (theta, xbar) crosses
      "q_negative_sampling", // 1-row corpus-size cross into the ring
      "q_agg_rollup_incremental", // 1-row cutoff-date cross splits
                                  // standing rollup vs delta (E329)
      "q_agg_rollup_lattice_late", // 1-row dropped-rows total cross
                                   // into the shard aggregate (E362)
      // q_sim_ann_kmeans left this list in round 20: the at-rest
      // index replaced the array_contains membership BNLJ with a
      // partition-pruned equi join (locked below)
      "q_sim_ann_kmeans_recall", // the brute-force !=-condition leg
                                 // (E365); the ANN leg itself is the
                                 // pruned equi join
      "q_sim_ann_ivf_pq_recall", // same brute-force leg (E377)
      "q_retrieval_rrf", // both fusion legs are the X3 10-probe
                         // broadcast with the != condition (E367)
      "q_curriculum_phases", // 1-row (lo, hi) quality-bounds cross
                             // feeds the distributed-rank bucketing,
                             // q_sample_systematic's shape (E369)
      "q_lsh_recall", // 1-row n_truth × 1-row n_found count cross
                      // into the recall ratio (E370)
      "q_sim_ann_twolevel", // ≤50 probes × fine-cell local relation
                            // with array_contains membership — the
                            // two-level probe join (E371)
      "q_sim_ann_twolevel_recall", // same + the brute-force
                                   // !=-condition leg (E372)
      "q_sim_ann_pq", // ≤50 probes broadcast over the code table
                      // with the != condition — the ADC scan (E374)
      "q_sim_ann_pq_recall", // same + the brute-force leg (E375)
      // q_sim_ann_scout is NOT here: its global ADC leg (the E374
      // broadcast-probe shape) runs eagerly into a driver-bounded
      // hit set, so the retrieval plan proper is equi-joins only —
      // locked below
      "q_sim_ann_scout_recall") // the brute-force !=-condition
                                // audit leg (E379)
    val batch = SparkEntry.queries.keys.filterNot(_.startsWith("q_stream"))
    batch.filterNot(allowed).foreach { name =>
      assert(!plan(name).contains("BroadcastNestedLoopJoin"),
        s"$name plans an unexpected BroadcastNestedLoopJoin")
    }
  }

  /** Every node of a query's executed plan, descending through AQE
    * wrappers and stages and INTO cached relations (the FourCE cohort
    * is a persisted frame, so its plan sits under the scan node). */
  private def allNodes(name: String)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case other => other.children.flatMap(walk)
    })
    walk(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
  }

  test("FourCE library: code-map joins broadcast, no fact-side shuffle for them") {
    // the cohort inside every q_fource_* query joins obs⋈code-map ONCE
    // for both categories (positive, severe) as a BroadcastHashJoin —
    // the fact side shuffles only on patient_num for the admission
    // window; a second code-map join is a second pass over the facts
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val nodes = allNodes("q_fource_demographics")
    def onCodes(keys: Seq[Expression]) =
      keys.exists(_.toString.contains("local_code"))
    val codeJoins = nodes.collect {
      case j: BroadcastHashJoinExec
          if onCodes(j.leftKeys ++ j.rightKeys) => j
    }
    assert(codeJoins.size === 1,
      s"expected one code-map broadcast join, found ${codeJoins.size}")
    assert(!nodes.exists {
      case j: SortMergeJoinExec => onCodes(j.leftKeys ++ j.rightKeys)
      case j: ShuffledHashJoinExec => onCodes(j.leftKeys ++ j.rightKeys)
      case _ => false
    })
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("FourCE distinct-patient counts plan no Expand") {
    // DailyCounts, ClinicalCourse, Diagnoses and Medications count
    // distinct patients as two plain aggregates (keys + patient, then
    // keys); Spark's multi-distinct rewrite would copy every row once
    // per countDistinct through an Expand
    import org.apache.spark.sql.execution.ExpandExec
    Seq("q_fource_daily_counts", "q_fource_clinical_course",
      "q_fource_diagnoses", "q_fource_medications").foreach { name =>
      assert(!allNodes(name).exists(_.isInstanceOf[ExpandExec]),
        s"$name plans an Expand")
    }
  }

  test("nested-struct scan prunes to the referenced leaves only") {
    // E145: reading meta.event_type/meta.user_id must rewrite the
    // parquet ReadSchema to those leaves — the payload branch (value,
    // props) may not appear anywhere in the scan schema. At 100 TB
    // this is the difference between decoding the envelope and
    // decoding the payload.
    val p = plan("q_source_nested_prune")
    val read = p.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(read.nonEmpty, s"no ReadSchema in:\n$p")
    assert(read.contains("meta"), s"meta leaves must be read:\n$read")
    assert(!read.contains("payload"),
      s"payload branch must be pruned from the scan:\n$read")
  }

  test("verifyJaccard semi-joins shingles to candidates on the array form only") {
    // The array form's collect_set is its one corpus-sized exchange,
    // so its shingle leg is semi-joined to the candidate endpoints
    // first; the join form reads the memoized (doc, hash) table whole
    // (the prefilter measured ~10% slower there). Lock both arms: a
    // LeftSemi join on doc_id below the collect_set aggregate on the
    // array form, no such join anywhere on the join form.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import spark.implicits._
    val ids = Tables.read(spark, sf, "documents").select($"doc_id")
      .orderBy($"doc_id").limit(40).collect().map(_.getLong(0))
    val cand = ids.combinations(2).map { case Array(a, b) => (a, b) }
      .toSeq.toDF("d1", "d2")
    def optimized(array: Boolean): LogicalPlan = LLMOps
      .verifyJaccard(spark, sf, cand, 0.1, forceArrayForm = array)
      .queryExecution.optimizedPlan
    def docSemiJoins(p: LogicalPlan): Seq[Join] = p.collect {
      case j: Join if j.joinType == LeftSemi &&
          j.condition.exists(_.references.exists(_.name == "doc_id")) => j
    }
    val arrayPlan = optimized(array = true)
    val collectSets = arrayPlan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists {
        case e: AggregateExpression =>
          e.aggregateFunction.isInstanceOf[CollectSet]
        case _ => false
      }) => a
    }
    assert(collectSets.nonEmpty, s"no collect_set aggregate:\n$arrayPlan")
    assert(collectSets.forall(a => docSemiJoins(a.child).nonEmpty),
      s"array form must semi-join its shingles on doc_id:\n$arrayPlan")
    val joinPlan = optimized(array = false)
    assert(docSemiJoins(joinPlan).isEmpty,
      s"join form must not semi-join on doc_id:\n$joinPlan")
  }

  test("edit-distance prefilter rule injects the length bound, once") {
    // E159: the optimized plan must carry the implied
    // abs(length(a) - length(b)) conjunct the rule injects, and the
    // rule must be a fixpoint (idempotent) since it runs inside the
    // operator-optimization fixed-point batch.
    val df = SparkEntry.queries("q_rule_editdist_prefilter")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    val p = opt.toString
    assert(p.contains("abs(") && p.contains("length("),
      s"injected length prefilter missing from optimized plan:\n$p")
    val again = graft.plans.EditDistPrefilter(opt)
    assert(again.fastEquals(opt) || again.toString == opt.toString,
      "rule must be idempotent on an already-rewritten plan")
  }

  test("range-sorted layout plans a RangePartitioning exchange") {
    // E166: the writer side must shuffle by range on ts (globally
    // disjoint files) with an in-partition sort — the layout that
    // makes every file's min/max ts stats tight.
    import org.apache.spark.sql.functions.col
    val p = Tables.read(spark, sf, "events")
      .repartitionByRange(8, col("ts"))
      .sortWithinPartitions(col("ts"), col("event_id"))
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected a RangePartitioning exchange in:\n$p")
    assert(p.contains("Sort ["), "expected the in-partition sort")
  }

  test("heaviest round-11 operators keep their intended join shapes") {
    // E122: the basket self-join must be an EQUI join on the basket
    // key (the brand `<` rides as a post-join condition) — a planner
    // regression to a nested loop over the inequality would be the
    // 100 TB killer this design exists to avoid.
    val basket = plan("q_basket_pairs")
    assert(basket.contains("SortMergeJoin") ||
      basket.contains("ShuffledHashJoin") ||
      basket.contains("BroadcastHashJoin"),
      s"basket pairs must join on the basket key:\n$basket")
    // E134: the containment join is equi on the shingle; the max-df
    // drop-list applies as a broadcast ANTI join on both sides.
    val contain = plan("q_contain_score")
    assert(contain.contains("LeftAnti"),
      "containment must carry the drop-list anti joins")
    assert(!contain.contains("CartesianProduct"))
    // E153: the VaR cut broadcasts back over the fact scan — never a
    // fact-by-fact join for a 3-row frame.
    val cvar = plan("q_cvar")
    assert(cvar.contains("BroadcastHashJoin"),
      s"the percentile cut must broadcast:\n$cvar")
    // E148: geo candidates come from the cell-id EQUI join.
    val geo = plan("q_geo_nearest")
    assert(geo.contains("SortMergeJoin") ||
      geo.contains("ShuffledHashJoin") ||
      geo.contains("BroadcastHashJoin"),
      s"geo candidates must equi-join on the cell id:\n$geo")
  }

  test("aggregates run two-phase (partial then final)") {
    val p = plan("q_agg_stats")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("custom top-k-per-key plans the bounded-heap operator, never a sort") {
    val p = plan("q_topk_per_key")
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(p.contains("TopKPerKey ["),
      "the injected strategy must plan the custom physical operator")
    assert(!p.contains("Window"),
      "custom plan must not fall back to the Window form")
    // the only Sort allowed is the final presentation orderBy ABOVE the
    // operator — below it the whole point is that no partition sort runs
    val belowOp = p.substring(p.indexOf("TopKPerKey ["))
    assert(!belowOp.contains("Sort "),
      "no sort may run below TopKPerKeyExec")
  }

  test("round-13 closing rows keep their scale shapes") {
    // E307: the posting-list prefix must bound through the custom
    // operator, never a Window partition sort
    val postings = plan("q_text_postings")
    assert(postings.contains("TopKPerKey ["),
      "postings prefix must plan the bounded-heap operator")
    assert(!postings.contains("Window"),
      "postings must not fall back to the Window form")
    // E301/E302: the supplier dim joins broadcast; the fact table is
    // never sort-merge-joined against a 100-row dim
    Seq("q_meta_analysis", "q_fdr_bh").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q dim join")
      assert(!p.contains("SortMergeJoin"), s"$q fact-side SMJ")
    }
    // E311: the hilbert key is the native expression inside the
    // projection — no ScalaUDF (interpreted, codegen-breaking) node
    val hil = plan("q_layout_hilbert")
    assert(hil.contains("hilbert_index"), "native expression planned")
    assert(!hil.contains("ScalaUDF"), "no UDF fallback")
    // E303: all three coarser class tables broadcast back onto the
    // level-0 classes
    val gen = plan("q_k_generalize")
    assert(gen.split("BroadcastHashJoin").length - 1 >= 3,
      s"generalization ladder joins must broadcast, got:\n$gen")
  }

  test("DSv2 series source narrows its range and prunes columns") {
    // E319: the pushed [25000, 75000) bounds and the i,value column
    // subset must appear in the scan's own description — proof the
    // generator never materializes out-of-range rows or the ts column
    val p = plan("q_source_dsv2_pushdown")
    assert(p.contains("SeriesScan[lo=25000, hi=75000"),
      s"pushed range missing from scan description:\n$p")
    assert(p.contains("cols=i,value"),
      s"column pruning missing from scan description:\n$p")
  }

  test("top-k-per-key runs two-phase: map-side partial below the exchange") {
    val p = plan("q_topk_per_key")
    val fin = p.indexOf("TopKPerKey [")
    val part = p.indexOf("TopKPerKeyPartial [")
    assert(fin >= 0 && part >= 0,
      "both the final and the map-side partial operator must plan")
    assert(part > fin, "partial must sit BELOW the final pass")
    // the key exchange separates them: while the partial key map stays
    // under graft.topk.maxPartialKeys, at most map-partitions·keys·k
    // rows cross the network (beyond the cap, unseen-key rows pass
    // through unpruned — memory safety traded for shuffle volume)
    val between = p.substring(fin, part)
    assert(between.contains("Exchange") || between.contains("ShuffleQueryStage"),
      "the shuffle must run between partial and final, pruned input only")
  }

  test("bucketed-table join consumes buckets: no exchange on the join keys") {
    val p = plan("q_source_bucketed_join")
    // both sides pre-bucketed on the key → the sort-merge join reads
    // bucket files directly; the only exchange allowed is the
    // post-join aggregation's (on o_orderstatus)
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"))
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"))
  }

  test("funnel pushes each step's event-type filter into the parquet scan") {
    val p = plan("q_funnel")
    assert(p.contains("EqualTo(event_type,view)"))
    assert(p.contains("EqualTo(event_type,click)"))
    assert(p.contains("EqualTo(event_type,purchase)"))
  }

  test("retention cohort broadcasts the cohort-size side of the share join") {
    // base is one row per distinct first-seen day — tiny at any scale
    assert(plan("q_retention_cohort").contains("BroadcastHashJoin"))
  }

  test("partitioned roundtrip prunes partitions at planning time") {
    val p = plan("q_source_partitioned_roundtrip")
    assert("PartitionFilters: \\[[^\\]]*event_type".r
      .findFirstIn(p).isDefined,
      "event_type predicate must land in PartitionFilters (directory " +
        "pruning), not just a row-level filter")
  }

  /** Number of scans in `p` pruned by the probed cell set — under the
    * round-21 hybrid at-rest layout the evidence is a partition filter
    * on `cell` (cell-directory form, cells file-sized) OR a pushed
    * `In(cell, ...)` reaching the scan (cell-sorted strip form below the
    * file-size threshold, pruned by row-group min/max stats). Both
    * count; a scan with NEITHER is the unpruned regression this lock
    * exists to catch. A bare `isnotnull(cell)` prunes nothing and does
    * not count. */
  private def cellPruneCount(p: String): Int = {
    val cell = "(?<![\\w.])cell(?!\\w)".r
    val partition = scanLists(p, "PartitionFilters").count(_.exists(f =>
      cell.findFirstIn(f).isDefined &&
        !f.toLowerCase.startsWith("isnotnull(")))
    val pushed = scanLists(p, "PushedFilters")
      .count(_.exists(_.matches("In\\(cell,.*")))
    partition + pushed
  }

  /** The entries of every `<key>: [...]` list in `p`, one Seq per scan.
    * Entries nest brackets and parentheses (`In(cell, [1,2])`), so a
    * list ends at its own matching `]` and splits only on top-level
    * commas. A list cut short by the plan's metadata abbreviation ends
    * where the scan's next `, Key: ` field or the line begins. */
  private def scanLists(p: String, key: String): Seq[Seq[String]] =
    s"$key: \\[".r.findAllMatchIn(p).map { m =>
      val line = p.substring(m.end).takeWhile(_ != '\n')
      val value = ", [A-Z][A-Za-z]*: ".r.findFirstMatchIn(line)
        .fold(line)(f => line.substring(0, f.start))
      val entries = Seq.newBuilder[String]
      val cur = new StringBuilder
      var depth = 0
      var i = 0
      while (i < value.length && depth >= 0) {
        value(i) match {
          case '[' | '(' => depth += 1; cur += value(i)
          case ']' | ')' => depth -= 1; if (depth >= 0) cur += value(i)
          case ',' if depth == 0 => entries += cur.toString.trim; cur.clear()
          case c => cur += c
        }
        i += 1
      }
      if (cur.toString.trim.nonEmpty) entries += cur.toString.trim
      entries.result()
    }.toSeq

  test("ExplainOne's executed plan is the AQE final plan of the write") {
    // the noop write runs its own QueryExecution; the dump must be that
    // one, executed, not the query's never-executed initial plan
    val p = ExplainOne.executedPlan(spark,
      SparkEntry.queries("q_basket_pairs")(spark, sf))
    assert(p.contains("== Final Plan ==") &&
      p.contains("isFinalPlan=true"), p)
    assert(p.contains("ShuffleQueryStage"), p)
  }

  test("kmeans ANN probes a pruned at-rest scan via equi join, no BNLJ") {
    // VERDICT r19 item 2: the candidate join must read ONLY the probed
    // cells' partition directories of the at-rest index (planning-time
    // pruning, the E17 lock style) and join them by EQUI key — the old
    // array_contains membership BroadcastNestedLoopJoin streamed the
    // whole raw-embedding corpus per probe batch
    val p = plan("q_sim_ann_kmeans")
    assert(cellPruneCount(p) >= 1,
      "probed cells must prune the at-rest scan (PartitionFilters on " +
        s"the directory layout, or a pushed In(cell) on the strip " +
        s"layout — round 21 hybrid):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"candidate join must be the pruned equi join, not a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"pair/probe joins must broadcast-hash:\n$p")
  }

  test("IVF∘PQ retrieval scans pruned codes, equi joins, no BNLJ") {
    // E376: the composed tier must keep BOTH volumes flat — the ADC
    // leg reads the code table pruned to probed cells, the rerank leg
    // reads the at-rest embeddings pruned the same way; everything
    // joins by equi key
    val p = plan("q_sim_ann_ivf_pq")
    assert(cellPruneCount(p) >= 2,
      s"both the codes scan and the rerank scan must prune on cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"IVF∘PQ must never nested-loop:\n$p")
  }

  test("scout tier: global leg reads only codes, exact legs prune on cell") {
    // E378: the scout's one full scan is the COMPRESSED code table —
    // round 20: the DENSE strip (cell rides as a ~8 B data column;
    // the cell-partitioned directories are for pruned point fetches,
    // not linear scans). Its hits are collected to the driver
    // (≤ 50·SCOUT_T, the driver-scalar discipline), so that leg's
    // plan is inspected directly: ReadSchema must carry the code-row
    // columns only — never the raw embedding column
    val legP = graft.queries.Ann.scoutHits(spark, sf)
      .queryExecution.executedPlan.toString
    assert(legP.contains("ReadSchema: struct<vec_id:bigint," +
        "codes:array<bigint>,cell:bigint>"),
      s"scout's global leg must scan only the code columns:\n$legP")
    // the only embedding reads are the ≤50 probe rows (vec_id < 50
    // pushed to the scan) — never a corpus-wide raw-embedding scan
    legP.linesIterator
      .filter(_.contains("ReadSchema: struct<vec_id:bigint,embedding"))
      .foreach(l => assert(l.contains("LessThan(vec_id,50)"),
        s"corpus-wide raw-embedding scan in the scout leg:\n$l"))
    // the retrieval plan proper: the exact stage's at-rest read —
    // round 20 second pass: ONE merged scan serves the IVF candidate
    // leg and the scout-hit fetch (combined broadcast selector) —
    // prunes on cell at planning time, and joins stay hash/equi
    val p = plan("q_sim_ann_scout")
    assert(cellPruneCount(p) >= 1,
      s"the merged exact-stage scan must prune on cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the exact legs must never nested-loop:\n$p")
  }

  test("full outer join plans a shuffled SMJ with both scans filtered") {
    val p = plan("q_join_full_outer")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"))
    // the order side pre-aggregates before the join (partial count)
    assert(p.contains("partial_count"))
    assert(p.contains("GreaterThan(o_totalprice,350000.0)"))
  }

  test("ranking family evaluates in ONE Window operator, one shuffle") {
    val p = plan("q_window_rank")
    assert("Window \\[".r.findAllIn(p).length === 1,
      "five ranking functions must share a single Window node")
    Seq("rank(", "dense_rank(", "ntile(", "percent_rank(", "cume_dist()")
      .foreach(f => assert(p.contains(f), s"missing $f in Window node"))
  }

  test("exact percentiles aggregate two-phase (partial_percentile map-side)") {
    val p = plan("q_agg_percentile")
    assert(p.contains("partial_percentile"))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2)
  }

  test("regex scalars stay row-local over a pruned 2-column scan") {
    val p = plan("q_scalar_regex")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"))
    assert(!p.contains("Exchange hashpartitioning"), // only the sort shuffles
      "regex projection must not introduce a shuffle")
  }

  test("HOF dot-product pattern is rewritten to native vec_dot") {
    import spark.implicits._
    import graft.functions.Vectors
    import org.apache.spark.sql.functions.{array, lit}
    val df = Tables.read(spark, sf, "embeddings")
      .select($"vec_id",
        Vectors.dotHof($"embedding", $"embedding").as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vec_dot"),
      "VecDotRewrite did not fire on the HOF pattern")
    assert(!optimized.contains("aggregate(zip_with"))
    // and a double-array side must NOT be rewritten (getFloat unsafe)
    val planes = array((0 until 4).map(i => lit(i * 0.5d)): _*)
    val mixed = Tables.read(spark, sf, "embeddings")
      .select(Vectors.dotHof($"embedding", planes).as("d"))
    assert(!mixed.queryExecution.optimizedPlan.toString
      .contains("vec_dot"))
  }

  test("runtime dim filter prunes fact partitions via DPP") {
    // SURVEY §4.2: "partition pruning + DPP for star joins". The dim is
    // filtered on category, so the surviving event_type keys are only
    // known at runtime — the optimizer must plant a
    // DynamicPruningExpression in the fact scan's PartitionFilters
    // (fed by reusing the dim's broadcast) and open only the matching
    // partition directories.
    val df = SparkEntry.queries("q_source_dpp")(spark, sf)
    val pre = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dynamicpruning".r
      .findFirstIn(pre).isDefined,
      "fact scan must carry a DynamicPruningExpression partition filter")
    df.collect()
    // post-execution: the scan's own metrics show 2 of 5 partitions read
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val fact = scans(df.queryExecution.executedPlan).find(
      _.relation.location.rootPaths.exists(_.toString.contains("dpp_events")))
    assert(fact.isDefined, "partitioned fact scan not found in final plan")
    val read = fact.get.metrics.get("numPartitions").map(_.value)
    assert(read.contains(2L),
      s"DPP must read exactly the 2 'engage' partitions, read=$read")
  }

  test("catalog statistics let CBO reorder the fact-first join dim-first") {
    // the query is written worst-first (lineitem ⋈ orders, tiny
    // filtered customer last); with ANALYZE stats + CBO join reorder
    // the INNERMOST join must become orders ⋈ customer (its output
    // carries c_custkey but no lineitem column), pushing the big fact
    // to the outer join — while the default-conf plan keeps the
    // syntactic fact-first order. Reordering never changes the result,
    // which is why the correctness row runs at defaults (E47 pattern).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def innerJoinOutput(cbo: Boolean): Seq[String] = {
      val keys = Seq("spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try {
        keys.foreach(spark.conf.set(_, cbo.toString))
        val df = SparkEntry.queries("q_join_cbo_reorder")(spark, sf)
        val joins = df.queryExecution.optimizedPlan
          .collect { case j: Join => j }
        joins.last.output.map(_.name) // pre-order collect: last = innermost
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val syntactic = innerJoinOutput(cbo = false)
    assert(syntactic.contains("l_orderkey") &&
      !syntactic.contains("c_custkey"),
      s"default plan must keep the written fact-first order: $syntactic")
    val reordered = innerJoinOutput(cbo = true)
    assert(reordered.contains("c_custkey") &&
      !reordered.exists(_.startsWith("l_")),
      s"CBO must join the filtered dim first: $reordered")
  }

  test("z-order layout prunes cells on the rectangle and on either dim") {
    // the multi-dim layout claim (E67): a rectangle on BOTH dims reads
    // 4/16 cell directories, and a band on EITHER single dim still
    // reads only 8/16 — the √-pruning a 1-D partition layout cannot
    // give (day-partitioned data reads everything for a user filter)
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions.col
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    def partsRead(q: DataFrame): Option[Long] = {
      q.collect()
      scans(q.queryExecution.executedPlan)
        .find(_.relation.location.rootPaths.exists(
          _.toString.contains("zorder_events")))
        .flatMap(_.metrics.get("numPartitions").map(_.value))
    }
    def z(u: Long, d: Long): Long =
      (u & 1) | ((d & 1) << 1) | (((u >> 1) & 1) << 2) |
        (((d >> 1) & 1) << 3)
    // the registered query IS the rectangle (u2 ∈ [1,2] × d2 ∈ [1,2])
    val rect = partsRead(SparkEntry.queries("q_layout_zorder")(spark, sf))
    assert(rect.contains(4L),
      s"rectangle must read exactly its 4 z-cells, read=$rect")
    val base = spark.read.parquet(
      graft.sources.Formats.fmtDir(sf, "zorder_events"))
    val dayBand = for { u <- 0L to 3L; d <- 1L to 2L } yield z(u, d)
    val userBand = for { u <- 1L to 2L; d <- 0L to 3L } yield z(u, d)
    val dayRead = partsRead(base.filter(col("zcell").isin(dayBand: _*)))
    val userRead = partsRead(base.filter(col("zcell").isin(userBand: _*)))
    assert(dayRead.contains(8L),
      s"day-only band must read 8/16 cells, read=$dayRead")
    assert(userRead.contains(8L),
      s"user-only band must read 8/16 cells, read=$userRead")
  }

  test("AQE splits the skewed join partition once thresholds are crossed") {
    // q_join_skew_aqe's correctness row runs under production-default
    // thresholds (256 MB — never crossed by the fixture); this lock
    // scales the thresholds down to fixture bytes and asserts the
    // mechanism itself fires: the hot partition is split and the SMJ
    // is re-planned with skew=true.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "512")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set(
        "spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val df = SparkEntry.queries("q_join_skew_aqe")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE skew-join split did not fire on the hot key")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("runtime bloom filter probes the fact scan when thresholds allow") {
    // production thresholds (app side >= 10 GB) keep the fixture run
    // plain; scoping them down must inject a might_contain probe built
    // from the filtered order side into the lineitem branch, and the
    // probed result must be bit-identical to the unprobed one
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val plain = SparkEntry.queries("q_join_bloom")(spark, sf).collect()
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      // the filtered dim would be broadcast at fixture size, and a
      // broadcast join never earns a bloom probe — force the shuffled
      // plan the mechanism exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_join_bloom")(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        "InjectRuntimeFilter did not add a bloom probe")
      assert(opt.contains("bloom_filter_agg"),
        "bloom filter must be built by aggregating the dim keys")
      assert(df.collect() === plain,
        "bloom probing must not change the join result")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("incremental dedup probes the snapshot Bloom before the anti-join") {
    // tier 1 must be a bloom probe (definitely-new arrivals bypass the
    // shuffle), tier 2 the exact anti-join on the digest — and the
    // snapshot digest set must be AGGREGATED into the filter (scalar
    // subquery), never collected or cross-joined row-wise
    // (the plan prints the Catalyst prettyNames, not the registered
    // bloom_* aliases — same strings the q_join_bloom lock matches)
    val p = plan("q_dedup_incremental")
    assert(p.contains("might_contain"),
      "arrivals must be pre-filtered by the snapshot Bloom filter")
    assert(p.contains("bloom_filter_agg"),
      "the snapshot digests must aggregate into the Bloom filter")
    assert(p.contains("LeftAnti"),
      "maybe-seen arrivals must resolve through an exact anti-join")
  }

  test("repetition quality + PII scrub stay row-local scan passes") {
    // the Gopher-style repetition signals and the redaction pass are
    // per-row HOF/regex projections: any exchange before the output
    // sort means a shuffle snuck into what must be a pure scan
    for (q <- Seq("q_quality_repetition", "q_scrub_pii")) {
      val p = plan(q)
      val beforeSort = p.indexOf("Exchange rangepartitioning") match {
        case -1 => p
        case i => p.substring(i + 1)
      }
      assert(!beforeSort.substring(beforeSort.indexOf("\n") + 1)
          .contains("Exchange hashpartitioning"),
        s"$q must not shuffle before the output sort")
    }
  }

  test("correlated subqueries decorrelate to joins, never per-row probes") {
    // the scalar subquery must become an aggregate under an outer
    // join and the EXISTS an existence join — one scan of the detail
    // table; a per-row probe would read O(orders·lineitem) at scale
    val p = plan("q_sql_correlated")
    assert(p.contains("ExistenceJoin"),
      "EXISTS must plan as an existence join")
    assert(p.contains("LeftOuter"),
      "the scalar subquery must plan as an aggregate under a left outer join")
  }

  test("decontamination semi-joins against a broadcast probe set") {
    // the eval-shingle side is the one bounded-by-construction
    // broadcast in the dedup family — the corpus side must never
    // shuffle for the membership test
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "probe membership must plan as a broadcast semi join")
  }

  test("gap fill evaluates LOCF in ONE window over the entity key") {
    val p = plan("q_gap_fill")
    assert("Window \\[".r.findAllIn(p).length === 1,
      "forward fill must not add extra Window passes")
  }

  test("per-source cap plans through two-phase TopKPerKey, no sort below") {
    val p = plan("q_sample_per_source")
    assert(p.contains("TopKPerKey ["))
    assert(p.contains("TopKPerKeyPartial ["))
    assert(!p.contains("Window"),
      "per-source cap must not fall back to the Window form")
    val belowOp = p.substring(p.indexOf("TopKPerKey ["))
    assert(!belowOp.contains("Sort "),
      "no sort may run below the bounded-heap operator")
  }

  test("frequent-values profile plans through two-phase TopKPerKey") {
    val p = plan("q_profile_topvalues")
    assert(p.contains("TopKPerKey [") && p.contains("TopKPerKeyPartial ["),
      "the per-column cut must run through the bounded-heap operator")
    assert(!p.contains("Window"),
      "the profile must not fall back to the Window form")
  }

  test("vec_dot runs inside whole-stage codegen") {
    val df = SparkEntry.queries("q_dedup_embed")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("vec_dot"))
    // AQE finalizes codegen stages only at execution time
    df.collect()
    // the generated code for the stage must contain the primitive
    // loop (getFloat), i.e. VecDotExpr did not fall back to interpreted
    val gen = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(gen.contains("WholeStageCodegen"))
    assert(gen.contains("getFloat"))
  }

  test("cache reuse serves both consumers from the InMemoryRelation") {
    // E93: after CACHE TABLE, the bucket histogram AND the top-10 list
    // must both scan the cached columnar relation — the base aggregate's
    // shuffle runs once at cache time, not per consumer. Node-walk the
    // executed plan (descending into AQE stages) rather than substring-
    // match the rendered string: the string form prints the cached plan
    // INSIDE the scan node, so a substring check can neither count the
    // two consumers nor prove the base agg absent downstream (ADVICE r9).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = SparkEntry.queries("q_cache_reuse")(spark, sf)
    df.collect() // finalize AQE stages before walking the plan
    // flatten the CONSUMER plan only: descend through AQE wrappers and
    // completed stages, but NOT into InMemoryTableScanExec.relation —
    // the cached plan legitimately contains the base aggregate
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case _                        => p.children
      }
      p +: kids.flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    val cacheScans = nodes.collect { case s: InMemoryTableScanExec => s }
    assert(cacheScans.size >= 2,
      s"BOTH consumers must scan the cached relation " +
        s"(found ${cacheScans.size} InMemoryTableScan nodes)")
    val baseAggDownstream = nodes.collect {
      case h: HashAggregateExec if h.groupingExpressions
        .exists(_.toString.contains("o_custkey")) => h
    }
    assert(baseAggDownstream.isEmpty,
      "the per-customer base aggregate must not be recomputed downstream")
  }

  test("join hints steer the planner to three distinct physical joins") {
    // E94: the same logical orders⋈customer join under BROADCAST /
    // MERGE / SHUFFLE_HASH hints must produce all three physical
    // strategies in the unioned plan — proving the steering surface
    // actually steers (result-invariance is the oracle's job).
    val p = plan("q_join_hints")
    assert(p.contains("BroadcastHashJoin"),
      "BROADCAST hint must plan a BroadcastHashJoin")
    assert(p.contains("SortMergeJoin"),
      "MERGE hint must plan a SortMergeJoin")
    assert(p.contains("ShuffledHashJoin"),
      "SHUFFLE_HASH hint must plan a ShuffledHashJoin")
  }

  test("federated join: three source types in one plan, dim broadcast") {
    // E104: the plan must show all three physical sources — parquet
    // fact scan, CSV scan, JDBC relation scan — composed under ONE
    // plan with the JDBC dimension BROADCAST (a shuffled dim pull
    // through one RDBMS connection would serialize the join at
    // scale), and the CSV leg pruned to exactly its three used
    // columns (required-column parse, not parse-everything).
    val p = plan("q_join_federated")
    assert(p.contains("Scan parquet"), s"parquet fact leg missing:\n$p")
    assert(p.contains("Scan csv"), s"CSV leg missing:\n$p")
    assert(p.toLowerCase.contains("jdbc"), s"JDBC leg missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the JDBC dimension must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // CSV read schema carries only the three selected columns
    val csvScan = p.linesIterator
      .find(_.contains("Scan csv")).getOrElse("")
    assert(!csvScan.contains("o_totalprice"),
      s"CSV scan must not read unused columns:\n$csvScan")
  }

  test("skipping-index read scans only the surviving file list") {
    // E100: after envelope pruning the scan's file source must hold
    // ≤4 of the 16 range-clustered files — the whole point of the
    // stats index; the residual ts filter must still push down so
    // row-group stats prune WITHIN the surviving files too.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("q_source_skipping_index")(spark, sf)
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case _                        => p.children
      }
      p +: kids.flatMap(flatten)
    }
    val scan = flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.nonEmpty, "expected a FileSourceScanExec leaf")
    val nFiles = scan.get.relation.location.inputFiles.length
    assert(nFiles >= 1 && nFiles <= 4,
      s"pruned scan must read <=4 of 16 files, reads $nFiles")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("ts"),
      s"residual ts predicate must still reach the scan:\n$p")
  }

  test("bottom-k shapes plan as TakeOrderedAndProject, not global sort") {
    // E214/E206: the k-smallest-hash family must stay a per-partition
    // top-k + driver merge — a full Sort+Limit would serialize the
    // scan at 100 TB.
    assert(plan("q_sample_bottomk").contains("TakeOrderedAndProject"))
    assert(plan("q_agg_kmv_distinct").contains("TakeOrderedAndProject"))
  }

  test("triangle wedges broadcast; no sort-merge join on the edge set") {
    // E192 after the round-12 tuning: localCheckpoint strips stats,
    // so without the explicit hints AQE SMJ'd the 3.5k-row edge set
    // through three exchanges (measured) — the wedge legs must stay
    // BroadcastHashJoin.
    val p = plan("q_graph_triangles")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      s"edge wedge join regressed to SMJ:\n$p")
  }

  test("generator bigrams: custom Generate node, no pre-agg window") {
    // E221's reason to exist: the pairs form inside GenerateExec
    // (text_bigrams), so the plan must show the custom generator and
    // exactly ONE Window — the ≤vocab-sized per-lang rank AFTER the
    // counting aggregate — where the E155 route needs a per-document
    // lead window BEFORE it (two Windows total there).
    val p = plan("q_gen_bigrams")
    assert(p.contains("text_bigrams"), s"custom generator missing:\n$p")
    // exact node name: WindowGroupLimit (the rank-limit pushdown) is
    // expected and welcome; a second real Window would mean the pairs
    // went through a lead() after all
    val nWindows = "Window \\[".r.findAllIn(p).length
    assert(nWindows == 1, s"expected only the rank window, got:\n$p")
  }

  test("native as-of join plans the AsOfJoin operator, no window") {
    // E272's reason to exist: the custom strategy must claim the
    // logical node (an unplanned AsOfJoin would fail the query
    // entirely), and the plan must carry NO Window and NO
    // SortMergeJoin — the operator replaces both formulations.
    val p = plan("q_join_asof_native")
    assert(p.contains("AsOfJoin"), s"custom operator missing:\n$p")
    assert(!p.contains("Window ["), s"window form leaked back:\n$p")
    assert(!p.contains("SortMergeJoin"), s"SMJ leaked in:\n$p")
  }

  test("CLUSTER BY keeps its exchange; its useless sort is eliminated") {
    // E258, pinned to what the optimizer ACTUALLY does (the original
    // form of this test asserted on "global=true", a string
    // executedPlan never prints, and could not fail — review-caught
    // tautology; writing the honest version exposed the real plan):
    // CLUSTER BY's DISTRIBUTE half survives as the hash exchange
    // tagged REPARTITION_BY_COL, while its SORT BY half is correctly
    // REMOVED by EliminateSorts — a hash aggregate gains nothing from
    // sorted input, so the only Sort left is the final ORDER BY
    // (exactly one global sort: "], true, 0"). Both properties are
    // load-bearing: losing the exchange means the clause stopped
    // distributing; a surviving local sort ("], false, 0") means the
    // optimizer started paying for a sort nothing consumes.
    val p = plan("q_sql_cluster_by")
    assert(p.contains("REPARTITION_BY_COL"),
      s"CLUSTER BY lost its user-requested hash exchange:\n$p")
    assert(p.contains("hashpartitioning(event_type"),
      s"CLUSTER BY exchange not on the cluster key:\n$p")
    assert(!p.contains("], false, 0"),
      s"useless SORT BY survived under the aggregate:\n$p")
    assert("\\], true, 0".r.findAllIn(p).length == 1,
      s"expected exactly the final ORDER BY's global sort:\n$p")
  }

  test("partition-less windows appear ONLY on the audited allowlist") {
    // VERDICT r15: a WindowExec with no partitionSpec moves ALL rows
    // to one task — the one anti-pattern class nothing fenced. Every
    // query below is an AUDITED global frame over a
    // dimension-sized/post-aggregate input (see each query's
    // scaladoc); anything new that plans one fails here and must
    // either partition its window or argue its way onto the list.
    // Streams are excluded as in the cartesian lock (their fn runs
    // the stream; their plans are locked by their own suite).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec,
      WindowGroupLimitExec}
    def globalWindows(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => globalWindows(a.executedPlan)
      case q: QueryStageExec => globalWindows(q.plan)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        1 + w.children.map(globalWindows).sum
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        1 + w.children.map(globalWindows).sum
      case other => other.children.map(globalWindows).sum
    }
    val allowed = Set(
      // day-grain / date-spine cumulative frames: the window input is
      // the per-day (or per-period) aggregate, dimension-sized at any
      // fact scale — see each query's scaladoc
      "q_cohort_daily_counts", "q_fource_daily_counts",
      "q_growth_accounting", "q_period_over_period", "q_freshness",
      "q_seasonal_decompose", "q_volatility", "q_rolling_anomaly",
      "q_rolling_slope", "q_sweep_concurrency", "q_revenue_bridge",
      "q_cumulative_distinct", "q_aging_buckets",
      // statistical tests / distribution profiles over post-aggregate
      // or bounded-sample inputs (ranks over grouped value domains,
      // test statistics over compacted samples)
      "q_ks_test", "q_mannwhitney", "q_runs_test", "q_benford",
      "q_cramers_v", "q_fdr_bh", "q_meta_analysis", "q_did",
      "q_js_divergence", "q_psi", "q_histogram_2d",
      "q_histogram_equi_depth", "q_profile_histogram",
      "q_anomaly_mad", "q_skyline",
      // ranked-share / concentration profiles over grouped rows
      "q_lorenz_curve", "q_pareto_cutoff", "q_gains_lift",
      "q_k_anonymity", "q_ratio_to_parent", "q_alloc_apportion",
      "q_fanout_profile", "q_agg_cms_freq", "q_gini",
      // eval-metric family: one total order of SCORES is the operator
      // (AUC / calibration over the bounded eval set), and the
      // text-profile pair ranks grouped length/term tables
      "q_auc", "q_calibration", "q_length_profile", "q_zipf_fit",
      // entity-grain ranked scores (per-customer/patient compacted
      // rows; deliberately-global quantile frames, documented)
      "q_survival_km", "q_fource_patient_mapping",
      // sampling: q_sample_temperature's frame is the ~20-row
      // per-source rate table; q_sample_systematic's is its ≤4097-row
      // bucket-offset table (the round-16 distributed-rank fix — the
      // fact-table-sized global row_number this lock caught is gone)
      "q_sample_temperature", "q_sample_systematic",
      // curriculum bucketing reuses the systematic distributed-rank
      // shape: its one global window is the ≤4097-row value-range
      // bucket-offset table over the micro quality score (E369)
      "q_curriculum_phases",
      // the W-family gated query whose OPERATOR is a global range
      // frame (deliberate, over the bounded spine)
      "q_window_range_frame")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream"))
      .flatMap { name =>
        val n = globalWindows(
          SparkEntry.queries(name)(spark, sf).queryExecution
            .executedPlan)
        if (n > 0 && !allowed.contains(name)) Some(name -> n) else None
      }
    assert(offenders.isEmpty,
      s"unaudited partition-less windows: $offenders — partition the " +
        "window or audit it into the allowlist with a scaladoc note")
  }
}
