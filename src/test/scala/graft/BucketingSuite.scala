package graft

import graft.sources.Formats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-path mechanics that only show up as plan/layout properties:
  * bucketed co-located joins (SURVEY.md §4.1 "clustered index"
  * equivalent, §4.2 100 TB layout) and sketch-aggregate accuracy. */
class BucketingSuite extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    // the in-memory catalog forgets tables across JVMs but their files
    // survive in the warehouse dir — clear them or CTAS refuses
    Seq("orders_b", "lineitem_b").foreach { t =>
      val p = new java.io.File(s"target/spark-warehouse/$t")
      if (p.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(p)
      }
    }
    Tables.read(spark, sf, "orders")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables.read(spark, sf, "lineitem")
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")

    // force the join strategy a fact⋈fact join would get at scale
    // (at sf0.001 AQE would broadcast these tiny tables)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined =
      try {
        val j = spark.table("lineitem_b")
          .join(spark.table("orders_b"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"))
        j.collect() // finalize the adaptive plan
        j
      } finally spark.conf
        .set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    val plan = joined.queryExecution.executedPlan.toString
    // both sides are pre-bucketed on the join key: the sort-merge join
    // must consume the buckets directly — no shuffle before the join
    // (the only exchange allowed is the post-join aggregation's)
    val joinPart = plan.split("HashAggregate").last
    assert(plan.contains("SortMergeJoin"))
    assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey"))
    assert(!joinPart.contains("Exchange hashpartitioning(o_orderkey"))
    assert(plan.contains("SelectedBucketsCount"))

    // and the co-located join returns the same result as the plain one
    val plain = Tables.read(spark, sf, "lineitem")
      .join(Tables.read(spark, sf, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    assert(joined.exceptAll(plain).isEmpty &&
      plain.exceptAll(joined).isEmpty)
  }

  test("date-partitioned layout prunes partitions dynamically") {
    // SURVEY.md §4.2 100 TB layout: fact tables partitioned by day.
    // A selective dim filter on the partition key must reach the scan
    // as dynamic partition pruning, so only matching days are read.
    val dir = "target/layout/events_by_day"
    Tables.read(spark, sf, "events")
      .withColumn("event_date", to_date($"ts"))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)

    val fact = spark.read.parquet(dir)
    val dim = Tables.read(spark, sf, "events")
      .select(to_date($"ts").as("d")).distinct()
      .orderBy($"d").limit(3) // a selective dim: first 3 days

    val q = fact.join(dim, fact("event_date") === dim("d"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") ||
      plan.contains("PartitionFilters: [isnotnull(event_date"),
      "partition pruning did not reach the scan")

    // correctness of the pruned read
    val expected = Tables.read(spark, sf, "events")
      .withColumn("d", to_date($"ts"))
      .join(dim, Seq("d"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    assert(q.exceptAll(expected).isEmpty &&
      expected.exceptAll(q).isEmpty)
  }

  test("approx aggregates land within tolerance of exact values") {
    val approx = Formats.approxEst(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("approx_customers"),
          r.getAs[Double]("approx_median_price"))).toMap
    val exact = Tables.read(spark, sf, "orders")
      .groupBy($"o_orderpriority")
      .agg(countDistinct($"o_custkey").as("nd"),
        expr("percentile(o_totalprice, 0.5)").as("med"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("nd"), r.getAs[Double]("med"))).toMap
    exact.foreach { case (k, (nd, med)) =>
      val (and_, amed) = approx(k)
      assert(math.abs(and_ - nd).toDouble / nd < 0.1,
        s"$k distinct: approx $and_ vs exact $nd")
      assert(math.abs(amed - med) / med < 0.25,
        s"$k median: approx $amed vs exact $med")
    }
  }

  test("bounded-gate sketch queries report every within_bound as true") {
    // the driver-facing form of the four sketch rows (VERDICT r8
    // item 5): each emits engine-derived `*_within_bound` booleans the
    // DuckDB oracle expects to be TRUE — this locks the gate's own
    // mechanics (an out-of-bound estimate, e.g. under a future sketch
    // parameter change, fails here before it fails the driver)
    Seq(Formats.qAggApprox, Formats.qAggHllUnion, Formats.qAggCmsFreq,
      Formats.qAggQuantileMerge).foreach { q =>
      val df = q.fn(spark, sf)
      val boolCols = df.schema.fields
        .filter(_.dataType ==
          org.apache.spark.sql.types.BooleanType).map(_.name)
      assert(boolCols.nonEmpty, s"${q.name} lost its bound columns")
      df.collect().foreach { r =>
        boolCols.foreach { c =>
          assert(r.getAs[Boolean](c), s"${q.name}.$c false for row $r")
        }
      }
    }
  }

  test("merged daily CMS sketches honor the overestimate-only eps*N bound") {
    val est = Formats.cmsFreqEst(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.read(spark, sf, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    assert(est.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"$k: CMS must never underestimate ($n)")
      // eps = 0.001 → additive error <= eps * total stream length
      assert(est(k) - n <= math.ceil(0.001 * total).toLong,
        s"$k: estimate ${est(k)} exceeds exact $n by more than eps*N")
    }
  }

  test("a second session over the same context gets isolated memo state") {
    // library-use contract: Memo.cached / Memo.once key on the SESSION,
    // so a sibling session rebuilds its own shingle/band memos and
    // side-store loads (Derby overwrite) without touching — or reading
    // — the first session's entries, and both compute identical results
    val s2 = spark.newSession()
    val mine = Formats.qSourceJdbc.fn(spark, sf).collect().toSeq
    val theirs = Formats.qSourceJdbc.fn(s2, sf).collect().toSeq
    assert(mine === theirs)
    val d1 = graft.queries.LLMOps.qDedupMinhash.fn(spark, sf)
      .collect().toSeq
    val d2 = graft.queries.LLMOps.qDedupMinhash.fn(s2, sf)
      .collect().toSeq
    assert(d1 === d2)
    // falsifiability: equal results alone would also hold if the memo
    // ignored the session — assert s2 really built ITS OWN entries
    // (the shingle/band memos and the Derby load) under its key space
    val k2 = Memo.keysFor(s2)
    assert(k2.exists(_.startsWith("shingles:")),
      s"second session built no shingle memo of its own: $k2")
    assert(k2.exists(_.startsWith("load:jdbc:")),
      s"second session ran no Derby load of its own: $k2")
    assert(Memo.keysFor(spark).intersect(k2).nonEmpty,
      "same keys must exist in BOTH sessions' key spaces (per-session " +
        "copies, not a shared entry)")
  }

  test("merged daily KLL sketches honor the rank-error bound vs exact") {
    // k=200 → normalized rank error ~1.65% at 99% confidence; assert
    // the estimated quantile's TRUE rank lies within ±3.5% of target —
    // the property KLL actually guarantees (value-space error is
    // unbounded for skewed data, rank-space error is not)
    val est = Formats.quantileMergeEst(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val byType = Tables.read(spark, sf, "events")
      .select($"event_type", $"value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    assert(est.keySet === byType.keySet)
    def trueRank(sorted: Array[Double], v: Double): Double =
      sorted.count(_ <= v).toDouble / sorted.length
    byType.foreach { case (k, sorted) =>
      val (p50, p95) = est(k)
      assert(math.abs(trueRank(sorted, p50) - 0.5) < 0.035,
        s"$k p50=$p50 rank ${trueRank(sorted, p50)}")
      assert(math.abs(trueRank(sorted, p95) - 0.95) < 0.035,
        s"$k p95=$p95 rank ${trueRank(sorted, p95)}")
    }
    // re-aggregation really merged multiple per-day sketches
    val days = Formats.quantileMergeEst(spark, sf)
      .collect().map(_.getLong(3))
    assert(days.forall(_ > 1), "each type must span multiple days")
  }

  test("theta overlap is exact at fixture scale and bounded in estimation mode") {
    // regime 1 (the oracle's premise): fixture cardinalities stay
    // under nominal k=4096, so every estimate must equal the exact
    // set-algebra count — not approximately, exactly
    val r = Formats.qAggThetaOverlap.fn(spark, sf).collect().head
    val ev = Tables.read(spark, sf, "events")
      .select(dayofmonth(to_date($"ts")).as("dom"), $"user_id")
    val a = ev.filter($"dom" <= 15).select($"user_id").distinct()
    val b = ev.filter($"dom" > 15).select($"user_id").distinct()
    assert(r.getLong(0) === a.count())
    assert(r.getLong(1) === b.count())
    assert(r.getLong(2) === a.intersect(b).count())
    assert(r.getLong(3) === a.except(b).count())
    // regime 2 (the 100 TB premise): force estimation mode with a
    // small nominal k over a larger id domain; theta RSE = 1/√k →
    // k=256 gives 6.25% at 1σ; assert within 4σ AND that sampling
    // really engaged (an exact-mode pass would vacuously succeed).
    // Spark's second argument is log2 of k: 8 → k=256
    val big = spark.range(20000).select($"id")
    val sk = big.agg(theta_sketch_agg($"id", 8).as("sk"))
    val est = sk.select(theta_sketch_estimate($"sk"))
      .collect().head.getLong(0)
    assert(est !== 20000L, "k=256 over 20k ids must be estimating")
    assert(math.abs(est - 20000.0) / 20000.0 < 0.25,
      s"estimate $est outside the 4-sigma theta error bound")
  }

  test("GraftExtensions shadows no built-in function") {
    // an injected name Spark already ships replaces the built-in in
    // every session the extension wires (Spark only logs a warning),
    // so Spark's documented calls of that name would run other code
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val injected = scala.collection.mutable.Buffer.empty[FunctionIdentifier]
    graft.functions.GraftExtensions.register(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1
        super.injectFunction(f)
      }
    })
    assert(injected.nonEmpty)
    val shadowed = injected.filter(FunctionRegistry.builtin.functionExists)
    assert(shadowed.isEmpty, s"built-in functions replaced: $shadowed")
    // Spark's own doc example: the second argument is lgNomEntries
    val n = spark.sql(
      """SELECT theta_sketch_estimate(theta_sketch_agg(col, 12))
        |FROM VALUES (1), (1), (2), (2), (3) tab(col)""".stripMargin)
      .collect().head.getLong(0)
    assert(n === 3L)
  }

  test("new sessions share one memo eviction listener per context") {
    // every perfbench pass opens a session; a listener per session would
    // pin each of them and grow the bus by one per pass
    import org.apache.spark.ListenerBusProbe
    val sessions = Seq.fill(5)(spark.newSession())
    val before = ListenerBusProbe.size(spark.sparkContext)
    sessions.zipWithIndex.foreach { case (s, i) =>
      assert(Memo.value(s, s"listener_probe:$i")(i) === i)
    }
    val added = ListenerBusProbe.size(spark.sparkContext) - before
    assert(added <= 1, s"five sessions added $added listeners")
  }

  test("keysFor lists value keys with the session's other keys") {
    val s2 = spark.newSession()
    Memo.value(s2, "value_probe")(42)
    Memo.once(s2, "once_probe")(())
    assert(Memo.keysFor(s2) === Set("value_probe", "once_probe"))
  }

  test("concurrent first touch of a memo key runs the build exactly once") {
    // ADVICE r7 item 1: with batch queries racing on one session, a
    // side-effecting load (Derby fill, side-store rewrite) must never
    // run twice against its shared directory. Race 8 threads on a fresh
    // key and count executions of the load body.
    import java.util.concurrent.atomic.AtomicInteger
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val s2 = spark.newSession()
    val loads = new AtomicInteger(0)
    val builds = new AtomicInteger(0)
    val fs = (1 to 8).map { _ =>
      Future {
        Memo.once(s2, "race_once") {
          loads.incrementAndGet()
          Thread.sleep(50) // widen the window a naive impl would race in
        }
        Memo.cached(s2, "race_cached") {
          builds.incrementAndGet()
          Thread.sleep(50)
          Tables.read(s2, sf, "nation").select($"n_nationkey")
        }.count()
      }
    }
    Await.result(Future.sequence(fs), 2.minutes)
    assert(loads.get() === 1, "Memo.once ran the load more than once")
    assert(builds.get() === 1, "Memo.cached ran the build more than once")
  }

  test("unioned daily HLL sketches estimate exact distinct users within 5%") {
    val approx = Formats.hllUnionEst(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.read(spark, sf, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, nd) =>
      assert(math.abs(approx(k) - nd).toDouble / nd < 0.05,
        s"$k: sketch-union estimate ${approx(k)} vs exact $nd")
    }
  }
}
