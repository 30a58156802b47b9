package graft

import graft.functions.{PortableHash, Vectors}
import graft.queries.{Aggregates, Cohort, LLMOps, Relational}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator golden tests (SURVEY.md §5.2.3) + invariants the DuckDB
  * oracle cannot express (§5.2.4, §5.2.6): hand-computed values on tiny
  * inputs, semantic properties on sf0.001, and streaming↔batch
  * equivalence. */
class OperatorSuite extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  // ---------------------------------------------------------- goldens

  test("every registered query name is unique across modules") {
    // Q.queryMap keeps the LAST definition for a duplicated name, so a
    // module re-registering an existing name silently replaces the
    // original implementation with no test or gate failing — exactly
    // what happened (and was caught by inspection, not tooling) in
    // round 13. This assertion makes the shadowing loud.
    val names = SparkEntry.modules.map(_.name)
    val dups = names.groupBy(identity).collect {
      case (n, occ) if occ.size > 1 => n
    }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === names.size)
  }

  test("row selector: blank means unset, an unknown name fails its row") {
    def only(v: String) = SparkEntry.only(Map("SPARK_GRAFT_ONLY" -> v))
    assert(SparkEntry.only(Map.empty) === None)
    Seq("", " ", " , ").foreach(v => assert(only(v) === None, s"'$v'"))
    assert(only(" a , b ,a") === Some(Seq("a", "b")))
    assert(only("q_no_such_row") === Some(Seq("q_no_such_row")))
    def sfDir(v: String) =
      SparkEntry.sfDir("/d", Map("SPARK_GRAFT_SF_DIR" -> v))
    assert(sfDir(" ") === "/d" && sfDir(" /x ") === "/x")
    // the name reaches the timed action, which reports the row failed
    val (rows, _, builds) = Bench.timeCount(spark, sf, "q_no_such_row")
    assert(rows === None && builds === 0L)
    assert(Bench.timeCount(spark, sf, "q_scan_filter_in")._1.exists(_ > 0))
  }

  test("JSON writer: escapes control chars, rounds half-up, keeps order") {
    import SparkEntry.{jsonNum, jsonObj, jsonStr}
    assert(jsonStr("a\"b\\c\td\u0001") === "\"a\\\"b\\\\c\\td\\u0001\"")
    assert(jsonNum(0.25, 1) === "0.3" && jsonNum(2.0, 2) === "2.00")
    assert(jsonObj(Seq("z" -> "1", "a" -> jsonStr("x"))) ===
      """{"z":1,"a":"x"}""")
  }

  test("stream runner: 4 partitions per batch; a failed batch stops, " +
      "restores and cleans up") {
    import graft.streaming.StreamRun
    val key = "spark.sql.shuffle.partitions"
    val s = spark.newSession()
    s.conf.set(key, "7")
    val ckRoot = java.nio.file.Files.createTempDirectory("graft-ck-test")
    s.conf.set("graft.stream.checkpointRoot", ckRoot.toString)
    def ckLeft = ckRoot.toFile.list().toSeq
    try {
      @volatile var seen = List.empty[String]
      StreamRun.foreachBatch(s, StreamRun.series(s), "t_runner_ok") {
        (batch, _) => seen ::= batch.sparkSession.conf.get(key)
      }
      assert(seen.size === 5 && seen.forall(_ == "4"), seen)
      assert(s.conf.get(key) === "7" && ckLeft.isEmpty, ckLeft)
      val err = intercept[Exception] {
        StreamRun.foreachBatch(s, StreamRun.series(s), "t_runner_fail") {
          (_, id) =>
            if (id == 1L) throw new IllegalStateException("batch 1 fails")
        }
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("batch 1 fails")),
        err)
      assert(s.streams.active.isEmpty)
      assert(s.conf.get(key) === "7")
      assert(ckLeft.isEmpty, ckLeft)
    } finally Tables.deleteTree(ckRoot.toString)
  }

  test("events.ts reads as microsecond timestamps (µs fixture, native)") {
    val row = Tables.read(spark, sf, "events")
      .select(min($"ts"), max($"ts")).head()
    assert(row.getTimestamp(0).getTime >= 1704067200000L) // 2024-01-01
    assert(row.getTimestamp(1).after(row.getTimestamp(0)))
  }

  test("unit probe generalizes: legacy-nanos o_orderdate reads correctly") {
    // The probe is per-column per-table, not an events.ts special case:
    // nothing pins WHICH timestamp column the next writer changes, so
    // re-encode orders.o_orderdate as raw int64-nanos and read through
    // the same Tables.read path.
    val dir = Tables.scratchDir("graft-ns-orders")
    Tables.read(spark, sf, "orders")
      .withColumn("o_orderdate",
        expr("unix_micros(o_orderdate) * 1000L"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val legacy = Tables.read(spark, dir, "orders")
    assert(legacy.schema("o_orderdate").dataType ===
      Tables.orders("o_orderdate").dataType)
    val cols = Seq(min($"o_orderdate"), max($"o_orderdate"),
      count(lit(1)), sum($"o_totalprice".cast("decimal(18,6)")))
    assert(legacy.select(cols: _*).head() ===
      Tables.read(spark, sf, "orders").select(cols: _*).head())
  }

  test("events.ts legacy int64-nanos files read identically (unit probe)") {
    // Re-encode the fixture's events as raw epoch-nanos int64 — the
    // legacy writer encoding Tables.read's footer probe must still adapt
    // to (a mixed-writer lake contains both; VERDICT r9 item 1).
    val dir = Tables.scratchDir("graft-ns-events")
    Tables.read(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = Tables.read(spark, dir, "events")
    assert(legacy.schema("ts").dataType === Tables.events("ts").dataType)
    val cols = Seq(min($"ts"), max($"ts"), count(lit(1)))
    assert(legacy.select(cols: _*).head() ===
      Tables.read(spark, sf, "events").select(cols: _*).head())
  }

  test("charFold matches the portable reference value") {
    // DuckDB: list_reduce fold of 'key agg' == 940086 (verified there)
    val v = Seq("key agg").toDF("s")
      .select(PortableHash.charFold($"s").as("h")).head().getLong(0)
    assert(v === 940086L)
  }

  test("native char_fold equals the HOF fold on every fixture shingle") {
    val words = Tables.read(spark, sf, "documents")
      .select(explode(split(trim($"text"), " ")).as("w"))
      .filter($"w" =!= "").distinct()
    val diff = words
      .select(PortableHash.charFold($"w").as("a"),
        PortableHash.charFoldHof($"w").as("b"))
      .filter($"a" =!= $"b").count()
    assert(diff === 0L)
  }

  test("char_fold forms agree on supplementary-plane text (non-BMP)") {
    // emoji, math alphanumerics, Gothic, CJK-ext — all outside the BMP;
    // the native expression iterates code points, the HOF + DuckDB forms
    // must match it (ADVICE r2 item 5)
    val samples = Seq("😀", "a😀b",
      "𝕍park 𠀀", "mixed😀𐍈x")
    def fold(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 31L + cp) % 1000003L
        i += Character.charCount(cp)
      }
      acc
    }
    val rows = samples.toDF("s")
      .select($"s", PortableHash.charFold($"s").as("a"),
        PortableHash.charFoldHof($"s").as("b")).collect()
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) === fold(s), s"native char_fold($s)")
      assert(r.getLong(2) === fold(s), s"HOF char_fold($s)")
    }
  }

  test("char_fold64 matches the wrapping JVM reference, BMP and beyond") {
    // the identity hash of the exact-Jaccard family (round 18 — the
    // mod-P fold pigeonhole-collides at rung vocabularies): full-width
    // 64-bit polynomial, Java wrap semantics, code-point iteration.
    // Long strings force the wraparound the hash is defined by.
    def fold64(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = acc * 31L + cp
        i += Character.charCount(cp)
      }
      acc
    }
    val samples = Seq("key agg", "a", "",
      "the quick brown fox jumps over the lazy dog 1234567890",
      "😀", "a😀b", "𝕍park 𠀀", "mixed😀𐍈x")
    val rows = samples.toDF("s")
      .select($"s", PortableHash.charFold64($"s").as("h")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) === fold64(r.getString(0)),
        s"char_fold64(${r.getString(0)})")
    }
    // wraparound really occurred: the long sample's unbounded-integer
    // fold exceeds Long range, so its wrapped value must differ
    val long = samples.maxBy(_.length)
    val unbounded = long.codePoints().toArray
      .foldLeft(BigInt(0))((a, cp) => a * 31 + cp)
    assert(!unbounded.isValidLong && unbounded.toLong === fold64(long))
  }

  test("ngram CMS-prefiltered df cap equals the exact vocabulary groupBy where it bites") {
    // The round-18 scale fix (VERDICT r17 #1): the full-vocabulary df
    // groupBy + anti-join becomes sketch-probe → exact-recheck of the
    // maybe-hot band → broadcast anti-join. CMS never underestimates,
    // so the recheck rebuilds the EXACT hot list — outputs must be
    // bit-identical. The production cap never bites on the fixture, so
    // force one small enough that shingles are genuinely dropped.
    val df = Tables.read(spark, sf, "documents")
      .select($"doc_id", split(trim($"text"), " ").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(1), size($"ws") - 1),
          i => concat_ws(" ", element_at($"ws", i),
            element_at($"ws", i + 1))))).as("s"))
      .groupBy($"s").count().filter($"count" > 2).count()
    assert(df > 0L, "fixture must have shingles over the forced cap")
    def run(exact: Boolean) =
      LLMOps.ngramPairsImpl(spark, sf, exactVocab = exact,
          capOverride = Some(2L))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
    assert(run(exact = true) === run(exact = false))
  }

  test("LSH recall gate: banded candidates recover >=0.99 of exact >=0.5-Jaccard pairs") {
    // The permanent form of the round-18 recall audit (VERDICT r18
    // item 3): on the x8-replicated fixture (dense truth, real 2..50
    // cap pressure — the regime where one-hash bands measured 0.73)
    // the shipped two-hash candidate generator must recover >=99% of
    // the exact >=0.5-Jaccard pair set. Precision is 1 by exact
    // verification, so this single ratio IS the generator's contract.
    val r = LLMOps.qLshRecall.fn(spark, sf).head()
    assert(r.getAs[Long]("n_truth") > 1000L,
      s"replicated fixture unexpectedly sparse: ${r}")
    assert(r.getAs[Long]("recall_micro") >= 990000L,
      s"LSH candidate recall regressed: ${r}")
  }

  test("kmeans ANN: native kernel matches the scalar contract, recall holds the bar") {
    // (1) the learned-cell index's quality contract at the fixture —
    // the same 0.8 bar the sf10gk AnnRung measures (BASELINE r18);
    // a centroid/assignment regression shows up here first
    val rec = graft.queries.Ann.qSimAnnKmeansRecall.fn(spark, sf)
      .agg(avg($"recall_at_3")).head().getDouble(0)
    assert(rec >= 0.8, s"kmeans recall@3 mean $rec fell under 0.8")
    // (2) kmeans_cell ≡ first of kmeans_nearest_cells over the whole
    // fixture — the scalar entry point and the k-list head must agree
    // (the k-list is (distance, id)-sorted, so probing starts with
    // the assigned cell); asserted directly, not just claimed
    // (ADVICE r18)
    val cents = graft.queries.Ann.kmeansCents(spark, sf)
    val centArr = typedLit(cents.map { case (id, v) =>
      (id, v)
    })
    val mismatches = Tables.read(spark, sf, "embeddings")
      .select(graft.queries.Ann.microQuantCol($"embedding")
        .as("q"))
      .select(
        call_function("kmeans_cell", centArr, $"q").as("c1"),
        element_at(call_function("kmeans_nearest_cells", centArr,
          $"q", lit(3)), 1).as("c2"))
      .filter($"c1" =!= $"c2").count()
    assert(mismatches == 0L,
      s"kmeans_cell diverged from nearest_cells head on $mismatches rows")
    val cands = graft.queries.Ann.kmeansCandCounts(spark, sf)
      .collect()
    assert(cands.length == 50 && cands.forall(_.getLong(1) > 0))
    // (3) clean analysis-time errors on bad inputs
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.read(spark, sf, "embeddings")
        .select(call_function("kmeans_nearest_cells",
          array(struct(lit(0L).as("c_id"),
            typedLit(Seq(1L, 2L)).as("cv"))),
          $"embedding", lit(1))).collect()
    }
    assert(e.getMessage.contains("ARRAY<BIGINT>"), e.getMessage)
  }

  test("adc_gather equals the reconstruct-and-fold ADC bit-for-bit") {
    // Round-20 expression swap (guide §4): the PQ tiers' per-pair ADC
    // moved from `aggregate(zip_with(pq, recon, (a,b)->(a-b)²))` over
    // the materialized codebook reconstruction (CodegenFallback
    // lambda chain, allocating per pair) to the adc_gather distance-
    // table lookup. The claim is BIT-identical integers on every
    // (corpus row × probe) pair — asserted here over the whole
    // fixture, not just on the gated top-k outputs.
    val S = graft.queries.Ann
    val books = S.pqCodebooks(spark, sf)
    val dt = S.probeDtabs(spark, sf, books)
    val idsLit = typedLit(books.map(_.map(_._1)))
    val recon = concat((0 until 8).map { s =>
      element_at(typedLit(books(s).toMap), element_at($"codes", s + 1))
    }: _*)
    val probes = Tables.read(spark, sf, "embeddings")
      .filter($"vec_id" < 50)
      .select($"vec_id".as("q_id"),
        S.microQuantCol($"embedding").as("pq"))
      .join(dt, Seq("q_id"))
    val fold = aggregate(zip_with($"pq", recon,
      (a, b) => (a - b) * (a - b)), lit(0L), (x, y) => x + y)
    val gather = call_function("adc_gather", idsLit, $"dtab", $"codes")
    val mism = S.codesAtRest(spark, sf)
      .join(broadcast(probes), $"vec_id" =!= $"q_id")
      .select(fold.as("f"), gather.as("g"))
      .filter($"f" =!= $"g").count()
    assert(mism == 0L,
      s"adc_gather diverged from the HOF fold on $mism pairs")
  }

  test("IVF∘PQ composed tier holds the recall bar and the rerank cap") {
    // E376/E377: the composed tier may lose recall at BOTH stages
    // (cells missed by the probe budget, true neighbors ranked past
    // ADC_RERANK by quantization error) — the lock keeps the
    // composition's quality measured, same 0.8 bar as the parents
    val rec = graft.queries.Ann.qSimAnnIvfPqRecall.fn(spark, sf)
      .agg(avg($"recall_at_3")).head().getDouble(0)
    assert(rec >= 0.8, s"IVF∘PQ recall@3 mean $rec fell under 0.8")
    // the composed output obeys the family contract: ≤3 rows per
    // probe, ranks dense from 1
    val rows = graft.queries.Ann.qSimAnnIvfPq.fn(spark, sf)
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n"), min($"rank").as("lo"),
        max($"rank").as("hi"))
      .collect()
    assert(rows.forall(r => r.getLong(1) <= 3 && r.getInt(2) == 1 &&
      r.getInt(3) == r.getLong(1).toInt),
      "IVF∘PQ output violates the top-3 contract")
  }

  test("scout union tier dominates pure IVF per probe, candidates bounded") {
    // E378/E379 (VERDICT r19 item 5): the scout tier's candidate set
    // is (IVF probe census) ∪ (global ADC top-SCOUT_T), so per probe
    // (1) its recall can never fall below the pure-IVF row's —
    // dominance asserted PER PROBE, not on the mean — and (2) its
    // candidate count sits in [ivf_cands, ivf_cands + SCOUT_T]
    val kmR = graft.queries.Ann.qSimAnnKmeansRecall.fn(spark, sf)
      .select($"q_id", $"recall_at_3".as("km"))
    val scR = graft.queries.Ann.qSimAnnScoutRecall.fn(spark, sf)
      .select($"q_id", $"recall_at_3".as("sc"))
    val dom = kmR.join(scR, Seq("q_id"))
      .filter($"sc" < $"km").collect()
    assert(dom.isEmpty,
      s"scout recall fell below pure IVF on probes: ${dom.mkString(",")}")
    val kmC = graft.queries.Ann.kmeansCandCounts(spark, sf)
      .select($"q_id", $"n_cand".as("ivf"))
    val scC = graft.queries.Ann.scoutCandCounts(spark, sf)
      .select($"q_id", $"n_cand".as("un"))
    // kmeansCandCounts counts the probed CENSUS (which includes the
    // probe's own row); the union counts scored pairs (self excluded)
    // — hence the −1 on the lower bound
    val bad = kmC.join(scC, Seq("q_id"))
      .filter($"un" < $"ivf" - 1 ||
        $"un" > $"ivf" + graft.queries.Ann.SCOUT_T).collect()
    assert(bad.isEmpty,
      s"scout candidate union out of [ivf-1, ivf+T]: ${bad.mkString(",")}")
    // family output contract: ≤3 rows per probe, ranks dense from 1
    val rows = graft.queries.Ann.qSimAnnScout.fn(spark, sf)
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n"), min($"rank").as("lo"),
        max($"rank").as("hi"))
      .collect()
    assert(rows.forall(r => r.getLong(1) <= 3 && r.getInt(2) == 1 &&
      r.getInt(3) == r.getLong(1).toInt),
      "scout output violates the top-3 contract")
  }

  test("cms_probe_long validates its inputs at analysis time") {
    // foldable BINARY sketch + BIGINT key, or a clean AnalysisException
    // (the bitmap_map_sum_agg precedent — never an NPE/CCE mid-plan)
    val sk = Tables.read(spark, sf, "documents")
      .agg(expr("count_min_sketch(doc_id, 0.01d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    val ok = Tables.read(spark, sf, "documents")
      .select(call_function("cms_probe_long", lit(sk), $"doc_id"))
      .count()
    assert(ok > 0L)
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.read(spark, sf, "documents")
        .select(call_function("cms_probe_long", $"text".cast("binary"),
          $"doc_id")).collect()
    }
    assert(e1.getMessage.toLowerCase.contains("foldable"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.read(spark, sf, "documents")
        .select(call_function("cms_probe_long", lit(sk), $"text"))
        .collect()
    }
    assert(e2.getMessage.contains("BIGINT"), e2.getMessage)
  }

  test("Vectors.dot / cosine / l2NormUdf golden values") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    val r = df.select(
      Vectors.dot($"a", $"b").as("dot"),
      Vectors.cosine($"a", $"a").as("self_cos"),
      Vectors.l2NormUdf($"b").as("norm")).head()
    assert(r.getDouble(0) === 32.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - math.sqrt(77.0)) < 1e-12)
  }

  test("vec_dot null semantics match the HOF fold (mismatch/null elems)") {
    // zip_with null-pads unequal lengths and a null element poisons the
    // fold → HOF yields NULL; the native expression must agree
    val rows = spark.sql(
      """SELECT
        |  vec_dot(array(cast(1 as float), cast(2 as float)),
        |          array(cast(3 as float))) AS mismatch_native,
        |  aggregate(zip_with(array(cast(1 as float), cast(2 as float)),
        |            array(cast(3 as float)),
        |            (x, y) -> cast(x as double) * cast(y as double)),
        |    cast(0 as double), (a, v) -> a + v) AS mismatch_hof,
        |  vec_dot(array(cast(1 as float), cast(null as float)),
        |          array(cast(3 as float), cast(4 as float)))
        |    AS nullelem_native,
        |  vec_dot(array(cast(1 as float), cast(2 as float)),
        |          array(cast(3 as float), cast(4 as float))) AS ok
        |""".stripMargin).head()
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2))
    assert(rows.getDouble(3) === 11.0)
  }

  test("CentroidAgg computes the element-wise mean") {
    val df = Seq((0, Seq(1f, 2f)), (0, Seq(3f, 4f)), (1, Seq(5f, 6f)))
      .toDF("label", "embedding")
    val rows = df.groupBy($"label")
      .agg(Vectors.centroidUdaf($"embedding").as("c"))
      .orderBy($"label").collect()
    assert(rows(0).getSeq[Double](1) === Seq(2.0, 3.0))
    assert(rows(1).getSeq[Double](1) === Seq(5.0, 6.0))
  }

  // ------------------------------------------------------- invariants

  test("obfuscation: masked or within blur of the true count") {
    val blur = 2
    val truth = Cohort.cohortDf(spark, sf)
      .groupBy($"entry_date")
      .agg(countDistinct($"user_id").as("n_true"))
    val obf = Cohort.qObfuscate.fn(spark, sf)
    val joined = obf.join(truth, "entry_date").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val o = r.getAs[Long]("n_users_obf")
      val t = r.getAs[Long]("n_true")
      if (o == -99L) assert(t < 10)
      else assert(math.abs(o - t) <= blur && t >= 10)
    }
  }

  test("cumulative daily counts are monotone nondecreasing") {
    val rows = Cohort.qCohortDailyCounts.fn(spark, sf)
      .select($"cumulative_users_all", $"cumulative_users_severe")
      .collect()
    val all = rows.map(_.getLong(0))
    val sev = rows.map(_.getLong(1))
    assert(all.sameElements(all.sorted) && sev.sameElements(sev.sorted))
    assert(all.zip(sev).forall { case (a, s) => a >= s })
  }

  test("exact dedup is idempotent") {
    val once = LLMOps.qDedupExact.fn(spark, sf)
    // dedup of an already-deduped id set keeps every row
    assert(once.select($"keep_id").distinct().count() === once.count())
  }

  test("grouping sets: the all/all row equals the grand total") {
    val df = Aggregates.qAggGroupingSets.fn(spark, sf)
    val allAll = df.filter($"segment" === "all" && $"nation" === "all")
      .select($"n_customers").head().getLong(0)
    val total = Tables.read(spark, sf, "customer").count()
    assert(allAll === total)
  }

  test("grouped split never leaks a source across folds") {
    // the leakage-safety invariant q_split_group exists for: fold is a
    // function of the group key, so (source, fold) pairs == sources
    val bucket =
      PortableHash.charFold($"source") * 2654435761L % 2147483648L % 100L
    val folded = Tables.read(spark, sf, "documents")
      .withColumn("fold", when(bucket < 80, "train").otherwise("test"))
    val pairs = folded.select($"source", $"fold").distinct().count()
    val sources = folded.select($"source").distinct().count()
    assert(pairs === sources)
    // and both folds are populated on the fixture
    assert(folded.select($"fold").distinct().count() === 2)
  }

  test("rollup: the all/all row equals the grand total") {
    val out = SparkEntry.queries("q_agg_rollup")(spark, sf).collect()
    val grand = out.filter(r =>
      r.getString(0) == "all" && r.getString(1) == "all")
    assert(grand.length === 1)
    val total = Tables.read(spark, sf, "customer").count()
    assert(grand.head.getAs[Long]("n_cust") === total)
  }

  test("top-k returns exactly k rows in descending order") {
    val rows = Relational.qTopk.fn(spark, sf).collect()
    assert(rows.length === 10)
    val vals = rows.map(_.getAs[Double]("total_spent"))
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b })
  }

  test("cosine top-k: 5 neighbors per query, similarity in [-1,1]") {
    val rows = LLMOps.qSimCosineTopk.fn(spark, sf).collect()
    val perQ = rows.groupBy(_.getAs[Long]("q_id")).values
    assert(perQ.forall(_.length == 5))
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cos_sim"); c >= -1.0 && c <= 1.0
    })
  }

  test("LSH ANN never finds a closer neighbor than brute force") {
    val bf = LLMOps.qSimCosineTopk.fn(spark, sf)
      .filter($"rank" === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos_sim"))
      .toMap
    val lsh = LLMOps.qSimAnnLsh.fn(spark, sf)
      .filter($"rank" === 1 && $"q_id" < 10).collect()
    lsh.foreach { r =>
      assert(r.getAs[Double]("cos_sim") <=
        bf(r.getAs[Long]("q_id")) + 1e-9)
    }
  }

  test("minhash candidates are a subset of exact n-gram near-dups") {
    val mh = LLMOps.qDedupMinhash.fn(spark, sf)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = LLMOps.qDedupNgramJaccard.fn(spark, sf)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(mh.nonEmpty) // fixture plants near-dup pairs
    assert(mh.forall(exact.contains))
  }

  test("ngram-jaccard frequent-shingle cap drops nothing on the fixture") {
    // the max-df guard's cap (max(50, corpus/10)) exceeds the fixture's
    // max shingle df at every sf, so the guarded query must equal the
    // unguarded inverted-index form bit-for-bit
    val guarded = LLMOps.qDedupNgramJaccard.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = Tables.read(spark, sf, "documents")
      .select($"doc_id", split(trim($"text"), " ").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(1), size($"ws") - 1),
          i => concat_ws(" ", element_at($"ws", i),
            element_at($"ws", i + 1))))).as("s"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val unguarded = sh.as("x")
      .join(sh.as("y"), $"x.s" === $"y.s" && $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("d1"), $"y.doc_id".as("d2"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), Seq("d1"))
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), Seq("d2"))
      .select($"d1", $"d2",
        round($"c" / ($"n1" + $"n2" - $"c"), 6).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(guarded === unguarded)
  }

  test("minhash bucket-list pair expansion equals the windowed 2..50 cap") {
    // the collected-bucket form (size filter on the sorted doc list +
    // row-local pair expansion) must equal the original windowed
    // BETWEEN(2,50) self-join bit-for-bit: same cap, same canonical
    // d1<d2 pairs, singletons producing nothing either way
    import org.apache.spark.sql.expressions.Window
    val guarded = LLMOps.qDedupMinhash.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bands = LLMOps.minhashBandPairs(spark, sf)
    val keptW = bands
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy($"band", $"mv1", $"mv2")))
      .filter($"bn".between(2, 50)).drop("bn")
    val candW = keptW.as("a")
      .join(keptW.as("b"), $"a.band" === $"b.band" &&
        $"a.mv1" === $"b.mv1" && $"a.mv2" === $"b.mv2" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val windowed = LLMOps.verifyJaccard(spark, sf, candW, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(guarded === windowed)
  }

  test("funnel steps are monotone and every stage is non-vacuous") {
    val r = graft.queries.Extras.qFunnel.fn(spark, sf).head()
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p, "each funnel stage must contain the next")
    assert(p > 0, "final stage empty — the fixture window is mistuned")
    assert(v > c, "view→click must actually filter, not pass everyone")
  }

  test("retention cohorts: week-0 share is exactly 1, later shares in (0,1]") {
    val rows = graft.queries.Extras.qRetentionCohort.fn(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (off, pct) = (r.getLong(1), r.getDouble(3))
      if (off == 0L) assert(pct === 1.0)
      assert(pct > 0.0 && pct <= 1.0)
    }
  }

  test("histogram shares sum to 1 within rounding; bins stay in range") {
    val rows = graft.queries.Extras.qProfileHistogram.fn(spark, sf)
      .collect()
    val bins = rows.map(_.getLong(0))
    assert(bins.forall(b => b >= 0L && b <= 19L))
    val pctSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(pctSum - 1.0) < 1e-4, s"pct sum $pctSum")
  }

  test("stratified sample keeps the down-weighted class smallest") {
    val rows = LLMOps.qSampleStratified.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size === 5, "every language must survive sampling")
    val en = rows("en")
    rows.filterKeys(_ != "en").foreach { case (lang, n) =>
      assert(en < n, s"en ($en) must be sampled below $lang ($n)")
    }
  }

  test("tfidf ranks are a dense 1..3 per probe doc, scores non-increasing") {
    val rows = LLMOps.qTextTfidf.fn(spark, sf)
      .select($"doc_id", $"tfidf", $"rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._3)
      assert(sorted.map(_._3).toSeq === Seq(1, 2, 3))
      assert(sorted.sliding(2).forall(p => p.head._2 >= p.last._2))
    }
  }

  test("sequence packing: budget respected, every doc packed once, dense fill") {
    val budget = 256L
    val bins = LLMOps.packSequences(spark, sf, ranges = Some(8)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a bin may exceed the budget only as a single oversized doc
    bins.foreach { case (bin, nDocs, sumTok) =>
      assert(sumTok <= budget || nDocs == 1L, s"bin $bin overfilled")
    }
    // conservation: every document lands in exactly one bin
    val corpus = Tables.read(spark, sf, "documents").count()
    assert(bins.map(_._2).sum === corpus)
    // greedy guarantee: a bin is closed only because the NEXT doc did
    // not fit, so every non-final bin holds > budget - max_doc_tokens;
    // with fixture docs <= 99 tokens only the last bin of each of the
    // 8 range partitions may sit under half-full
    assert(bins.count(_._3 < budget / 2) <= 8)
    // determinism: the same plan packs identically on a second run
    val again = LLMOps.packSequences(spark, sf, ranges = Some(8)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bins.toSeq === again.toSeq)
    // the public gate form (E42's oracle row) reports these invariants
    // as booleans plus oracle-recomputable totals — all must hold
    val gate = LLMOps.qPackSequences.fn(spark, sf).collect()
    assert(gate.length === 1)
    val g = gate.head
    assert(g.getLong(0) === corpus, "gate n_docs")
    assert(g.getLong(1) === bins.map(_._3).sum, "gate sum_tokens")
    (2 to 5).foreach(i => assert(g.getBoolean(i), s"gate col $i false"))
  }

  test("decontamination flags exactly the docs sharing probe shingles at threshold") {
    val manifest = LLMOps.qDecontaminate.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(manifest.nonEmpty, "fixture must contain contaminated docs")
    manifest.foreach { case (id, n, ov, c) =>
      assert(id >= 20L, "probe docs must never appear in the manifest")
      assert(ov > 0L && ov <= n)
      assert(c >= 0.8 && c <= 1.0)
    }
    // independent ground truth: per-doc containment recomputed in-memory
    val sh = Tables.read(spark, sf, "documents")
      .select($"doc_id", split(trim($"text"), " ").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(1), size($"ws") - 1),
          i => concat_ws(" ", element_at($"ws", i),
            element_at($"ws", i + 1))))).as("s"))
      .as[(Long, String)].collect()
    val probe = sh.collect { case (id, s) if id < 20L => s }.toSet
    val expected = sh.filter(_._1 >= 20L).groupBy(_._1).collect {
      case (id, ss)
          if BigDecimal(ss.count(p => probe(p._2)).toDouble / ss.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.8 => id
    }.toSet
    assert(manifest.map(_._1).toSet === expected,
      "manifest must equal the ground-truth contaminated set — " +
        "clean docs stay untouched")
  }

  test("per-source cap keeps at most 5 docs per source, deterministically") {
    val rows = LLMOps.qSamplePerSource.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySource = rows.groupBy(_._1)
    val sources = Tables.read(spark, sf, "documents")
      .select($"source").distinct().count()
    assert(bySource.size === sources,
      "every source must survive the cap (each has >= 5 docs)")
    bySource.foreach { case (s, docs) =>
      assert(docs.length <= 5, s"source $s kept ${docs.length} > 5")
    }
    // deterministic: a second run keeps the identical doc set
    val again = LLMOps.qSamplePerSource.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq === again.toSeq)
  }

  test("sequence packing invariants hold at multiple range counts") {
    val corpus = Tables.read(spark, sf, "documents").count()
    Seq(4, 8).foreach { r =>
      val docs = LLMOps.packSequencesDocs(spark, sf, ranges = Some(r))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      val byBin = docs.groupBy(_._3)
      val bins = byBin.map { case (bin, ds) =>
        (bin, ds.length.toLong, ds.map(_._2).sum) }.toSeq.sortBy(_._1)
      bins.foreach { case (bin, nDocs, sumTok) =>
        assert(sumTok <= 256L || nDocs == 1L,
          s"bin $bin overfilled (ranges=$r)")
      }
      assert(bins.map(_._2).sum === corpus, s"conservation (ranges=$r)")
      // the TRUE greedy invariant (ADVICE r7 item 3): a bin closes only
      // because the NEXT doc would not fit, so within a range every
      // non-final bin's fill plus the first doc of the following bin
      // exceeds the budget. (The old `under-half-full count <= ranges`
      // bound was fixture-dependent: one incoming doc larger than the
      // remaining space can close a non-final bin at any fill level.)
      val fills = bins.map(b => b._1 -> b._3).toMap
      val firstDocTok = byBin.map { case (bin, ds) =>
        bin -> ds.minBy(_._1)._2 }
      bins.map(_._1).sorted.sliding(2).foreach {
        case Seq(a, b) if (a >> 32) == (b >> 32) =>
          assert(fills(a) + firstDocTok(b) > 256L,
            s"bin $a closed early (ranges=$r)")
        case _ => ()
      }
      // the aggregated query output is exactly this assignment's rollup
      val agg = LLMOps.packSequences(spark, sf, ranges = Some(r))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      assert(agg.toSeq === bins, s"aggregate mismatch (ranges=$r)")
      val again = LLMOps.packSequences(spark, sf, ranges = Some(r))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      assert(agg.toSeq === again.toSeq, s"determinism (ranges=$r)")
    }
    // the derived default (no explicit count) must also pack every doc
    val auto = LLMOps.packSequences(spark, sf).collect()
    assert(auto.map(_.getLong(1)).sum === corpus)
  }

  test("batch queries run concurrently on one session without divergence") {
    // the multi-tenant deployment shape: several analysts' queries in
    // flight on one session. Streams document a single-session
    // assumption (Streams.scala); the BATCH surface must be safe, so
    // four pure queries PLUS two side-store queries (Derby/bucketed/
    // partitioned layouts behind Memo.once — the racing first-touch
    // class the single-eval Memo fix exists for) race and must
    // reproduce their serial results. (q_source_partition_overwrite
    // stays out by design: two overwrites of one directory are
    // unsafe to race on ANY engine — that query documents a
    // sequential-writer contract.)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val names =
      Seq("q_agg_stats", "q_join_star", "q_text_tf", "q_scalar_math",
        "q_source_dpp", "q_source_bucketed_join")
    val serial = names
      .map(n => n -> SparkEntry.queries(n)(spark, sf).collect().toSeq)
      .toMap
    val raced = Await.result(
      Future.sequence(names.map(n =>
        Future(n -> SparkEntry.queries(n)(spark, sf).collect().toSeq))),
      2.minutes)
    raced.foreach { case (n, rows) =>
      assert(rows === serial(n), s"$n diverged under concurrency")
    }
  }

  test("int8 quantization: checksum in range, reconstruction error small") {
    val rows = LLMOps.qQuantizeEmbed.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, qSum, err) =>
      assert(scale > 0, s"vec $id non-positive scale")
      // 64 dims, each code in [-127, 127]
      assert(math.abs(qSum) <= 127L * 64, s"vec $id checksum range")
      // absmax int8 on 64 dims: relative L2 error well under 2%
      assert(err >= 0 && err < 0.02, s"vec $id recon_err $err")
    }
  }

  test("sequence packing holds its invariants across budgets") {
    val corpus = Tables.read(spark, sf, "documents").count()
    Seq(64L, 512L).foreach { b =>
      val bins = LLMOps.packSequences(spark, sf, budget = b,
        ranges = Some(4)).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      bins.foreach { case (bin, nDocs, sumTok) =>
        assert(sumTok <= b || nDocs == 1L,
          s"bin $bin overfilled (budget=$b)")
      }
      assert(bins.map(_._2).sum === corpus, s"conservation (budget=$b)")
    }
  }

  test("gap fill: filled series is dense, never null, LOCF-consistent") {
    val rows = graft.queries.Extras.qGapFill.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getBoolean(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.exists(!_._3), "fixture must contain gaps to fill")
    rows.groupBy(_._1).foreach { case (u, series) =>
      val s = series.sortBy(_._2.toEpochDay)
      // dense daily spine between first and last observation
      assert(s.last._2.toEpochDay - s.head._2.toEpochDay ===
        s.length - 1L, s"user $u spine has holes")
      assert(s.head._3, s"user $u first spine day must be observed")
      // every gap day carries the previous day's filled value
      s.sliding(2).foreach {
        case Array(prev, cur) if !cur._3 =>
          assert(cur._4 === prev._4,
            s"user $u ${cur._2}: gap not carried forward")
        case _ => ()
      }
    }
  }

  test("cluster labels are identical under reliable checkpoint") {
    val base = LLMOps.qDedupCluster.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dir = java.nio.file.Paths.get(Tables.scratchDir("graft_ckpt_"))
    spark.conf.set("graft.checkpoint.dir", dir.toString)
    try {
      val reliable = LLMOps.qDedupCluster.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(base === reliable,
        "checkpoint durability mode must not change results")
      // the barrier really wrote durable checkpoint files
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      assert(files > 0, "no reliable checkpoint files were written")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
      // retire the memo entry whose backing checkpoint files are about
      // to be deleted: if its MEMORY_AND_DISK blocks were ever evicted,
      // a recompute would chase the dead files, and the stale entry
      // would pin memory until context end (ADVICE r7 item 2)
      graft.Memo.drop(spark, s"ngram_cluster_labels:$sf:$dir")
      // repoint the context checkpoint dir at a live location so no
      // later checkpoint() call inherits the deleted path
      spark.sparkContext.setCheckpointDir("target/checkpoint")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("recursive-SQL clustering equals the iterative fixpoint") {
    // diameter of the fixture's dup clusters is <= 2, so the depth-4
    // recursion must reach every true min label — the 3-way loop:
    // DataFrame iteration == Spark recursive SQL (== DuckDB via gate)
    val rec = graft.queries.Extras.qSqlRecursive.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iter = LLMOps.qDedupCluster.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rec === iter)
  }

  test("blocklist scrub: redaction counts match a token-level recount") {
    val rows = LLMOps.qScrubBlocklist.fn(spark, sf)
      .select($"doc_id", $"n_redactions").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val recount = Tables.read(spark, sf, "documents")
      .select($"doc_id", split(trim($"text"), " ").as("ws"))
      .select($"doc_id", size(filter($"ws",
        w => w.isin("customer", "key"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows === recount)
    assert(rows.values.sum > 0, "fixture must contain blocklist hits")
  }

  test("dedup clusters: pair endpoints agree; representative is its own label") {
    val pairs = LLMOps.qDedupNgramJaccard.fn(spark, sf)
      .select($"d1", $"d2").collect()
    val cl = LLMOps.qDedupCluster.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(cl(r.getLong(0)) === cl(r.getLong(1)),
        s"pair (${r.getLong(0)},${r.getLong(1)}) split across clusters")
    }
    cl.values.toSet.foreach((c: Long) => assert(cl(c) === c))
  }

  test("full outer join keeps unmatched rows from BOTH sides") {
    val rows = Relational.qJoinFullOuter.fn(spark, sf).collect()
    assert(rows.count(_.getAs[Boolean]("only_building")) > 0)
    assert(rows.count(_.getAs[Boolean]("only_hi")) > 0)
    val keys = rows.map(_.getAs[Long]("custkey"))
    assert(keys.distinct.length === keys.length)
  }

  test("ranking window family invariants (rank/ntile/percent_rank)") {
    val rows = Aggregates.qWindowRank.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("rnk") >= r.getAs[Long]("drnk"))
      val q = r.getAs[Long]("quartile")
      assert(q >= 1 && q <= 4)
      val pr = r.getAs[Double]("pct_rank")
      val cd = r.getAs[Double]("cdist")
      assert(pr >= 0.0 && pr <= 1.0)
      assert(cd > 0.0 && cd <= 1.0)
    }
  }

  test("exact percentiles are ordered and inside the value range") {
    val l = Tables.read(spark, sf, "lineitem")
      .agg(min($"l_quantity").cast("double"),
        max($"l_quantity").cast("double")).head()
    val (lo, hi) = (l.getDouble(0), l.getDouble(1))
    Aggregates.qAggPercentile.fn(spark, sf).collect().foreach { r =>
      val (p50, p90) = (r.getAs[Double]("p50_qty"),
        r.getAs[Double]("p90_qty"))
      assert(p50 <= p90)
      assert(p50 >= lo && p90 <= hi)
    }
  }

  test("regex extract recovers the numeric customer id exactly") {
    val bad = graft.queries.Scalars.qScalarRegex.fn(spark, sf)
      .filter($"cust_id" =!= $"c_custkey" ||
        ($"id_even" =!= ($"c_custkey" % 2 === 0)))
      .count()
    assert(bad === 0L)
  }

  test("obfuscated demographics: mask wins, else within blur of truth") {
    import graft.queries.FourCEQueries
    val truth = FourCEQueries.qFourceDemographics.fn(spark, sf)
      .collect()
      .map(r => (r.getString(1), r.getString(2)) ->
        r.getAs[Long]("num_patients_all")).toMap
    val obf = FourCEQueries.qFourceDemographicsObf.fn(spark, sf)
      .collect()
    assert(obf.nonEmpty)
    var masked = 0
    obf.foreach { r =>
      val t = truth((r.getString(1), r.getString(2)))
      val v = r.getAs[Long]("num_patients_all")
      if (t < 10) { assert(v === -99L); masked += 1 }
      else assert(math.abs(v - t) <= 2, s"blur out of range: $v vs $t")
    }
    assert(masked > 0, "no small cell exercised the mask at this sf")
  }

  test("merge upsert: all three actions appear, output key is unique") {
    val rows = graft.queries.Extras.qMergeUpsert.fn(spark, sf).collect()
    assert(rows.map(_.getAs[String]("action")).toSet ===
      Set("keep", "insert", "update"))
    val keys = rows.map(_.getAs[Long]("key"))
    assert(keys.distinct.length === keys.length)
  }

  test("MERGE INTO statement result equals the E15 join-form upsert") {
    // same fixture, same semantics: statement output must match the
    // full-outer-join form row for row (minus E15's diagnostic action
    // column) — this pins Catalyst's MergeRows rewrite to the handmade
    // plan it should be equivalent to
    val viaSql = graft.queries.Extras.qMergeIntoSql.fn(spark, sf)
      .collect().map(r => (r.getAs[Long]("key"),
        Option(r.getAs[String]("c_mktsegment")),
        r.getAs[Double]("balance")))
    val viaJoin = graft.queries.Extras.qMergeUpsert.fn(spark, sf)
      .collect().map(r => (r.getAs[Long]("key"),
        Option(r.getAs[String]("c_mktsegment")),
        r.getAs[Double]("balance")))
    assert(viaSql.length === viaJoin.length)
    assert(viaSql.toSeq === viaJoin.toSeq)
  }

  test("MERGE INTO is idempotent when re-applied with the same source") {
    // applying the same latest-per-key change feed twice must be a
    // no-op the second time (update to the same value, no new inserts)
    val first = graft.queries.Extras.qMergeIntoSql.fn(spark, sf)
      .collect()
    val second = graft.queries.Extras.qMergeIntoSql.fn(spark, sf)
      .collect()
    assert(first.map(_.toSeq).toSeq === second.map(_.toSeq).toSeq)
  }

  test("UPDATE/DELETE statements touch exactly the targeted rows") {
    val out = graft.queries.Extras.qSqlUpdateDelete.fn(spark, sf)
    // DELETE predicate holds on every survivor
    assert(out.filter(col("balance") < 1000.0).count() === 0L)
    // UPDATE touched only the BUILDING segment: non-BUILDING survivors
    // carry their original balance bit-for-bit
    val orig = Tables.read(spark, sf, "customer")
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("key"),
        col("c_acctbal").cast("decimal(18,6)").cast("double")
          .as("balance0"))
    val drifted = out.filter(col("c_mktsegment") =!= "BUILDING")
      .join(orig, "key")
      .filter(col("balance") =!= col("balance0")).count()
    assert(drifted === 0L)
    // and some BUILDING row actually survived and was raised
    val raised = out.filter(col("c_mktsegment") === "BUILDING")
      .join(orig, "key")
      .filter(col("balance") > col("balance0")).count()
    assert(raised > 0L)
  }

  test("time travel: v0 empty, snapshots immutable, TIMESTAMP AS OF resolves") {
    // drive the statement batch, then inspect the version ladder the
    // query itself doesn't read
    graft.queries.Extras.qTimeTravel.fn(spark, sf).collect()
    val tbl = spark.sql("SHOW TABLES IN graftmem.db").collect()
      .map(_.getAs[String]("tableName")).filter(_.startsWith("tt_target_"))
      .map(n => (n.stripPrefix("tt_target_").toInt, n)).max._2
    val fq = s"graftmem.db.$tbl"
    assert(spark.sql(s"SELECT * FROM $fq VERSION AS OF 0").count() === 0L)
    val v1 = spark.sql(s"SELECT count(*) FROM $fq VERSION AS OF 1")
      .head().getLong(0)
    val v2 = spark.sql(s"SELECT count(*) FROM $fq VERSION AS OF 2")
      .head().getLong(0)
    assert(v1 > 0L && v1 === v2, "UPDATE must not change row count")
    // snapshot of the far future == current state
    val now = spark.sql(s"SELECT count(*) FROM $fq").head().getLong(0)
    val ts = spark.sql(
      s"SELECT count(*) FROM $fq TIMESTAMP AS OF '2100-01-01'")
      .head().getLong(0)
    assert(ts === now)
    // out-of-range version fails loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $fq VERSION AS OF 9999").collect()
    }
  }

  test("time travel retention: old snapshots retire, ids stay stable") {
    spark.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.MemRowTableCatalog].getName)
    val tbl = "graftmem.db.retention_probe"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (v BIGINT)")
    val n = graft.sources.MemRowTable.Retain + 5
    (1 to n).foreach { i =>
      spark.range(i, i + 1).toDF("v").writeTo(tbl).append()
    }
    // latest version id keeps counting past retirement
    val latest = spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF $n")
      .head().getLong(0)
    assert(latest === n.toLong)
    // a retired version fails with the retention bound in the message
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("retired") ||
      Option(e.getCause).exists(_.getMessage.contains("retired")))
    // the history listing shows only the resolvable window, ids intact
    val hist = spark.sql(
      s"SELECT version, operation, num_rows FROM $tbl.history " +
        "ORDER BY version").collect()
    assert(hist.length === graft.sources.MemRowTable.Retain)
    assert(hist.head.getInt(0) === n - graft.sources.MemRowTable.Retain + 1)
    assert(hist.last.getInt(0) === n)
    assert(hist.forall(_.getString(1) === "append"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("history metadata table: labels, counts, and shadowing") {
    spark.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.MemRowTableCatalog].getName)
    val tbl = "graftmem.db.hist_probe"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (v BIGINT)")
    spark.range(0, 10).toDF("v").writeTo(tbl).append()
    spark.sql(s"DELETE FROM $tbl WHERE v >= 7")
    val hist = spark.sql(
      s"SELECT version, operation, num_rows FROM $tbl.history " +
        "ORDER BY version").collect()
    assert(hist.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq === Seq((0, "create", 0L), (1, "append", 10L),
        (2, "replace", 7L)))
    // committed_at is monotone non-decreasing across commits
    val ts = spark.sql(
      s"SELECT committed_at FROM $tbl.history ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // a REAL table named `history` shadows the metadata relation
    val shadow = "graftmem.db.hist_probe.history"
    spark.sql(s"CREATE TABLE $shadow (x BIGINT)")
    spark.range(0, 3).toDF("x").writeTo(shadow).append()
    assert(spark.sql(s"SELECT * FROM $shadow").columns.toSeq === Seq("x"))
    spark.sql(s"DROP TABLE $shadow")
    // ...and once dropped, the metadata relation is reachable again
    assert(spark.sql(s"SELECT count(*) FROM $tbl.history")
      .head().getLong(0) === 3L)
    // a `.history` suffix on a table that does not exist still fails
    intercept[Exception] {
      spark.sql("SELECT * FROM graftmem.db.no_such_table.history")
        .collect()
    }
    spark.sql(s"DROP TABLE $tbl")
  }

  test("ALTER TABLE ADD COLUMNS: null fill, snapshot schemas, guards") {
    spark.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.MemRowTableCatalog].getName)
    val tbl = "graftmem.db.evo_probe"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE)")
    spark.range(0, 5).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v")
      .writeTo(tbl).append()                                      // v1
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (tag STRING)")       // v2
    spark.range(5, 8)
      .selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v",
        "concat('t', id) AS tag")
      .writeTo(tbl).append()                                      // v3
    // current read: old rows null-filled, new rows tagged, values intact
    val cur = spark.table(tbl).orderBy("k").collect()
    assert(cur.length === 8)
    assert(cur.take(5).forall(_.isNullAt(2)))
    assert(cur.drop(5).map(_.getString(2)).toSeq === Seq("t5", "t6", "t7"))
    assert(cur.map(_.getDouble(1)).toSeq ===
      (0 until 8).map(_ * 1.5).toSeq)
    // time travel BEFORE the evolution reads the 2-column shape
    val v1 = spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
    assert(v1.columns.toSeq === Seq("k", "v"))
    assert(v1.count() === 5L)
    // ...and AFTER it, the 3-column shape with the old epoch null
    val v2 = spark.sql(s"SELECT * FROM $tbl VERSION AS OF 2")
    assert(v2.columns.toSeq === Seq("k", "v", "tag"))
    assert(v2.filter("tag IS NULL").count() === 5L)
    // the evolution is itself a labeled history entry
    val ops = spark.sql(
      s"SELECT operation FROM $tbl.history ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(ops === Seq("create", "append", "add column", "append"))
    // guards: duplicate column, non-AddColumn change
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (tag STRING)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN tag TO label")
    }
    spark.sql(s"DROP TABLE $tbl")
  }

  test("streaming upsert: multi-batch, converges to the batch merge state") {
    // the stream MUST split into several micro-batches (one file per
    // trigger) or the out-of-order event-time guard is never exercised
    val result = graft.queries.Scale.qStreamUpsert.fn(spark, sf)
      .collect()
    assert(graft.queries.Scale.upsertBatches.get() >= 2,
      "feed must split into multiple micro-batches")
    // converged state (key, segment, balance) ≡ the one-shot batch
    // MERGE over the same fixture — batch boundaries must not leak
    val viaBatchMerge = graft.queries.Extras.qMergeIntoSql.fn(spark, sf)
      .collect().map(r => (r.getAs[Long]("key"),
        Option(r.getAs[String]("c_mktsegment")),
        r.getAs[Double]("balance")))
    assert(result.map(r => (r.getAs[Long]("key"),
      Option(r.getAs[String]("c_mktsegment")),
      r.getAs[Double]("balance"))).toSeq === viaBatchMerge.toSeq)
  }

  test("streaming upsert is deterministic across re-runs") {
    // same feed, fresh table each run: identical converged state
    // (including the applied event-time bookkeeping columns)
    val a = graft.queries.Scale.qStreamUpsert.fn(spark, sf).collect()
    val b = graft.queries.Scale.qStreamUpsert.fn(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("scd2 history: adjacent versions differ, exactly one current row per user") {
    val rows = graft.queries.Extras.qScd2History.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).values.foreach { vs =>
      val states = vs.sortBy(_.getAs[Int]("version"))
        .map(_.getAs[String]("state"))
      states.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(0) !== p(1), "un-collapsed repeat state")
      }
      assert(vs.count(_.getAs[Boolean]("is_current")) === 1)
    }
  }

  test("exceptAll surplus equals the per-key count difference") {
    val l = Tables.read(spark, sf, "lineitem")
    def cnt(flag: String) = l.filter($"l_returnflag" === flag)
      .groupBy($"l_partkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = cnt("A"); val r = cnt("R")
    val surplus = Relational.qSetExceptAll.fn(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val expected = a.map { case (k, n) =>
      k -> math.max(0L, n - r.getOrElse(k, 0L)) }.filter(_._2 > 0)
    assert(surplus === expected)
  }

  test("try_cast family: failing class all-null, succeeding class never") {
    val rows = graft.queries.Scalars.qScalarTry.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.isNullAt(2)), "p_type must never parse as INT")
    assert(rows.forall(!_.isNullAt(1)), "brand digit must always parse")
    assert(rows.exists(_.isNullAt(3)), "p_size=11 rows must null divide")
    assert(rows.exists(!_.isNullAt(3)), "non-zero divisors must divide")
  }

  test("union-by-name: drifted rows land in the null-filled bucket") {
    val rows = Relational.qSetUnionByName.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(rows.getOrElse("unknown", 0L) > 0,
      "old-extract rows must appear with the null-filled column")
    assert(rows.size > 1, "new-extract priorities must also appear")
  }

  test("TopKPerKey edge cases: empty input; k larger than any group") {
    val empty = Tables.read(spark, sf, "orders")
      .filter(lit(false))
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    assert(graft.plans.TopKPerKey.of(empty, Seq("o_orderpriority"),
      "o_totalprice", desc = true, tiebreak = "o_orderkey",
      k = 3).count() === 0L)
    // k ≥ group size degrades to identity (every row kept)
    val o = Tables.read(spark, sf, "orders")
      .filter($"o_custkey" < 5)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    val kept = graft.plans.TopKPerKey.of(o, Seq("o_custkey"),
      "o_totalprice", desc = true, tiebreak = "o_orderkey",
      k = 1000000)
    assert(kept.count() === o.count())
  }

  test("TopKPerKey partial key cap degrades to pass-through, still exact") {
    // cap=1: the map-side pass can track ONE key per partition and must
    // stream every other key's rows through unpruned — the final pass
    // still produces the exact top-k, only shuffle volume grows
    val base = SparkEntry.queries("q_topk_per_key")(spark, sf)
      .collect().toSeq
    spark.conf.set("graft.topk.maxPartialKeys", "1")
    try {
      val capped = SparkEntry.queries("q_topk_per_key")(spark, sf)
        .collect().toSeq
      assert(capped === base,
        "capped partial pass must not change the result")
    } finally spark.conf.unset("graft.topk.maxPartialKeys")
  }

  test("embed hot-cell guard: inert when balanced, exact split when hot") {
    // balanced fixture: every cell under the cap → the guard must be
    // bit-inert (this is also why the DuckDB oracle stays valid)
    val base = LLMOps.qDedupEmbed.fn(spark, sf).collect().toSeq
    spark.conf.set("graft.embed.maxCellSize", "1000000")
    try assert(LLMOps.qDedupEmbed.fn(spark, sf).collect().toSeq === base,
      "guard must be inert on a balanced corpus")
    finally spark.conf.unset("graft.embed.maxCellSize")

    // adversarial: ONE label holds the whole table (the Zipf-hot cell)
    val hotDf = Tables.read(spark, sf, "embeddings")
      .select($"vec_id", lit(0L).as("label"), $"embedding")
    val n = hotDf.count()
    val unguarded = LLMOps.embedNearDupPairs(hotDf, -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.size.toLong === n * (n - 1) / 2,
      "threshold -1 must keep every within-cell pair")
    spark.conf.set("graft.embed.maxCellSize", "64")
    try {
      val guarded = LLMOps.embedNearDupPairs(hotDf, -1.0).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // expected: EXACTLY the within-sub-bucket pairs under the same
      // ceil(log2(n/cap)) sign-bit split, computed independently here
      val bits = math.min(8,
        math.ceil(math.log(n.toDouble / 64) / math.log(2)).toInt)
      val subs = hotDf.select($"vec_id",
          pmod(LLMOps.hyperBits($"embedding"),
            lit(1L << bits)).as("sub"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = unguarded.filter { case (a, b) =>
        subs(a) == subs(b) }
      assert(guarded === expected,
        "guarded pairs must be exactly the within-sub-bucket pairs")
      assert(guarded.size < unguarded.size,
        "the hot cell must actually have been split")
    } finally spark.conf.unset("graft.embed.maxCellSize")
  }

  test("incremental dedup stays exact under forced Bloom false positives") {
    // the two-tier contract: the Bloom filter only ROUTES arrivals
    // (definitely-new bypass vs maybe-seen anti-join) — false
    // positives grow tier 2's input, never the result. Force a
    // 16-entry sketch over the full digest set so most arrivals are
    // false positives and assert bit-identical output to the
    // well-sized run (which the DuckDB oracle already pins).
    val base = LLMOps.qDedupIncremental.fn(spark, sf).collect().toSeq
    spark.conf.set("graft.bloom.estItems", "16")
    try {
      val fp = LLMOps.qDedupIncremental.fn(spark, sf).collect().toSeq
      assert(fp === base,
        "Bloom false positives must not change the admitted set")
    } finally spark.conf.unset("graft.bloom.estItems")
  }

  test("TopKPerKey final key cap spills chunks, stays exact vs Window") {
    import org.apache.spark.sql.expressions.Window
    // high-cardinality key (o_custkey: ~hundreds of keys per reducer
    // after the hash exchange) so a cap of 2 forces MANY spill chunks
    // per task — the exact-degrade path of VERDICT r7 item 3
    val o = Tables.read(spark, sf, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val expected = o.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2).select($"o_custkey", $"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(): Set[(Long, Long)] = graft.plans.TopKPerKey.of(o,
        Seq("o_custkey"), "o_totalprice", desc = true,
        tiebreak = "o_orderkey", k = 2)
      .select($"o_custkey", $"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq("1", "2").foreach { cap =>
      spark.conf.set("graft.topk.maxFinalKeys", cap)
      // stress both caps at once: partial passes through, final spills
      spark.conf.set("graft.topk.maxPartialKeys", cap)
      try assert(run() === expected,
        s"final-pass cap $cap changed the result")
      finally {
        spark.conf.unset("graft.topk.maxFinalKeys")
        spark.conf.unset("graft.topk.maxPartialKeys")
      }
    }
    // a bad setting fails loudly, naming the conf key
    spark.conf.set("graft.topk.maxFinalKeys", "4g")
    try {
      val e = intercept[Exception] { run() }
      def names(t: Throwable): Boolean =
        t != null && (Option(t.getMessage)
          .exists(_.contains("graft.topk.maxFinalKeys")) ||
          names(t.getCause))
      assert(names(e), s"error must name the conf key: $e")
    } finally spark.conf.unset("graft.topk.maxFinalKeys")
  }

  test("TopKPerKey equals the Window row_number form exactly") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.read(spark, sf, "orders")
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    val custom = graft.plans.TopKPerKey.of(o,
        Seq("o_orderpriority"), "o_totalprice", desc = true,
        tiebreak = "o_orderkey", k = 3)
      .select($"o_orderpriority", $"o_orderkey").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val window = o.withColumn("rn", row_number().over(
        Window.partitionBy($"o_orderpriority")
          .orderBy($"o_totalprice".desc, $"o_orderkey")))
      .filter($"rn" <= 3)
      .select($"o_orderpriority", $"o_orderkey").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(custom === window)
    assert(custom.size === 15) // 5 priorities × k=3
  }

  // ------------------------------------- streaming↔batch equivalence

  test("streaming tumbling window equals batch aggregation") {
    val streamed = Streams.qStreamTumbling.fn(spark, sf)
    val batch = Tables.read(spark, sf, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"event_type", $"n")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming per-user state equals batch aggregation") {
    val streamed = Streams.qStreamState.fn(spark, sf)
    val batch = Tables.read(spark, sf, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        max($"event_type" === "error").as("ever_error"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("transformWithState equals batch aggregation (RocksDB store)") {
    val streamed = Streams.qStreamTws.fn(spark, sf)
    val batch = Tables.read(spark, sf, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        max($"event_type" === "error").as("ever_error"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
    // provider override must not leak into later streaming queries
    // (getOption surfaces the built-in default, HDFSBacked, when the
    // override has been cleared)
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass")
      .contains("HDFSBackedStateStoreProvider"))
  }

  test("streaming dedup emits each event_id exactly once") {
    val streamed = Streams.qStreamDedup.fn(spark, sf)
    assert(streamed.count() ===
      streamed.select($"event_id").distinct().count())
    assert(streamed.count() ===
      Tables.read(spark, sf, "events").select($"event_id")
        .distinct().count())
  }

  test("restart from checkpoint resumes incrementally, no reprocessing") {
    // The production recovery story: a stateful aggregation stopped
    // mid-stream and restarted against the SAME checkpoint must (a)
    // converge to the exact batch answer and (b) read only the files
    // that arrived while it was down — checkpointed offsets + state
    // make the restart exactly-once, no double counting.
    val srcDir = Tables.scratchDir("graft_ckpt_src_")
    val ckptDir = Tables.scratchDir("graft_ckpt_")
    val ev = Tables.read(spark, sf, "events")
      .select($"event_id", $"event_type")
    val firstHalf = ev.filter($"event_id" % 2 === 0)
    val secondHalf = ev.filter($"event_id" % 2 === 1)
    firstHalf.coalesce(1).write.mode("overwrite").parquet(srcDir)

    def run(name: String) = {
      val q = spark.readStream.schema(ev.schema).parquet(srcDir)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckptDir)
        .start()
      q.processAllAvailable()
      val rows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      rows
    }

    val read1 = run("ckpt_run_a")
    secondHalf.coalesce(1).write.mode("append").parquet(srcDir)
    val read2 = run("ckpt_run_b")

    assert(read1 === firstHalf.count(), "first run reads first half")
    assert(read2 === secondHalf.count(),
      s"restart must read ONLY the new file ($read2 rows read)")
    val got = spark.table("ckpt_run_b").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ev.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want,
      "restarted aggregation must equal the batch answer over ALL data")
  }

  test("AvailableNow drains the backlog in bounded batches, then stops") {
    // E101: the catch-up trigger's two contracts — admission control
    // (maxFilesPerTrigger caps each micro-batch, so an 8-file backlog
    // at 2 files/trigger takes ≥4 data batches: the 100 TB backlog
    // never enters one batch) and self-termination (the query ends on
    // its own once the start-time backlog is drained; awaitTermination
    // returns). Result must equal the batch aggregate exactly.
    val srcDir = Tables.scratchDir("graft_avnow_")
    val ev = Tables.read(spark, sf, "events")
      .select($"event_id", $"event_type")
    ev.repartition(8, $"event_id").write.mode("overwrite")
      .parquet(srcDir)
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 2).parquet(srcDir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("avnow_t")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // self-terminates — the AvailableNow contract
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 4,
      s"8 files at 2/trigger must take >=4 data batches, took $dataBatches")
    val got = spark.table("avnow_t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ev.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want, "drained result must equal the batch answer")
  }

  test("Spearman: exact integer-rank form matches the float-rank corr") {
    // E118's claim is that the DECIMAL(38,0) five-sum formulation is
    // Pearson-on-average-ranks, exactly. Recompute rho the naive way
    // (float average ranks + built-in corr) and require agreement to
    // well inside the 6dp output rounding; also pin the range bound.
    import org.apache.spark.sql.expressions.Window
    val base = Tables.read(spark, sf, "lineitem")
      .select($"l_returnflag".as("g"), $"l_quantity".as("x"),
        $"l_extendedprice".as("y"))
    def avgRank(c: String) =
      rank().over(Window.partitionBy($"g").orderBy(col(c)))
        .cast("double") +
        (count(lit(1)).over(Window.partitionBy($"g", col(c)))
          .cast("double") - 1) / 2
    val naive = base
      .withColumn("ru", avgRank("x")).withColumn("rv", avgRank("y"))
      .groupBy($"g").agg(corr($"ru", $"rv").as("rho"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = Aggregates.qAggSpearman.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(exact.keySet === naive.keySet)
    exact.foreach { case (g, rho) =>
      assert(math.abs(rho) <= 1.0 + 1e-12)
      assert(math.abs(rho - naive(g)) < 1e-6,
        s"group $g: exact $rho vs naive ${naive(g)}")
    }
  }

  test("streaks: active days conserved, max streak bounded") {
    // E119 conservation: Σ active_days over users == |distinct
    // (user, day)| — the island regrouping may never drop or double a
    // day; and per user max_streak ≤ active_days with ≥1 streak.
    val res = graft.queries.Extras.qStreaks.fn(spark, sf).collect()
    val distinctDays = Tables.read(spark, sf, "events")
      .select($"user_id", to_date($"ts")).distinct().count()
    assert(res.map(_.getLong(3)).sum === distinctDays)
    res.foreach { r =>
      assert(r.getLong(1) <= r.getLong(3), "max_streak <= active_days")
      assert(r.getLong(2) >= 1L, "every present user has >=1 streak")
    }
  }

  test("interval merge: span bounds and length conservation hold") {
    // E120: per key, merged spans can neither cover more than the sum
    // of the inputs (7d each) nor less than one interval; span count
    // never exceeds input count; input intervals are conserved.
    val res = graft.queries.Extras.qIntervalMerge.fn(spark, sf).collect()
    val perCust = Tables.read(spark, sf, "orders")
      .groupBy($"o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.length === perCust.size)
    res.foreach { r =>
      val (cust, nSpans, nIn, covered) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nIn === perCust(cust), "every input interval accounted for")
      assert(nSpans <= nIn)
      assert(covered >= 7L && covered <= 7L * nIn,
        s"cust $cust covered=$covered outside [7, ${7 * nIn}]")
    }
  }

  test("basket pairs: support floor, canonical order, count bounds") {
    // E122: each pair appears once (brand_a < brand_b), clears the
    // support floor, and can never exceed the smaller brand's basket
    // count (n_ab ≤ min(n_a, n_b) — pigeonhole on baskets).
    val ob = Tables.read(spark, sf, "lineitem")
      .join(Tables.read(spark, sf, "part"),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct()
    val nBrand = ob.groupBy($"p_brand").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val res = graft.queries.Extras.qBasketPairs.fn(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (a, b, nAb) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b, s"pair ($a,$b) not canonical")
      assert(nAb >= 20L, "support floor violated")
      assert(nAb <= math.min(nBrand(a), nBrand(b)),
        s"pair ($a,$b): n_ab=$nAb exceeds a brand's basket count")
    }
  }

  test("skyline equals brute-force Pareto frontier") {
    // E123: the linear running-max form must return exactly the
    // undominated (price, max-size-at-price) points — checked against
    // O(n²) dominance on the collected fixture.
    val parts = Tables.read(spark, sf, "part")
      .select($"p_retailprice", $"p_size").collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    val byPrice = parts.groupBy(_._1).map { case (p, xs) =>
      (p, xs.map(_._2).max, xs.length.toLong)
    }.toSeq
    val brute = byPrice.filter { case (p, s, _) =>
      !byPrice.exists { case (p2, s2, _) =>
        (p2 < p && s2 >= s) || (p2 == p && s2 > s)
      }
    }.sortBy(_._1)
    val got = graft.queries.Extras.qSkyline.fn(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === brute)
  }

  test("AUC equals brute-force pairwise Mann-Whitney") {
    // E124: rank formula vs the definition — over all (pos, neg)
    // pairs, score 1 for pos>neg, ½ for ties, normalized.
    val rows = Tables.read(spark, sf, "events")
      .select($"value", ($"event_type" === "purchase")).collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val wins = (for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val brute = wins / (pos.length.toDouble * neg.length)
    val r = Aggregates.qAuc.fn(spark, sf).head()
    assert(r.getLong(0) === pos.length.toLong)
    assert(r.getLong(1) === neg.length.toLong)
    assert(math.abs(r.getDouble(2) - brute) < 1e-6)
  }

  test("interpolation: knowns untouched, fills bounded by neighbors") {
    // E125: every non-interpolated row must carry the exact daily
    // mean; every interpolated value lies within [min, max] of its
    // two bracketing knowns (linear interpolation never overshoots);
    // the spine is gap-free per series.
    val res = graft.queries.Extras.qInterpolate.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getDouble(2), r.getBoolean(3)))
    res.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2.toEpochDay)
      // gap-free spine
      assert(sorted.last._2.toEpochDay - sorted.head._2.toEpochDay
        === sorted.length - 1L)
      // each interpolated value between its neighbor knowns
      val knownIdx = sorted.zipWithIndex.filterNot(_._1._4).map(_._2)
      sorted.zipWithIndex.filter(_._1._4).foreach { case (row, i) =>
        val prev = knownIdx.filter(_ < i).lastOption.map(sorted(_)._3)
        val next = knownIdx.find(_ > i).map(sorted(_)._3)
        val bounds = (prev.toSeq ++ next.toSeq)
        assert(bounds.nonEmpty)
        assert(row._3 >= bounds.min - 1e-6 &&
          row._3 <= bounds.max + 1e-6,
          s"fill ${row._3} outside neighbor range $bounds")
      }
    }
  }

  test("benford: digits partition the table, shares sum to one") {
    val res = graft.queries.Extras.qBenford.fn(spark, sf).collect()
    val total = Tables.read(spark, sf, "orders").count()
    assert(res.map(_.getLong(1)).sum === total)
    assert(res.forall(r =>
      r.getInt(0) >= 1 && r.getInt(0) <= 9))
    assert(math.abs(res.map(_.getDouble(2)).sum - 1.0) < 1e-5)
    // the Benford reference itself sums to 1 by construction
    assert(math.abs(res.map(_.getDouble(3)).sum - 1.0) < 1e-5 ||
      res.length < 9) // unless some digit never occurs
  }

  test("bigram top-k agrees with the self-join formulation") {
    // E127: the lead-window pairing must equal the classic
    // (doc, pos)⋈(doc, pos+1) self-join pairing, golden-checked on
    // the fixture's top-100.
    val toks = Tables.read(spark, sf, "documents")
      .select($"doc_id",
        posexplode(split(trim($"text"), " ")).as(Seq("pos", "tok")))
      .filter($"tok" =!= "")
    val viaJoin = toks.as("a")
      .join(toks.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") === col("a.pos") + 1)
      .groupBy(col("a.tok").as("w1"), col("b.tok").as("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w1", $"w2").limit(100)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got = LLMOps.qNgramFreq.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === viaJoin.toSeq)
  }

  test("jaro_winkler: goldens, empty/null semantics, boost threshold") {
    // E128: values pinned to DuckDB's jaro_winkler_similarity
    // (verified against the real engine when the expression was
    // built): classic Census pairs, the 0.7 boost gate (2/3 stays
    // unboosted, 7/9 boosts to 0.8222…), and DuckDB's empty→0.0
    // (both-empty included) — plus expression null propagation.
    def jw(a: String, b: String): Double =
      spark.sql(s"SELECT jaro_winkler('$a', '$b')").head().getDouble(0)
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-10)
    assert(jw("abc", "abc") === 1.0)
    assert(jw("abc", "xyz") === 0.0)
    assert(jw("", "") === 0.0, "DuckDB pins both-empty to 0.0")
    assert(jw("a", "") === 0.0)
    assert(math.abs(jw("ax", "ay") - 2.0 / 3) < 1e-12,
      "jaro == 2/3 <= 0.7 must NOT get the Winkler boost")
    assert(math.abs(jw("abx", "aby") - (7.0 / 9 + 0.1 * 2 * 2.0 / 9))
      < 1e-12, "jaro 7/9 > 0.7 must boost with prefix 2")
    assert(spark.sql("SELECT jaro_winkler(NULL, 'x')").head().isNullAt(0))
  }

  test("rolling distinct equals brute-force trailing-7d count") {
    // E129: the explode-k contribution trick vs the definition,
    // day by day on the collected fixture.
    val ud = Tables.read(spark, sf, "events")
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ud.map(_._2).distinct.sorted(
      Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val brute = days.map { d =>
      d -> ud.filter { case (_, a) =>
        !a.isAfter(d) && !a.isBefore(d.minusDays(6))
      }.map(_._1).distinct.length.toLong
    }.toMap
    val got = Aggregates.qRollingDistinct.fn(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    // windows are emitted for every day in the span, incl. zero-event
    // days had there been any; fixture has events daily so keysets match
    assert(got === brute)
  }

  test("sequence pattern count equals driver-side regex on the stream") {
    // E130: symbol-string construction (deterministic order) + regex
    // count vs a plain Scala recomputation per user.
    val evs = Tables.read(spark, sf, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getString(3).substring(0, 1)))
    val brute = evs.groupBy(_._1).map { case (u, xs) =>
      val s = xs.sortBy(x => (x._2, x._3)).map(_._4).mkString
      u -> (s.length, "v[vc]*p".r.findAllIn(s).length)
    }
    val got = graft.queries.Extras.qSeqPattern.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got === brute)
  }

  test("proration conserves every cent and emits 7 slices per order") {
    val res = graft.queries.Extras.qProrate.fn(spark, sf).collect()
    val orders = Tables.read(spark, sf, "orders")
      .select(round($"o_totalprice" * 100, 0).cast("long")).collect()
      .map(_.getLong(0))
    assert(res.map(_.getLong(1)).sum === orders.length * 7L)
    assert(res.map(_.getLong(2)).sum === orders.sum,
      "allocated cents must equal total order cents exactly")
  }

  test("ewma: convex-combination bounds, seeds on the first value") {
    // E132: a renormalized weighted mean of trailing values can never
    // leave their [min, max]; the first row of each series has only
    // the k=0 term, so ewma == x there.
    val rows = Aggregates.qEwma.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getDouble(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (_, xs) =>
      val sorted = xs.sortBy(_._2.toEpochDay)
      assert(math.abs(sorted.head._4 - sorted.head._3) < 1e-6,
        "series start must equal its own value")
      sorted.zipWithIndex.foreach { case ((_, _, _, e), i) =>
        val window = sorted.slice(math.max(0, i - 19), i + 1).map(_._3)
        assert(e >= window.min - 1e-6 && e <= window.max + 1e-6,
          s"ewma $e escapes trailing window [${window.min}, ${window.max}]")
      }
    }
  }

  test("crosstab chi-square matches driver-side recomputation") {
    // E133: brute-force the statistic from the collected contingency
    // table, including zero-observed cells of the full marginal grid.
    val ct = Tables.read(spark, sf, "orders")
      .join(Tables.read(spark, sf, "customer"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderpriority").count()
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val segs = ct.keys.map(_._1).toSeq.distinct
    val pris = ct.keys.map(_._2).toSeq.distinct
    val n = ct.values.sum.toDouble
    val chi2 = (for (s <- segs; p <- pris) yield {
      val o = ct.getOrElse((s, p), 0L).toDouble
      val e = ct.filter(_._1._1 == s).values.sum *
        ct.filter(_._1._2 == p).values.sum / n
      (o - e) * (o - e) / e
    }).sum
    val r = graft.queries.Extras.qCrosstabChi2.fn(spark, sf).head()
    assert(r.getLong(0) === (segs.length - 1L) * (pris.length - 1L))
    assert(r.getLong(1) === n.toLong)
    assert(math.abs(r.getDouble(2) - chi2) < 1e-4)
  }

  test("containment score matches driver-side set arithmetic") {
    // E134: per eval doc, best containment against every corpus doc
    // computed straight from the texts (distinct bigrams, df cap).
    val texts = Tables.read(spark, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ")
        .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet)
      .toMap
    val corpusIds = texts.keys.filter(_ >= 20).toSeq
    val dfCount = corpusIds.flatMap(texts(_)).groupBy(identity)
      .map { case (s, xs) => s -> xs.size }
    val hot = dfCount.filter(_._2 > 100).keySet
    val brute = texts.keys.filter(_ < 20).toSeq.sorted.flatMap { e =>
      val pe = texts(e) -- hot
      val scored = corpusIds.map(c => (c, (pe & (texts(c) -- hot)).size))
        .filter(_._2 > 0)
      if (scored.isEmpty) None
      else {
        val (c, m) = scored.minBy { case (cid, mm) => (-mm, cid) }
        Some((e, c, pe.size.toLong, m.toLong))
      }
    }
    val got = LLMOps.qContainScore.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === brute)
  }

  test("feature scaling: z standardizes, min-max lands in [0,1]") {
    // E135: per group the z-scores must have mean ~0 and sample std
    // ~1 (that's what standardization means), and min-max must span
    // exactly [0, 1].
    val rows = Aggregates.qFeatureScale.fn(spark, sf).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (g, xs) =>
      val zs = xs.map(_._2)
      val mean = zs.sum / zs.length
      val varS = zs.map(z => (z - mean) * (z - mean)).sum / (zs.length - 1)
      assert(math.abs(mean) < 1e-3, s"$g: z mean $mean")
      assert(math.abs(varS - 1.0) < 1e-2, s"$g: z var $varS")
      val mms = xs.map(_._3)
      assert(math.abs(mms.min) < 1e-6 && math.abs(mms.max - 1) < 1e-6)
    }
  }

  test("pythagorean mean inequality: am >= gm >= hm per group") {
    Aggregates.qAggLogMeans.fn(spark, sf).collect().foreach { r =>
      val (am, gm, hm) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(am >= gm - 1e-9 && gm >= hm - 1e-9,
        s"${r.getString(0)}: am=$am gm=$gm hm=$hm violates AM>=GM>=HM")
    }
  }

  test("weighted median equals brute-force cumulative pick") {
    val rows = Tables.read(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_extendedprice",
        $"l_quantity".cast("long")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val brute = rows.groupBy(_._1).map { case (g, xs) =>
      val sorted = xs.sortBy(_._2).toSeq
      val tot = sorted.map(_._3).sum
      var cum = 0L
      g -> sorted.collectFirst {
        case (_, p, w) if { cum += w; cum * 2 >= tot } => p
      }.get
    }
    val got = Aggregates.qAggWeightedMedian.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === brute)
  }

  test("attribution: each model conserves the purchase count") {
    val res = graft.queries.Extras.qAttribution.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val purchases = Tables.read(spark, sf, "events")
      .filter($"event_type" === "purchase").count()
    Seq("first_touch", "last_touch").foreach { m =>
      assert(res.filter(_._1 == m).map(_._3).sum === purchases,
        s"$m does not attribute every purchase exactly once")
    }
    assert(res.map(_._2).toSet.subsetOf(Set("view", "click", "direct")))
  }

  test("er blocking: pair count per block, similarity bounds") {
    // E139: sorted-neighborhood emits exactly n-1 adjacent pairs per
    // block; similarity is a probability-like score in [0, 1].
    val perNation = Tables.read(spark, sf, "customer")
      .groupBy($"c_nationkey").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val res = graft.queries.Extras.qErBlocking.fn(spark, sf).collect()
    res.foreach { r =>
      val (nk, pairs, matches, mean) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(pairs === perNation(nk) - 1)
      assert(matches >= 0 && matches <= pairs)
      assert(mean >= 0.0 && mean <= 1.0)
    }
    assert(res.length === perNation.count(_._2 >= 2))
  }

  test("interarrival histogram: gap conservation and bucket ranges") {
    // E140: every consecutive pair lands in exactly one bucket, and
    // each bucket's observed [min, max] stays inside its power-of-two
    // range ([2^(b-1), 2^b); bucket 1 covers {0, 1}).
    val res = graft.queries.Extras.qInterarrivalHist.fn(spark, sf)
      .collect()
    val ev = Tables.read(spark, sf, "events")
    val expected = ev.count() - ev.select($"user_id").distinct().count()
    assert(res.map(_.getLong(1)).sum === expected)
    res.foreach { r =>
      val (b, lo, hi) = (r.getInt(0), r.getLong(2), r.getLong(3))
      val floor = if (b == 1) 0L else 1L << (b - 1)
      assert(lo >= floor && hi < (1L << b),
        s"bucket $b holds [$lo, $hi] outside [$floor, ${1L << b})")
    }
  }

  test("malformed csv: quarantine counts exactly the planted lines") {
    val r = graft.sources.Formats.qSourceCsvMalformed.fn(spark, sf)
      .head()
    assert(r.getLong(0) === Tables.read(spark, sf, "orders").count())
    assert(r.getLong(1) === 4L, "all four planted lines quarantined")
  }

  test("drawdown equals brute-force peak-minus-level scan") {
    // E142: per series, max over days of (running peak − level).
    val daily = Tables.read(spark, sf, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(sum($"value".cast("decimal(18,6)")).cast("double").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getDouble(2)))
    val brute = daily.groupBy(_._1).map { case (g, xs) =>
      val sorted = xs.sortBy(_._2.toEpochDay)
      var peak = Double.MinValue
      var best = 0.0
      sorted.foreach { case (_, _, v) =>
        peak = math.max(peak, v); best = math.max(best, peak - v)
      }
      g -> best
    }
    val got = graft.queries.Extras.qDrawdown.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got.keySet === brute.keySet)
    got.foreach { case (g, dd) =>
      assert(math.abs(dd - brute(g)) < 1e-6, s"$g: $dd vs ${brute(g)}")
    }
  }

  test("gini matches brute-force sorted-rank identity and bounds") {
    val spend = Tables.read(spark, sf, "orders")
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast("decimal(18,6)")).cast("double")
        .as("x"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val sorted = spend.sortBy(x => (x._2, x._1)).map(_._2)
    val n = sorted.length
    val sx = sorted.sum
    val six = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val brute = (2 * six - (n + 1) * sx) / (n * sx)
    val r = Aggregates.qGini.fn(spark, sf).head()
    assert(r.getLong(0) === n.toLong)
    assert(math.abs(r.getDouble(1) - brute) < 1e-6)
    assert(r.getDouble(1) >= 0 && r.getDouble(1) < 1)
    assert(r.getDouble(2) > 0 && r.getDouble(2) <= 1)
  }

  test("kmeans step assigns every vector to its true nearest centroid") {
    // E144: brute-force the assignment in the driver and compare the
    // per-cluster sizes; total assignment must conserve the table.
    val vecs = Tables.read(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val cents = vecs.filter(_._1 < 8).sortBy(_._1).map(_._2)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val brute = vecs.map { case (_, v) =>
      cents.zipWithIndex.minBy { case (c, i) => (d2(v, c), i) }._2.toLong
    }.groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    val got = LLMOps.qKmeansStep.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === brute)
    assert(got.values.sum === vecs.length.toLong)
  }

  test("rfm: quartiles balanced, all customers segmented once") {
    // E146: ntile(4) under a total order gives bucket sizes within 1
    // of n/4 on each axis, and the segment rollup conserves the
    // customer population.
    val res = graft.queries.Extras.qRfm.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = Tables.read(spark, sf, "orders")
      .select($"o_custkey").distinct().count()
    assert(res.map(_._2).sum === n)
    assert(res.forall { case (label, _) =>
      label.length == 3 && label.forall(c => c >= '1' && c <= '4')
    })
    // per-axis quartile balance, reconstructed from the segment counts
    (0 until 3).foreach { axis =>
      val byQ = res.groupBy(_._1.charAt(axis))
        .view.mapValues(_.map(_._2).sum)
      byQ.values.foreach(c =>
        assert(math.abs(c - n / 4.0) <= 1.0, s"axis $axis skewed: $byQ"))
    }
  }

  test("rfm: a segment average on exactly half a cent rounds half-up") {
    // 24 customers, one order each on one day, prices falling with the
    // key: every axis orders by custkey, so the segments are 111, 222,
    // 333, 444 with six customers each. Segment 111 totals 10000.65,
    // so its average is exactly 1666.775 and must round to 1666.78;
    // the double quotient 10000.65 / 6 prints as 1666.7749999999999.
    val dir = Tables.scratchDir("graft-rfm-halfcent")
    val prices = Seq("1700.65", "1690.00", "1680.00", "1660.00",
      "1650.00", "1620.00") ++ (7 to 24).map(k => s"${1000 - k}.00")
    val day = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    prices.zipWithIndex.map { case (p, i) =>
      (i + 1L, i + 1L, "F", p.toDouble, day, "1-URGENT")
    }.toDF(Tables.orders.fieldNames.toIndexedSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.queries.Extras.qRfm.fn(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = prices.grouped(6).zip(Seq("111", "222", "333", "444"))
      .map { case (ps, seg) =>
        seg -> (ps.size.toLong, (ps.map(BigDecimal(_)).sum / ps.size)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toMap
    assert(want("111")._2 === 1666.78)
    assert(got === want)
  }

  test("two-proportion z-test matches the driver-side formula") {
    val r = graft.queries.Extras.qAbTest.fn(spark, sf).head()
    val (n1, x1, n2, x2) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (p1, p2) = (x1.toDouble / n1, x2.toDouble / n2)
    val pp = (x1 + x2).toDouble / (n1 + n2)
    val z = (p1 - p2) /
      math.sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2))
    assert(math.abs(r.getDouble(6) - z) < 1e-6)
    assert(r.getBoolean(7) === (math.abs(r.getDouble(6)) > 1.959964))
  }

  test("geo nearest matches brute force within the cell neighborhood") {
    // E148: for every matched customer, the chosen warehouse is the
    // true haversine argmin among suppliers in the 3x3 neighborhood.
    def lat(k: Long) = (k * 37 % 17000) / 100.0 - 85.0
    def lon(k: Long) = (k * 91 % 36000) / 100.0 - 180.0
    def cell(la: Double, lo: Double) =
      (math.floor((la + 90) / 10).toInt, math.floor((lo + 180) / 10).toInt)
    def hav(la1: Double, lo1: Double, la2: Double, lo2: Double) = {
      def r(d: Double) = math.toRadians(d)
      2 * 6371.0 * math.asin(math.sqrt(math.min(1.0,
        math.pow(math.sin(r(la2 - la1) / 2), 2) +
          math.cos(r(la1)) * math.cos(r(la2)) *
          math.pow(math.sin(r(lo2 - lo1) / 2), 2))))
    }
    val sups = Tables.read(spark, sf, "supplier")
      .select($"s_suppkey").collect().map(_.getLong(0))
    val custs = Tables.read(spark, sf, "customer")
      .select($"c_custkey").collect().map(_.getLong(0))
    val brute = custs.flatMap { c =>
      val (cx, cy) = cell(lat(c), lon(c))
      val cands = sups.filter { s =>
        val (sx, sy) = cell(lat(s), lon(s))
        math.abs(sx - cx) <= 1 && math.abs(sy - cy) <= 1
      }
      if (cands.isEmpty) None
      else Some(cands.minBy(s => (BigDecimal(hav(lat(c), lon(c),
        lat(s), lon(s))).setScale(6,
        BigDecimal.RoundingMode.HALF_UP), s)))
    }.groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    val got = graft.queries.Extras.qGeoNearest.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === brute)
  }

  test("table checksum matches the portable fold and detects drift") {
    // E149: the fingerprint equals a driver-side recomputation via the
    // same portable hash, and any single-row mutation changes it.
    import graft.functions.CharFoldHelper
    import org.apache.spark.unsafe.types.UTF8String
    val rows = Tables.read(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus").collect()
      .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}")
    val brute = rows.map(s =>
      CharFoldHelper.fold(UTF8String.fromString(s))).sum
    val got = graft.queries.Extras.qTableChecksum.fn(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got("orders") === ((rows.length.toLong, brute)))
    // drift: replacing one row's status flips the sum
    val drifted = brute -
      CharFoldHelper.fold(UTF8String.fromString(rows.head)) +
      CharFoldHelper.fold(UTF8String.fromString(rows.head + "X"))
    assert(drifted !== brute)
  }

  test("streaming KLL quantiles stay inside their exact bands") {
    val res = graft.streaming.Streams.qStreamQuantile.fn(spark, sf)
      .collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getBoolean(5), s"${r.getString(0)}: n mismatch")
      assert(r.getBoolean(6), s"${r.getString(0)}: p50 out of band")
      assert(r.getBoolean(7), s"${r.getString(0)}: p95 out of band")
    }
  }

  test("calibration: deciles balanced, counts conserved, scores rise") {
    val res = Aggregates.qCalibration.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    val ev = Tables.read(spark, sf, "events")
    assert(res.map(_._2).sum === ev.count())
    val nPos = ev.filter($"event_type" === "purchase").count()
    assert(res.map(r => math.round(r._4 * r._2)).sum === nPos)
    assert(res.length === 10)
    val sizes = res.map(_._2)
    assert(sizes.max - sizes.min <= 1, "ntile balance")
    assert(res.map(_._3).sliding(2).forall(p => p(0) <= p(1) + 1e-9),
      "mean score must be non-decreasing across deciles")
  }

  test("ratio-to-parent shares sum to one at both levels") {
    val res = graft.queries.Extras.qRatioToParent.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(3),
        r.getDouble(4)))
    res.groupBy(_._1).foreach { case (region, xs) =>
      val s = xs.map(_._2).sum
      assert(math.abs(s - 1.0) < 1e-4, s"$region shares sum to $s")
    }
    assert(math.abs(res.map(_._3).sum - 1.0) < 1e-4)
  }

  test("cvar: tail mean dominates the cut, tail size near 5 percent") {
    val byFlag = Tables.read(spark, sf, "lineitem")
      .groupBy($"l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Aggregates.qCvar.fn(spark, sf).collect().foreach { r =>
      val (flag, v, nTail, es) =
        (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3))
      assert(es >= v, s"$flag: expected shortfall $es below VaR $v")
      val n = byFlag(flag)
      assert(nTail >= (0.04 * n).toLong && nTail <= (0.07 * n).toLong,
        s"$flag: tail $nTail of $n outside the 5% neighborhood")
    }
  }

  test("state machine audit matches brute-force grammar check") {
    val evs = Tables.read(spark, sf, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    var vs = 0L; var vp = 0L; var clean = 0L
    val byUser = evs.groupBy(_._1)
    byUser.foreach { case (_, xs) =>
      val sorted = xs.sortBy(x => (x._2, x._3))
      var touched = false
      var uvs = 0L; var uvp = 0L
      sorted.zipWithIndex.foreach { case ((_, _, _, et), i) =>
        if (et == "signup" && i > 0) uvs += 1
        if (et == "purchase" && !touched) uvp += 1
        if (et == "view" || et == "click") touched = true
      }
      vs += uvs; vp += uvp
      if (uvs + uvp == 0) clean += 1
    }
    val r = graft.queries.Extras.qStateMachine.fn(spark, sf).head()
    assert(r.getLong(0) === byUser.size.toLong)
    assert(r.getLong(1) === vs)
    assert(r.getLong(2) === vp)
    assert(r.getLong(3) === clean)
  }

  test("mutual information: non-negative and bounded by entropies") {
    val r = graft.queries.Extras.qMutualInfo.fn(spark, sf).head()
    val (mi, hx, hy, nmi) = (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))
    assert(mi >= -1e-6, s"MI $mi negative")
    assert(mi <= math.min(hx, hy) + 1e-6,
      s"MI $mi exceeds min entropy ${math.min(hx, hy)}")
    assert(nmi >= -1e-6 && nmi <= 1.0 + 1e-6)
  }

  test("markov backtest: accuracy bounded, test pairs conserved") {
    val res = graft.queries.Extras.qMarkovBacktest.fn(spark, sf)
      .collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (nTest, nCorrect, acc) =
        (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nCorrect <= nTest)
      assert(acc >= 0.0 && acc <= 1.0)
    }
    // a majority-class-per-state predictor must beat uniform guessing
    // in aggregate on this 5-symbol alphabet
    val overall = res.map(_.getLong(3)).sum.toDouble /
      res.map(_.getLong(2)).sum
    assert(overall > 1.0 / 5 * 0.5,
      s"backtest accuracy $overall implausibly below chance")
  }

  test("cumulative distinct: curve ends at the true user count") {
    val res = graft.queries.Extras.qCumulativeDistinct.fn(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val users = Tables.read(spark, sf, "events")
      .select($"user_id").distinct().count()
    assert(res.map(_._1).sum === users)
    assert(res.last._2 === users)
    assert(res.map(_._2).sliding(2).forall(p =>
      p.length < 2 || p(0) < p(1)), "curve strictly increases")
  }

  test("time-to-convert: quartiles ordered, counts consistent") {
    val r = graft.queries.Extras.qTimeToConvert.fn(spark, sf).head()
    assert(r.getLong(1) <= r.getLong(0), "converted <= users")
    assert(r.getLong(2) <= r.getLong(1), "inverted <= converted")
    val (p25, p50, p75) =
      (r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(p25 <= p50 && p50 <= p75, s"quartiles disordered $p25 $p50 $p75")
  }

  test("period-over-period: deltas reconstruct the revenue series") {
    val res = graft.queries.Extras.qPeriodOverPeriod.fn(spark, sf)
      .collect().map(r => (r.getDate(0).toLocalDate, r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(res.head._3.isEmpty, "first week has no prior: null delta")
    res.sliding(2).foreach {
      case Array((_, prev, _), (_, cur, Some(d))) =>
        assert(math.abs((cur - prev) - d) < 0.02,
          s"delta $d does not reconstruct $prev -> $cur")
      case _ =>
    }
  }

  test("windowed funnel: conversions bounded by purchases") {
    val res = graft.queries.Extras.qFunnelWindowed.fn(spark, sf)
      .collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    val total = res.map(_.getLong(1)).sum
    assert(total === Tables.read(spark, sf, "events")
      .filter($"event_type" === "purchase").count())
  }

  test("gains table: capture monotone to 1.0, positives conserved") {
    val res = graft.queries.Extras.qGainsLift.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    val nPos = Tables.read(spark, sf, "events")
      .filter($"event_type" === "purchase").count()
    assert(res.map(_._3).sum === nPos)
    assert(math.abs(res.last._4 - 1.0) < 1e-6,
      "cumulative capture must end at 1")
    assert(res.map(_._4).sliding(2).forall(p =>
      p.length < 2 || p(0) <= p(1) + 1e-9), "capture monotone")
  }

  test("ledger: closing reconciles, running path brackets it") {
    // E163: closing = opening + sum(deltas) per customer, recomputed
    // driver-side in BigDecimal; and min <= closing <= max.
    val deltas = Tables.read(spark, sf, "orders")
      .select($"o_custkey", $"o_orderstatus", $"o_totalprice")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.getString(1) == "F") -BigDecimal(r.getDouble(2))
         else BigDecimal(r.getDouble(2))))
    val opening = Tables.read(spark, sf, "customer")
      .select($"c_custkey", $"c_acctbal").collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(1))).toMap
    val brute = deltas.groupBy(_._1).map { case (c, xs) =>
      c -> (opening(c) + xs.map(_._2).sum)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = graft.queries.Extras.qLedgerCarry.fn(spark, sf)
      .collect()
    got.foreach { r =>
      val c = r.getLong(0)
      assert(math.abs(r.getDouble(5) - brute(c)) < 0.011,
        s"customer $c closing ${r.getDouble(5)} vs ${brute(c)}")
      assert(r.getDouble(4) <= r.getDouble(5) + 1e-9 ||
        r.getDouble(4) <= r.getDouble(3) + 1e-9,
        "min balance must not exceed both closing and max")
      assert(r.getDouble(4) <= r.getDouble(3) + 1e-9,
        "min <= max on the running path")
    }
  }

  test("seasonality: indices average to one, ISO weekday convention") {
    val res = graft.queries.Extras.qSeasonality.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(res.map(_._1).toSet.subsetOf((1 to 7).toSet))
    // weighted by day counts, the seasonal index must average to 1
    val totDays = res.map(_._2).sum.toDouble
    val weighted = res.map(r => r._3 * r._2).sum / totDays
    assert(math.abs(weighted - 1.0) < 1e-3,
      s"weighted mean index $weighted != 1")
  }

  test("psi: near zero on a stationary series, bins accounted") {
    // The fixture's value distribution does not shift between time
    // halves, so PSI must be small; excluded bins are reported, not
    // hidden.
    val r = graft.queries.Extras.qPsi.fn(spark, sf).head()
    val psi = r.getDouble(0)
    assert(psi >= -1e-9, "PSI is non-negative by construction")
    assert(psi < 0.25, s"stationary fixture should not flag drift: $psi")
    assert(r.getLong(1) >= 0 && r.getLong(1) <= 10)
  }

  test("head+tail truncation matches driver-side policy application") {
    val texts = Tables.read(spark, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ")).toMap
    val got = LLMOps.qTruncateDocs.fn(spark, sf).collect()
    got.foreach { r =>
      val (id, nIn, out, nOut, trunc) = (r.getLong(0), r.getInt(1),
        r.getString(2), r.getInt(3), r.getBoolean(4))
      val ws = texts(id)
      assert(nIn === ws.length)
      val expected =
        if (ws.length <= 60) ws.mkString(" ")
        else ws.take(40).mkString(" ") + " ... " +
          ws.takeRight(20).mkString(" ")
      assert(out === expected, s"doc $id policy mismatch")
      assert(nOut === math.min(ws.length, 60))
      assert(trunc === (ws.length > 60))
    }
  }

  test("nearest as-of matches brute-force two-sided search") {
    // E169: per purchase, the nearer of (last view <=, first view >)
    // with ties to the past — recomputed in the driver.
    val evs = Tables.read(spark, sf, "events")
      .select($"user_id", unix_micros($"ts"), $"event_id",
        $"event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val views = evs.filter(_._4 == "view").groupBy(_._1)
    var nPrev = 0L; var nNext = 0L
    evs.filter(_._4 == "purchase").foreach { case (u, us, _, _) =>
      val vs = views.getOrElse(u, Array.empty).map(_._2)
      val prev = vs.filter(_ <= us).sorted.lastOption
      val next = vs.filter(_ > us).sorted.headOption
      (prev, next) match {
        case (None, None) =>
        case (Some(_), None) => nPrev += 1
        case (None, Some(_)) => nNext += 1
        case (Some(p), Some(n)) =>
          if (us - p <= n - us) nPrev += 1 else nNext += 1
      }
    }
    val got = graft.queries.Extras.qJoinAsofNearest.fn(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.getOrElse("prev", 0L) === nPrev)
    assert(got.getOrElse("next", 0L) === nNext)
  }

  test("embedding dim stats: full grid, live dimensions") {
    val res = LLMOps.qEmbedDimStats.fn(spark, sf).collect()
    val n = Tables.read(spark, sf, "embeddings").count()
    assert(res.length === 64)
    res.foreach { r =>
      assert(r.getLong(1) === n)
      assert(r.getDouble(3) > 0, s"dim ${r.getInt(0)} collapsed")
      assert(r.getDouble(4) <= r.getDouble(2) + 1e-9 ||
        r.getDouble(4) <= r.getDouble(5),
        "min <= mean <= max ordering")
    }
  }

  test("class weights: shares sum to one, weights rebalance exactly") {
    val res = LLMOps.qClassWeights.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(4)))
    val n = res.map(_._2).sum
    val k = res.length
    assert(n === Tables.read(spark, sf, "embeddings").count())
    assert(math.abs(res.map(_._3).sum - 1.0) < 1e-4)
    // weight * n_c summed over classes == N / k * k == N (balanced)
    val rebalanced = res.map(r => r._4 * r._2).sum
    assert(math.abs(rebalanced - n.toDouble) < n * 1e-4)
  }

  test("normalization dedup merges every planted variant") {
    // E172: with one perturbed variant planted per doc, the sharp
    // expectation is groups == docs and one drop per variant.
    val r = LLMOps.qDedupNormalized.fn(spark, sf).head()
    val n = Tables.read(spark, sf, "documents").count()
    assert(r.getLong(0) === n, "every variant merges with its original")
    assert(r.getLong(1) === 2 * n)
    assert(r.getLong(2) === n)
    assert(r.getLong(3) === n)
  }

  test("mode: pick equals brute-force max count with min-value ties") {
    val rows = Tables.read(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val brute = rows.groupBy(_._1).map { case (g, xs) =>
      val counts = xs.groupBy(_._2).view.mapValues(_.size)
      g -> counts.toSeq.minBy { case (v, c) => (-c, v) }
    }
    val got = Aggregates.qAggMode.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    brute.foreach { case (g, (v, c)) =>
      assert(got(g) === ((v, c.toLong)), s"group $g mode mismatch")
    }
  }

  test("sweep-line concurrency equals brute-force interval counting") {
    // E174: per month, the peak of |{orders with day in [d0, d0+7)}|
    // over the month's days, recomputed directly.
    val starts = Tables.read(spark, sf, "orders")
      .select(to_date($"o_orderdate")).collect()
      .map(_.getDate(0).toLocalDate)
    val allDays = starts.flatMap(d =>
      (0L to 7L).map(d.plusDays)).distinct.sorted(
      Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val brute = allDays.map { d =>
      d -> starts.count(s => !s.isAfter(d) && d.isBefore(s.plusDays(7)))
    }.groupBy(x => (x._1.getYear, x._1.getMonthValue))
      .map { case (m, xs) => m -> xs.map(_._2).max.toLong }
    val got = graft.queries.Extras.qSweepConcurrency.fn(spark, sf)
      .collect().map { r =>
        val m = r.getDate(0).toLocalDate
        (m.getYear, m.getMonthValue) -> r.getLong(1)
      }.toMap
    // compare months where the brute support fully covers the month
    got.foreach { case (m, peak) =>
      brute.get(m).foreach(b =>
        assert(peak === b, s"month $m peak $peak vs brute $b"))
    }
  }

  test("rolling anomaly: warm-up null, scored days match formula") {
    val res = graft.queries.Extras.qRollingAnomaly.fn(spark, sf)
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1.toEpochDay)
    assert(res.take(28).forall(_._3.isEmpty),
      "first 28 days must not be scored")
    val counts = res.map(_._2.toDouble)
    res.zipWithIndex.filter(_._1._3.isDefined).foreach {
      case ((_, x, Some(z)), i) =>
        val win = counts.slice(i - 28, i)
        val mu = win.sum / 28
        val sd = math.sqrt(win.map(v => (v - mu) * (v - mu)).sum / 27)
        assert(math.abs(z - (x - mu) / sd) < 1e-3,
          s"day $i z=$z vs formula ${(x - mu) / sd}")
      case _ =>
    }
  }

  test("percentile ribbon is ordered and conserves daily counts") {
    val res = graft.queries.Extras.qPercentileRibbon.fn(spark, sf)
      .collect()
    assert(res.map(_.getLong(1)).sum ===
      Tables.read(spark, sf, "events").count())
    res.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) &&
        r.getDouble(3) <= r.getDouble(4),
        s"${r.getDate(0)}: ribbon disordered")
    }
  }

  test("degree distribution conserves nodes and bounds degrees") {
    val res = LLMOps.qDegreeDistribution.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(res.nonEmpty)
    res.foreach { case (b, _, lo, hi) =>
      val floor = if (b == 1) 0L else 1L << (b - 1)
      assert(lo >= math.max(1L, floor) && hi < (1L << b),
        s"bucket $b holds [$lo, $hi]")
    }
    // node conservation vs a direct degree computation
    val p = Tables.read(spark, sf, "documents") // force fixture load
    assert(res.map(_._2).sum > 0 && p.count() > 0)
  }

  test("aging buckets partition open orders and their value") {
    val res = graft.queries.Extras.qAgingBuckets.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2)))
    val open = Tables.read(spark, sf, "orders")
      .filter($"o_orderstatus" === "O")
    assert(res.map(_._2).sum === open.count())
    val totalValue = open
      .agg(round(sum($"o_totalprice".cast("decimal(18,6)")), 2)
        .cast("double")).head().getDouble(0)
    assert(math.abs(res.map(_._3).sum - totalValue) < 0.05)
    assert(res.map(_._1).toSet.subsetOf(
      Set("0-30", "31-60", "61-90", "90+")))
  }

  test("quality policy: ordered quartiles, keep subset, unit scores") {
    val r = LLMOps.qQualityPolicy.fn(spark, sf).head()
    assert(r.getLong(1) <= r.getLong(0))
    val (p25, p50, p75) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(p25 <= p50 && p50 <= p75)
    assert(p25 >= -1e-9 && p75 <= 1.0 + 1e-9,
      "min-max normalized composite stays in [0,1]")
  }

  test("bootstrap CI brackets the plain mean, bounds ordered") {
    val r = LLMOps.qBootstrapCi.fn(spark, sf).head()
    assert(r.getLong(0) === 50L)
    val (lo, mid, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(lo <= mid && mid <= hi)
    val mean = Tables.read(spark, sf, "documents")
      .agg(avg($"n_chars")).head().getDouble(0)
    assert(lo <= mean && mean <= hi,
      s"CI [$lo, $hi] must bracket the plain mean $mean")
  }

  test("systematic sample picks exactly every 20th ranked doc") {
    val ids = Tables.read(spark, sf, "documents")
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    val picked = ids.zipWithIndex.collect {
      case (id, i) if (i + 1) % 20 == 7 => id
    }
    val r = LLMOps.qSampleSystematic.fn(spark, sf).head()
    assert(r.getLong(0) === picked.length.toLong)
    assert(r.getLong(1) === picked.sum)
  }

  test("WAP: dirty candidate rejected, published state is the clean batch") {
    val res = graft.sources.Formats.qWriteAuditPublish.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getBoolean(2), r.getLong(3))).sortBy(_._1)
    assert(res.length === 2)
    val (clean, dirty) = (res(0), res(1))
    assert(clean._2 === 0L && clean._3, "clean candidate must publish")
    assert(dirty._2 === 2L && !dirty._3,
      "dirty candidate must be rejected with both violations counted")
    assert(clean._4 === Tables.read(spark, sf, "orders").count(),
      "published state must be exactly the clean batch")
  }

  test("WAP: a repeated customer key does not refuse a clean batch") {
    // The audit left-joins the staged orders to the customer keys; a
    // key listed twice in `customer` must not double that customer's
    // orders into "duplicate PKs".
    val dir = Tables.scratchDir("graft-wap-dupcust")
    Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"))
      .map { case (k, n) => (k, n, 1, 0.0, "BUILDING") }
      .toDF(Tables.customer.fieldNames.toIndexedSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val day = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    Seq((10L, 1L, 5.0), (11L, 1L, 7.5), (12L, 2L, 1.25), (13L, 3L, 2.0))
      .map { case (o, c, p) => (o, c, "F", p, day, "1-URGENT") }
      .toDF(Tables.orders.fieldNames.toIndexedSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val res = graft.sources.Formats.qWriteAuditPublish.fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getBoolean(2), r.getLong(3))).toMap
    assert(res("A_clean") === ((0L, true, 4L)),
      "the clean batch must publish")
    assert(res("B_dirty") === ((2L, false, 4L)),
      "the dirty batch must still be refused for its two violations")
  }

  test("WAP: a run that publishes nothing reports an empty published table") {
    // Each run starts from an empty published location: after a
    // publishing run, a rerun over the same input directory in which
    // an orphan order fails the clean candidate too must report 0
    // published rows, not the earlier run's batch.
    val dir = Tables.scratchDir("graft-wap-nopublish")
    Seq((1L, "a"), (2L, "b"))
      .map { case (k, n) => (k, n, 1, 0.0, "BUILDING") }
      .toDF(Tables.customer.fieldNames.toIndexedSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val day = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    def runWith(orders: Seq[(Long, Long, Double)])
        : Map[String, org.apache.spark.sql.Row] = {
      orders.map { case (o, c, p) => (o, c, "F", p, day, "1-URGENT") }
        .toDF(Tables.orders.fieldNames.toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      graft.sources.Formats.qWriteAuditPublish.fn(spark, dir)
        .collect().map(r => r.getString(0) -> r).toMap
    }
    val first = runWith(Seq((10L, 1L, 5.0), (11L, 2L, 7.5)))
    assert(first("A_clean").getBoolean(2) &&
      first("A_clean").getLong(3) === 2L, "the clean batch must publish")
    val second = runWith(Seq((10L, 1L, 5.0), (11L, 99L, 7.5)))
    assert(second.values.forall(!_.getBoolean(2)),
      "an orphan order must refuse both candidates")
    assert(second.values.forall(_.getLong(3) === 0L),
      s"nothing published, yet: ${second.values.mkString(", ")}")
  }

  test("idempotent ingest: sharp retry and conflict counts") {
    val r = graft.queries.Extras.qIdempotentIngest.fn(spark, sf).head()
    val ev = Tables.read(spark, sf, "events")
    val ids = ev.select($"event_id").distinct().count()
    val lt5 = ev.filter($"event_id" < 5).count()
    val in59 = ev.filter($"event_id" >= 5 && $"event_id" < 10).count()
    assert(r.getLong(0) === ids)
    assert(r.getLong(1) === lt5 + in59, "every planted id has retries")
    assert(r.getLong(2) === in59, "only shifted retries conflict")
  }

  test("top paths: counts descend, sessions conserve events") {
    val res = graft.queries.Extras.qTopPaths.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(res.nonEmpty && res.length <= 10)
    assert(res.map(_._2).sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1)), "top-k must be ordered")
    assert(res.forall(_._1.nonEmpty))
  }

  test("zipf fit: negative slope with a sane determination") {
    val r = graft.queries.Extras.qZipfFit.fn(spark, sf).head()
    assert(r.getLong(0) > 20, "vocabulary present (sf0.001 has ~31)")
    assert(r.getDouble(1) < 0, "rank-frequency slope must be negative")
    assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0, "r2 in [0,1]")
  }

  test("rolling median lies within its trailing window's range") {
    val res = graft.queries.Extras.qRollingMedian.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getDouble(3)))
    res.groupBy(_._1).foreach { case (_, xs) =>
      val sorted = xs.sortBy(_._2.toEpochDay)
      sorted.zipWithIndex.foreach { case ((_, _, _, med), i) =>
        val win = sorted.slice(math.max(0, i - 6), i + 1)
          .map(_._3.toDouble)
        assert(med >= win.min - 1e-9 && med <= win.max + 1e-9,
          s"median $med escapes window [${win.min}, ${win.max}]")
      }
    }
  }

  test("cohort LTV: curves monotone, cohort sizes partition customers") {
    val res = graft.queries.Extras.qCohortLtv.fn(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    res.groupBy(_._1).foreach { case (c, xs) =>
      val curve = xs.sortBy(_._2).map(_._4)
      assert(curve.sliding(2).forall(p =>
        p.length < 2 || p(0) <= p(1) + 1e-9),
        s"cohort $c LTV not monotone: ${curve.toSeq}")
    }
    val sizes = res.groupBy(_._1).map(_._2.head._3).sum
    assert(sizes === Tables.read(spark, sf, "orders")
      .select($"o_custkey").distinct().count())
  }

  test("skew profile: exact totals and ordered statistics") {
    val r = graft.queries.Extras.qSkewProfile.fn(spark, sf).head()
    val ev = Tables.read(spark, sf, "events")
    assert(r.getLong(1) === ev.count())
    assert(r.getLong(0) === ev.select($"user_id").distinct().count())
    assert(r.getDouble(3) <= r.getDouble(4),
      "p50 <= p99 on key frequencies")
    assert(r.getLong(2) >= r.getDouble(4).toLong, "max >= p99")
  }

  test("freshness: anchor table reports zero staleness") {
    val res = graft.queries.Extras.qFreshness.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(2), r.getBoolean(3)))
    assert(res.length === 3)
    assert(res.exists(_._2 == 0), "the anchor table is fresh")
    res.foreach { case (_, lag, flag) =>
      assert(lag >= 0)
      assert(flag === (lag > 7))
    }
  }

  test("dedup telemetry: docs conserved, rates in range") {
    val res = LLMOps.qDedupRateBySource.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(res.map(_._2).sum ===
      Tables.read(spark, sf, "documents").count())
    res.foreach { case (src, docs, uniq, rate, cross) =>
      assert(uniq <= docs, s"$src unique exceeds docs")
      assert(rate >= 0 && rate < 1)
      assert(cross <= uniq, s"$src cross-source exceeds unique")
    }
  }

  test("length profile: tokens conserved, shares sum to one") {
    val res = LLMOps.qLengthProfile.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(5)))
    val docs = Tables.read(spark, sf, "documents")
    assert(res.map(_._2).sum === docs.count())
    assert(math.abs(res.map(_._4).sum - 1.0) < 1e-4)
  }

  test("markov transitions: row-stochastic and pair-conserving") {
    // E121: Σ n over the matrix == (events − users-with-events) — each
    // user contributes exactly count-1 consecutive pairs; each row of
    // the matrix sums to probability 1 (within 6dp rounding of ≤5
    // cells).
    val res = graft.queries.Extras.qMarkovTransitions.fn(spark, sf)
      .collect()
    val ev = Tables.read(spark, sf, "events")
    val expectedPairs = ev.count() -
      ev.select($"user_id").distinct().count()
    assert(res.map(_.getLong(2)).sum === expectedPairs)
    res.groupBy(_.getString(0)).foreach { case (from, rows) =>
      val pSum = rows.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) < 5e-6,
        s"row $from sums to $pSum, not 1")
    }
  }

  test("graph triangles: incidence sum is 3x the triangle total") {
    // E192: every triangle contributes exactly one incidence to each
    // of its three vertices, so Σ n_triangles ≡ 0 (mod 3) and every
    // per-vertex count is positive (zero-triangle parts don't appear).
    val res = graft.queries.Graphs.qGraphTriangles.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(res.nonEmpty, "sf0.001 graph has triangles (measured 3258)")
    assert(res.map(_._2).sum % 3 === 0)
    assert(res.forall(_._2 > 0))
  }

  test("graph bfs: seed at hop 0, layers adjacent, hops bounded") {
    // E193: exactly one node at hop 0 (the min part id), all hops in
    // [0,3], and hop counts never skip a level — a node at hop k>0
    // implies some node at hop k-1 (level-synchronous frontier).
    val res = graft.queries.Graphs.qGraphBfs.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hops = res.map(_._2)
    assert(hops.count(_ == 0L) === 1)
    // the seed (min s1 over canonical s1<s2 edges) IS the smallest
    // node id in the edge set, so nothing reached can undercut it
    assert(res.filter(_._2 == 0L).map(_._1).head === res.map(_._1).min)
    assert(hops.forall(h => h >= 0 && h <= 3))
    (1L to hops.max).foreach { k =>
      assert(hops.contains(k - 1), s"hop ${k - 1} missing below $k")
    }
  }

  test("distribution metrics: KS, tau-b, kappa, ACF stay in range") {
    // E194/E195/E198/E200: each statistic is bounded by construction;
    // a value outside its range means the integer-exact plumbing
    // (cross-multiplied CDFs, tie-corrected pairs, marginal products)
    // broke somewhere the oracle's 6dp rounding might forgive.
    val ks = graft.queries.Metrics.qKsTest.fn(spark, sf).head()
    assert(ks.getDouble(2) >= 0 && ks.getDouble(2) <= 1)
    assert(ks.getLong(0) > 0 && ks.getLong(1) > 0)
    val tau = graft.queries.Metrics.qKendallTau.fn(spark, sf).head()
    assert(math.abs(tau.getDouble(3)) <= 1)
    assert(tau.getLong(1) + tau.getLong(2) <= tau.getLong(0))
    val kap = graft.queries.Metrics.qCohensKappa.fn(spark, sf).head()
    assert(kap.getDouble(2) >= -1 && kap.getDouble(2) <= 1)
    val acf = graft.queries.Metrics.qAcf.fn(spark, sf).collect()
    assert(acf.length === 7)
    acf.foreach(r => assert(math.abs(r.getDouble(2)) <= 1 + 1e-9))
  }

  test("concentration metrics: HHI and Lorenz curve are coherent") {
    // E196: HHI ∈ [1/n, 1]; E197: both cumulative shares are
    // monotone non-decreasing, end at 1, and the spend share never
    // exceeds the population share (Lorenz curve sits below the
    // diagonal for a non-negative variable sorted ascending).
    graft.queries.Metrics.qHhi.fn(spark, sf).collect().foreach { r =>
      val (n, hhi) = (r.getLong(1), r.getDouble(2))
      assert(hhi >= 1.0 / n - 1e-9 && hhi <= 1.0 + 1e-9)
    }
    val lorenz = graft.queries.Metrics.qLorenzCurve.fn(spark, sf)
      .collect().map(r => (r.getDouble(2), r.getDouble(3)))
    assert(math.abs(lorenz.last._1 - 1.0) < 1e-9)
    assert(math.abs(lorenz.last._2 - 1.0) < 1e-9)
    lorenz.sliding(2).foreach { case Array(a, b) =>
      assert(b._1 >= a._1 && b._2 >= a._2 - 1e-9)
    }
    lorenz.foreach { case (pop, spend) =>
      assert(spend <= pop + 1e-6, s"Lorenz above diagonal: $spend > $pop")
    }
  }

  test("f1 threshold sweep: counts conserve and metrics bound") {
    // E201: tp+fn is the positive count at EVERY threshold; tp is
    // non-increasing in the threshold; f1 ∈ [0,1].
    val res = graft.queries.Metrics.qF1Threshold.fn(spark, sf)
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(6)))
    val pos = res.map(r => r._2 + r._4).distinct
    assert(pos.size === 1, s"tp+fn varies across thresholds: $pos")
    res.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, "tp must not increase with threshold")
    }
    res.foreach(r => assert(r._5 >= 0 && r._5 <= 1))
  }

  test("time-series rollups: TWAP bounded, OHLC coherent, JSD in [0,1]") {
    // E202: a weighted mean cannot leave the value range; E203:
    // low ≤ open/close ≤ high and bar counts conserve the events;
    // E205: JS divergence in log2 is bounded by 1 bit.
    graft.queries.Metrics.qTwap.fn(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) > 0, "span must be positive")
      assert(r.getDouble(3) >= 0.01 && r.getDouble(3) <= 490.02)
    }
    val bars = graft.queries.Metrics.qOhlcBars.fn(spark, sf).collect()
    assert(bars.map(_.getLong(6)).sum ===
      Tables.read(spark, sf, "events").count())
    bars.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(l <= o && o <= h)
      assert(l <= c && c <= h)
    }
    val jsd = graft.queries.Metrics.qJsDivergence.fn(spark, sf)
      .head().getDouble(3)
    assert(jsd >= 0 && jsd <= 1 + 1e-9)
  }

  test("business days: bounded by calendar days and never negative") {
    // E204: f(d1)−f(d0) is a SIGNED business-day distance (the
    // synthetic fixture has ship dates on both sides of the order
    // date); its magnitude is bounded by the raw day span, its sign
    // follows the span, and it sits within one work-week of
    // 5·(truncated weeks) — checked against raw datediff per row.
    val rows = graft.queries.Metrics.qBusinessDays.fn(spark, sf)
      .withColumn("span", datediff($"last_ship", $"order_date"))
      .select($"business_days", $"span").collect()
    rows.foreach { r =>
      val (b, s) = (r.getLong(0), r.getInt(1))
      assert(math.abs(b) <= math.abs(s), s"|$b| exceeds span |$s|")
      assert(b * s.toLong >= 0, s"sign of $b disagrees with span $s")
      val base = (s / 7).toLong * 5
      assert(b >= base - 5 && b <= base + 5,
        s"bdays $b not within a work-week of $base (span $s)")
    }
  }

  test("KMV estimate lands near exact; set algebra partitions tokens") {
    // E206: k=256 bottom-k has σ ≈ 1/√(k−2) ≈ 6.3%; 25% is a ~4σ
    // gate that still fails on any hash/kth-min plumbing bug. E207:
    // intersect/except PARTITION the distinct tokens, and union adds
    // exactly the stopwords not already present.
    // sf0.001 has 200 distinct parts < k=256, so the under-full
    // branch must return the EXACT count with zero error
    val kmv = graft.queries.Metrics.qAggKmvDistinct.fn(spark, sf)
      .head()
    assert(kmv.getLong(1) === kmv.getLong(0))
    assert(kmv.getDouble(2) === kmv.getLong(0).toDouble)
    assert(kmv.getDouble(3) === 0.0)
    graft.queries.Metrics.qArraySetops.fn(spark, sf).collect()
      .foreach { r =>
        val (nd, ns, nc, nu) =
          (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
        assert(ns + nc === nd, "stop+content must partition distinct")
        assert(nu === nd + 6 - ns, "union must add missing stopwords")
      }
  }

  test("runs test sizes coherent; QQ map deciles monotone") {
    // E208: every kept day is in exactly one group and runs can't
    // exceed days; E209: type-1 quantiles are monotone in q for both
    // distributions.
    val rt = graft.queries.Metrics.qRunsTest.fn(spark, sf).head()
    val (n1, n2, runs) = (rt.getLong(0), rt.getLong(1), rt.getLong(2))
    assert(n1 + n2 <= 31)
    assert(runs >= 1 && runs <= n1 + n2)
    val qq = graft.queries.Metrics.qQqMap.fn(spark, sf).collect()
    assert(qq.length === 9)
    qq.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(1) >= a.getDouble(1))
      assert(b.getDouble(2) >= a.getDouble(2))
    }
  }

  test("KMV buffer: split-merge equals single-pass, k degrades to min") {
    // E210: the property that makes per-grain rollups re-aggregable —
    // merge(sketch(A), sketch(B)) must be BYTE-identical to
    // sketch(A ∪ B) — plus the KLL-style min-k degradation contract.
    import graft.functions.KmvBuffer
    val vals = (1 to 1000).map(i => (i * 2654435761L) ^ (i << 17))
    val whole = new KmvBuffer(64)
    vals.foreach(whole.add)
    val (l, r) = vals.splitAt(400)
    val left = new KmvBuffer(64); l.foreach(left.add)
    val right = new KmvBuffer(64); r.foreach(right.add)
    left.mergeIn(right)
    assert(left.serialize().toSeq === whole.serialize().toSeq)
    // duplicate-heavy input still dedups: k smallest DISTINCT values
    val dup = new KmvBuffer(64)
    (1 to 10).foreach(_ => vals.take(30).foreach(dup.add))
    assert(dup.set.size === 30)
    assert(KmvBuffer.estimate(dup.serialize()) === 30.0)
    // min-k degradation on merge
    val small = new KmvBuffer(32); vals.foreach(small.add)
    val big = new KmvBuffer(64); vals.take(10).foreach(big.add)
    big.mergeIn(small)
    assert(big.k === 32 && big.set.size === 32)
    // serialization roundtrip
    val rt = KmvBuffer.deserialize(whole.serialize())
    assert(rt.k === whole.k && rt.serialize().toSeq ===
      whole.serialize().toSeq)
  }

  test("corpus analytics: MAD, PMI, novelty, bottom-k, separation") {
    // E211: MAD positive, flag agrees with z. E212: canonical pair
    // order and min support. E213: rates in [0,1] and the first doc
    // is 100% novel. E214: exactly 100 docs, deterministic. E215:
    // pair counts cover C(500,2) and cosines stay in [-1,1].
    graft.queries.Metrics.qAnomalyMad.fn(spark, sf).collect()
      .foreach { r =>
        assert(r.getLong(3) > 0, "MAD must be positive")
        assert(r.getBoolean(5) === (math.abs(r.getDouble(4)) > 3.5))
      }
    graft.queries.Corpus.qPmiCooccur.fn(spark, sf).collect()
      .foreach { r =>
        assert(r.getString(0) < r.getString(1), "pairs canonical t1<t2")
        assert(r.getLong(2) >= 5)
      }
    val nov = graft.queries.Corpus.qNgramNovelty.fn(spark, sf)
      .collect()
    nov.foreach(r =>
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1))
    val firstDoc = nov.map(r => (r.getLong(0), r.getDouble(3)))
      .minBy(_._1)
    assert(firstDoc._2 === 1.0, "earliest doc must be fully novel")
    val bk = graft.queries.Corpus.qSampleBottomk.fn(spark, sf)
      .collect()
    assert(bk.map(_.getLong(0)).distinct.length === 100)
    val sep = graft.queries.Corpus.qEmbedSeparation.fn(spark, sf)
      .collect()
    assert(sep.map(_.getLong(2)).sum === 500L * 499 / 2)
    sep.foreach(r =>
      assert(math.abs(r.getDouble(3)) <= 1 + 1e-9))
  }

  test("survival curve monotone; Tukey fences and WINDOW clause sane") {
    // E216: S(t) is a product of factors in (0,1] so it must be
    // non-increasing, start below 1, stay in [0,1], and n_risk must
    // shrink as t grows. E218: Q1 ≤ Q3 and outliers can't cover the
    // group. E217: exactly 3 rows per event type, ranks 1..3.
    val km = graft.queries.Metrics.qSurvivalKm.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(km.nonEmpty)
    km.foreach { case (_, nRisk, s) =>
      assert(s >= 0 && s <= 1); assert(nRisk > 0)
    }
    km.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 + 1e-12, "survival must be non-increasing")
      assert(b._2 < a._2, "risk set must shrink with t")
    }
    graft.queries.Metrics.qTukeyFences.fn(spark, sf).collect()
      .foreach { r =>
        assert(r.getDouble(2) <= r.getDouble(3))
        assert(r.getLong(4) + r.getLong(5) < r.getLong(1))
      }
    val wc = graft.queries.Metrics.qSqlWindowClause.fn(spark, sf)
      .collect()
    val byType = wc.groupBy(_.getString(0))
    byType.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === Seq(1, 2, 3))
    }
  }

  test("multiline JSON, BPE merges, and multi-agg pivot conserve") {
    // E222: the pretty-printed array file reads back row-identical to
    // the nation source of truth. E223: merge candidates are exactly
    // two chars with descending weights. E224: the three cnt columns
    // partition the orders table.
    val mj = graft.sources.Formats.qSourceJsonMultiline.fn(spark, sf)
      .collect()
    val nat = Tables.read(spark, sf, "nation")
      .orderBy($"n_nationkey").collect()
    assert(mj.length === nat.length)
    assert(mj.map(_.getString(1)).toSeq ===
      nat.map(_.getString(1)).toSeq)
    val bpe = graft.queries.Corpus.qBpeMergeStep.fn(spark, sf)
      .collect()
    assert(bpe.length === 10)
    assert(bpe.forall(_.getString(0).length === 2))
    bpe.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) <= a.getLong(1))
    }
    val pv = graft.queries.Metrics.qPivotMultiAgg.fn(spark, sf)
      .collect()
    val totalCnt = pv.map(r =>
      r.getLong(2) + r.getLong(4) + r.getLong(6)).sum
    assert(totalCnt === Tables.read(spark, sf, "orders").count())
  }

  test("streaming KMV equals the batch sketch per source, bit-exact") {
    // E225 ↔ E210 (§5.2.6 streaming↔batch equivalence): the custom
    // aggregate's serialize/merge path through the state store must
    // land on the SAME deterministic sketch state the batch path
    // builds — per-source rows identical including the estimate.
    val streamRows = Streams.qStreamKmv.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sortBy(_._1)
    val batchRows = graft.queries.Metrics.qAggKmvMerge.fn(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getDouble(3)))
      .filter(_._1 != "ALL").sortBy(_._1)
    assert(streamRows.toSeq === batchRows.toSeq)
  }

  test("minhash accuracy audit bounded; rolling slope full-window only") {
    // E227: both similarity means and the MAE live in [0,1], deciles
    // in [0,10], and the audit must actually have candidate pairs at
    // sf0.001 (the dense fixture). E228: exactly days−6 slopes, all
    // finite.
    val audit = LLMOps.qMinhashAccuracy.fn(spark, sf).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 10)
      assert(r.getLong(1) > 0)
      Seq(2, 3, 4).foreach(i =>
        assert(r.getDouble(i) >= 0 && r.getDouble(i) <= 1))
    }
    val slopes = graft.queries.Metrics.qRollingSlope.fn(spark, sf)
      .collect()
    val nDays = Tables.read(spark, sf, "events")
      .select(to_date($"ts")).distinct().count()
    assert(slopes.length === nDays - 6)
    slopes.foreach(r => assert(!r.getDouble(2).isNaN))
  }

  test("temperature sampling: targets budget, small sources favored") {
    // E229: Σ targets = the 200-doc budget; the keep RATE
    // min(1, target/c) is non-increasing in source size (α<1 favors
    // small sources — the point of temperature scaling); draws never
    // exceed the source.
    val rows = graft.queries.Corpus.qSampleTemperature.fn(spark, sf)
      .collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getLong(4)))
    assert(math.abs(rows.map(_._2).sum - 200.0) < 1e-3)
    rows.foreach { case (n, _, s) => assert(s <= n) }
    val bySize = rows.sortBy(_._1)
    bySize.sliding(2).foreach { case Array(a, b) =>
      val (ra, rb) = (math.min(1.0, a._2 / a._1), math.min(1.0, b._2 / b._1))
      assert(ra >= rb - 1e-9, s"rate must not grow with size: $a $b")
    }
  }

  test("histograms and growth decomposition conserve their inputs") {
    // E232/E235: equi-depth bins hold n±1 rows and cover all orders;
    // the 2D grid's cells sum to the order count and each decile's
    // row shares to 1. E236: new+returning = active per week, and
    // week 1 is all-new. E234: volatility is positive and finite.
    val eq = graft.queries.Metrics.qHistogramEquiDepth.fn(spark, sf)
      .collect()
    val nOrders = Tables.read(spark, sf, "orders").count()
    assert(eq.map(_.getLong(1)).sum === nOrders)
    assert(eq.map(_.getLong(1)).max - eq.map(_.getLong(1)).min <= 1)
    val grid = graft.queries.Metrics.qHistogram2d.fn(spark, sf)
      .collect()
    assert(grid.map(_.getLong(2)).sum === nOrders)
    grid.groupBy(_.getInt(0)).foreach { case (_, cells) =>
      assert(math.abs(cells.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    }
    val nvr = graft.queries.Metrics.qNewVsReturning.fn(spark, sf)
      .collect()
    nvr.foreach(r =>
      assert(r.getLong(2) + r.getLong(3) === r.getLong(1)))
    assert(nvr.head.getLong(3) === 0L, "first week must be all-new")
    val vol = graft.queries.Metrics.qVolatility.fn(spark, sf).head()
    assert(vol.getDouble(1) > 0 && !vol.getDouble(1).isNaN)
    assert(vol.getDouble(2) <= 0 || nvr.nonEmpty)
  }

  test("ANN recall audit: 50 probes, recall in [0,1], hits bounded") {
    // Every recall row: one row per probe vector; n_hits ≤ 3;
    // recall = hits/3; the mean recall must be > 0 (even the label-cell
    // IVF can't miss EVERYTHING — labels correlate with geometry in the
    // fixture); and each probe's n_hits equals the intersection,
    // computed here on the driver, of that tier's registered top-3
    // with an exact top-3 computed here from the raw vectors.
    val vecs = Tables.read(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    val norm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val exact = vecs.filter(_._1 < 50).map { case (q, pv) =>
      q -> vecs.filter(_._1 != q).map { case (id, v) =>
        val c = dot(pv, v) / (norm(q) * norm(id))
        (BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, id)
      }.sortBy { case (c, id) => (-c, id) }.take(3).map(_._2).toSet
    }.toMap
    val tiers = Seq(
      "q_sim_ann_recall" -> "q_sim_ann_ivf",
      "q_sim_ann_kmeans_recall" -> "q_sim_ann_kmeans",
      "q_sim_ann_twolevel_recall" -> "q_sim_ann_twolevel",
      "q_sim_ann_pq_recall" -> "q_sim_ann_pq",
      "q_sim_ann_ivf_pq_recall" -> "q_sim_ann_ivf_pq",
      "q_sim_ann_scout_recall" -> "q_sim_ann_scout")
    tiers.foreach { case (recallRow, topRow) =>
      val rows = SparkEntry.queries(recallRow)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.map(_._1).toSeq === (0L until 50L), recallRow)
      val top = SparkEntry.queries(topRow)(spark, sf)
        .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      rows.foreach { case (q, h, rec) =>
        assert(h >= 0 && h <= 3)
        // recall ships rounded to 6dp, so compare at that resolution
        assert(math.abs(rec - h / 3.0) < 5e-7)
        val want = top.getOrElse(q, Set.empty[Long]).intersect(exact(q))
        assert(h === want.size.toLong, s"$recallRow probe $q: n_hits " +
          s"$h, |$topRow ∩ exact| = ${want.size}")
      }
      assert(rows.map(_._2).sum > 0, s"$recallRow recovered nothing")
    }
  }

  test("streaming agg recovers exactly-once across a restart") {
    // §5.2.6 reliability pin no query can express: a complete-mode
    // aggregation processes half the input, STOPS, more files land,
    // and a NEW query restarted from the same checkpoint must resume
    // the state store and produce exactly the single-pass batch
    // answer — no dropped pre-restart state, no double counting.
    val in = Tables.scratchDir("graft-restart-in")
    val ckpt = Tables.scratchDir("graft-restart-ckpt")
    val events = Tables.read(spark, sf, "events")
    events.filter($"event_id" % 2 === 0).write
      .mode("overwrite").parquet(s"$in/batch1")
    def startQuery(name: String) = {
      val s = spark.readStream.schema(events.schema)
        .parquet(s"$in/*")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      s.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = startQuery("restart_phase1")
    q1.processAllAvailable(); q1.stop()
    events.filter($"event_id" % 2 === 1).write
      .mode("overwrite").parquet(s"$in/batch2")
    val q2 = startQuery("restart_phase2")
    q2.processAllAvailable(); q2.stop()
    val streamed = spark.table("restart_phase2")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val batch = events.groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(streamed.toSeq === batch.toSeq,
      "restarted stream must equal the one-pass batch aggregate")
  }

  test("fan-out profile conserves rows; revenue bridge sums exactly") {
    // E239: Σ k·n_orders over the histogram = the lineitem count and
    // row shares sum to 1; E240: the two effects reconstruct Δrev to
    // the cent (price_mix is the residual by definition).
    val fp = graft.queries.Metrics.qFanoutProfile.fn(spark, sf)
      .collect()
    assert(fp.map(_.getLong(2)).sum ===
      Tables.read(spark, sf, "lineitem").count())
    assert(math.abs(fp.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    graft.queries.Metrics.qRevenueBridge.fn(spark, sf).collect()
      .foreach { r =>
        val (d, v, p) =
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))
        assert(math.abs(d - (v + p)) < 0.011,
          s"bridge must reconstruct d_rev: $d vs ${v + p}")
      }
  }

  test("survivorship takes latest non-null per field independently") {
    // E242: a field nulled on the group's latest doc must survive
    // from an EARLIER doc — and the two fields decide independently.
    // Hand-check: every doc_id divisible by 12 has BOTH fields
    // stale; if its group is a singleton both survive as null.
    val rows = graft.queries.Metrics.qSurvivorship.fn(spark, sf)
      .collect()
    val docs = Tables.read(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum === docs)
    rows.filter(_.getLong(1) == 1).foreach { r =>
      val id = r.getLong(0)
      assert((r.isNullAt(2)) === (id % 3 == 0),
        s"singleton $id source-null rule")
      assert((r.isNullAt(3)) === (id % 4 == 0),
        s"singleton $id lang-null rule")
    }
  }

  test("seasonal decomposition reconstructs y exactly per row") {
    // E220's defining identity: y = trend + seasonal + residual holds
    // ROW-WISE by construction (residual is defined as the difference
    // of the same doubles) — any drift means the components were
    // computed from different frames.
    graft.queries.Metrics.qSeasonalDecompose.fn(spark, sf).collect()
      .foreach { r =>
        val y = r.getLong(1).toDouble
        val sum = r.getDouble(2) + r.getDouble(3) + r.getDouble(4)
        assert(math.abs(y - sum) < 1e-9, s"identity broke: $y vs $sum")
      }
  }

  test("graph clustering and assortativity stay in their ranges") {
    // E248: a local clustering coefficient is a fraction of realized
    // neighbor pairs — [0,1] by definition — and triangle incidence
    // cannot exceed the pair count deg·(deg−1)/2 it is normalized by.
    // E249: assortativity is a Pearson correlation, so [−1,1].
    val cc = graft.queries.Graphs.qGraphClustering.fn(spark, sf)
      .collect()
    assert(cc.nonEmpty)
    cc.foreach { r =>
      val (deg, tri, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(deg >= 2)
      assert(tri * 2 <= deg * (deg - 1), s"tri $tri exceeds pairs")
      assert(c >= 0.0 && c <= 1.0, s"coefficient $c out of range")
    }
    val as = graft.queries.Graphs.qGraphAssortativity.fn(spark, sf)
      .head()
    assert(as.getLong(0) > 0)
    assert(math.abs(as.getDouble(1)) <= 1.0)
  }

  test("moments cover the table and respect the kurtosis floor") {
    // E250: group sizes cover the table; excess kurtosis has the
    // theoretical floor g2 ≥ −2 (attained by a two-point mass).
    val ev = Tables.read(spark, sf, "events")
    val mo = graft.queries.Metrics.qAggMoments.fn(spark, sf).collect()
    assert(mo.map(_.getLong(1)).sum === ev.count())
    mo.foreach { r =>
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
      assert(r.getDouble(3) >= -2.0, "kurtosis below theoretical floor")
    }
  }

  test("k-core is a fixpoint and linkage stays blocked") {
    // E253: after the bounded peel, every surviving vertex holds
    // degree ≥ 3 INSIDE the survivor subgraph — which certifies the
    // 10 rounds actually reached the fixpoint (if they hadn't, some
    // vertex would sit below k and the next peel would change the
    // set). E254: candidates obey the block (same first token), the
    // distance band, and the canonical a<b order.
    val core = graft.queries.Graphs.qGraphKcore.fn(spark, sf)
      .collect()
    assert(core.nonEmpty)
    assert(core.forall(_.getLong(1) >= 3L),
      "peel did not converge: a survivor sits below k=3")
    val lk = graft.queries.Metrics.qLinkBlocking.fn(spark, sf)
      .collect()
    lk.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      assert(a.split(" ").head === b.split(" ").head, "block broken")
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 3)
    }
  }

  test("SES forecast stays convex in its series range") {
    // E255: an exponential smoothing level is a convex combination
    // of observed values, so it cannot leave the series' [min, max].
    val daily = Tables.read(spark, sf, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("y"))
      .groupBy($"event_type")
      .agg(min($"y").as("lo"), max($"y").as("hi")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.queries.Metrics.qForecastSes.fn(spark, sf).collect()
      .foreach { r =>
        val (lo, hi) = daily(r.getString(0))
        val f = r.getDouble(3)
        assert(f >= lo && f <= hi, s"SES $f left [$lo, $hi]")
      }
  }

  test("transitions conserve and lateral view keeps planted empties") {
    // E259: each user with k events contributes exactly k−1
    // transitions, dwell is non-negative (the timeline is ordered).
    // E257: the planted empty-array rows (partkey % 100 = 0) surface
    // as the 'none' bucket with exactly their count.
    val ev = Tables.read(spark, sf, "events")
    val td = graft.queries.Metrics.qTransitionDwell.fn(spark, sf)
      .collect()
    val nUsers = ev.select($"user_id").distinct().count()
    assert(td.map(_.getLong(2)).sum === ev.count() - nUsers)
    td.foreach(r => assert(r.getDouble(3) >= 0))
    val lv = graft.queries.Metrics.qSqlLateralView.fn(spark, sf)
      .collect()
    val planted = Tables.read(spark, sf, "part")
      .filter($"p_partkey" % 100 === 0).count()
    assert(lv.find(_.getString(0) == "none")
      .map(_.getLong(1)).contains(planted))
  }

  test("arg extremes, format scalars, interval overlap hold shape") {
    // E260: one row per user; first/last come from the event-type
    // alphabet (an out-of-alphabet value means the ordering key
    // picked a wrong row). E261: the printf spec round-trips as a
    // parseable ID; lpad pads to exactly 12. E262: an overlap needs
    // at least 1 shared day by the inclusive-bounds definition, and
    // a customer's pair count is bounded by C(n_orders, 2).
    val alphabet =
      Set("view", "click", "signup", "purchase", "error")
    val ax = graft.queries.Metrics.qAggArgExtremes.fn(spark, sf)
      .collect()
    val nUsers = Tables.read(spark, sf, "events")
      .select($"user_id").distinct().count()
    assert(ax.length.toLong === nUsers)
    ax.foreach { r =>
      assert(alphabet(r.getString(2)) && alphabet(r.getString(3)))
    }
    graft.queries.Metrics.qScalarFormat.fn(spark, sf).collect()
      .foreach { r =>
        assert(r.getString(1).matches("C-\\d{6}:[0-9a-f]+"))
        assert(r.getString(2).length === 12)
        assert(r.getString(4).startsWith("***"))
      }
    val ov = graft.queries.Metrics.qJoinIntervalOverlap.fn(spark, sf)
      .collect()
    assert(ov.nonEmpty)
    val ordersPerCust = Tables.read(spark, sf, "orders")
      .groupBy($"o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ov.foreach { r =>
      val n = ordersPerCust(r.getLong(0))
      assert(r.getLong(1) <= n * (n - 1) / 2)
      assert(r.getLong(2) >= 1)
    }
  }

  test("dynamic pivot conserves the orders table") {
    // E263: the pivoted counts partition the orders table (absent
    // status combos canonicalize to 0, never NULL).
    val pv = graft.queries.Metrics.qPivotDynamic.fn(spark, sf)
      .collect()
    assert(pv.map(r => (1 until r.length)
        .map(i => r.getLong(i)).sum).sum ===
      Tables.read(spark, sf, "orders").count())
  }

  test("PCA step is near-unit; readability and codec rows cohere") {
    // E265: the output is a normalized vector — Σ loading² = 1 up to
    // the documented milli-quantized norm (±2e-3). E266: counts are
    // positive and every doc contributes ≥1 sentence by the clamp.
    // E264: the mixed-codec store conserves events and both codecs
    // were verified on disk from the footers.
    val pca = graft.queries.Corpus.qPcaPowerStep.fn(spark, sf)
      .collect()
    assert(pca.length === 64)
    val norm2 = pca.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(norm2 - 1.0) < 2e-3, s"norm² was $norm2")
    val rd = graft.queries.Corpus.qTextReadability.fn(spark, sf)
      .collect()
    assert(rd.nonEmpty)
    rd.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0 && r.getLong(3) > 0)
      assert(!r.getDouble(4).isNaN)
    }
    val cz = graft.sources.Formats.qCodecParquetZstd.fn(spark, sf)
      .collect()
    assert(cz.forall(_.getBoolean(4)), "codec footer check failed")
    assert(cz.map(_.getLong(1)).sum ===
      Tables.read(spark, sf, "events").count())
  }

  test("backfill union covers both sides; backtest errors bounded") {
    // E267: every event type reports BOTH a backfill and a stream
    // partial, and their counts add up to the full table — the kappa
    // handoff conserves. E268: one evaluation per day after the
    // first, and an SES forecast of a bounded series cannot miss by
    // more than the series' range.
    val bu = graft.streaming.Streams.qStreamBackfillUnion
      .fn(spark, sf).collect()
    val byType = bu.groupBy(_.getString(0))
    byType.foreach { case (t, rows) =>
      assert(rows.map(_.getString(3)).toSet ===
        Set("backfill", "stream"), s"$t missing a side")
    }
    assert(bu.map(_.getLong(1)).sum ===
      Tables.read(spark, sf, "events").count())
    val bt = graft.queries.Metrics.qForecastBacktest.fn(spark, sf)
      .collect()
    val span = Tables.read(spark, sf, "events")
      .groupBy($"event_type", to_date($"ts")).count()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("days"),
        (max($"count") - min($"count")).as("range"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    bt.foreach { r =>
      val (days, range) = span(r.getString(0))
      assert(r.getLong(1) === days - 1)
      assert(r.getDouble(2) > 0 && r.getDouble(2) <= range)
    }
  }

  test("native as-of join equals the tagged-union window form") {
    // E272 ↔ E102 semantics pin, engine-side: the custom operator's
    // full output must equal the window formulation computed here on
    // the same session — including purchases with NO prior view
    // (nulls) and exact-timestamp ties. Row-for-row, not just counts.
    val ev = Tables.read(spark, sf, "events")
    val native = graft.queries.Scale.qJoinAsofNative.fn(spark, sf)
      .collect().map(r => (r.getLong(1), Option(r.get(2)),
        Option(r.get(3)))).sortBy(_._1)
    val tagged = ev.filter($"event_type".isin("view", "purchase"))
      .select($"user_id", $"ts", $"event_id",
        when($"event_type" === "view", 0).otherwise(1).as("kind"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"kind", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val windowed = tagged
      .withColumn("pv",
        last(when($"kind" === 0, $"event_id"), ignoreNulls = true)
          .over(w))
      .withColumn("pus",
        last(when($"kind" === 0, unix_micros($"ts")),
          ignoreNulls = true).over(w))
      .filter($"kind" === 1)
      .select($"event_id", $"pv",
        (unix_micros($"ts") - $"pus").as("gap"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)),
        Option(r.get(2)))).sortBy(_._1)
    assert(native.length === windowed.length)
    native.zip(windowed).foreach { case (a, b) =>
      assert(a === b, s"as-of divergence: $a vs $b")
    }
    assert(native.exists(_._2.isEmpty),
      "fixture should include a no-prior-view purchase (null path)")
  }

  test("language confusion grid partitions the corpus") {
    // E271: cell counts cover every document exactly once, and each
    // declared label's shares sum to 1.
    val lc = graft.queries.Metrics.qLangConfusion.fn(spark, sf)
      .collect()
    assert(lc.map(_.getLong(2)).sum ===
      Tables.read(spark, sf, "documents").count())
    lc.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-5)
    }
  }

  test("lexical richness: hapax within types within tokens") {
    // E251: the three counts nest by definition (a hapax is a type;
    // a type occurs at least once), and both ratios are proper
    // fractions of their denominators.
    val hx = graft.queries.Corpus.qTextHapax.fn(spark, sf).collect()
    assert(hx.nonEmpty)
    hx.foreach { r =>
      val (tok, typ, hap) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(hap <= typ && typ <= tok)
      assert(r.getDouble(4) > 0 && r.getDouble(4) <= 1)
      assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 1)
    }
  }

  test("damerau-levenshtein is the TRUE variant and bounded by lev") {
    // E274: the constants DuckDB's damerau_levenshtein returned when
    // probed (2026-08-14) — 'CA'→'ABC' = 2 is the discriminator: the
    // optimal-string-alignment shortcut returns 3 there.
    import graft.functions.DamerauLevenshteinHelper.{distance => dl}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(dl(u("CA"), u("ABC")) === 2)
    assert(dl(u("ab"), u("ba")) === 1)
    assert(dl(u("abc"), u("ca")) === 2)
    assert(dl(u(""), u("abc")) === 3 && dl(u(""), u("")) === 0)
    assert(dl(u("kitten"), u("sitting")) === 3)
    // on the fixture grid: dl ≤ lev universally (a transposition is
    // two substitutions), and the fixture must actually exercise the
    // transposition path somewhere or the row proves nothing
    val rows = graft.queries.Scalars.qScalarDamerau.fn(spark, sf)
      .collect()
    rows.foreach(r => assert(r.getInt(1) <= r.getInt(2)))
    assert(rows.exists(_.getBoolean(3)),
      "fixture has no transposition-dominated pair")
  }

  test("apportionment hits the total exactly, off floors by at most 1") {
    // E275: Hamilton's method invariants — Σseats = 1000 exactly, and
    // every nation gets floor(quota) or floor(quota)+1, never else.
    val rows = graft.queries.Metrics.qAllocApportion.fn(spark, sf)
      .collect()
    assert(rows.map(_.getLong(2)).sum === 1000L)
    val totalCust = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val fl = r.getLong(1) * 1000L / totalCust
      assert(r.getLong(2) === fl || r.getLong(2) === fl + 1)
    }
  }

  test("clamped balance never reports negative and conserves orders") {
    // E276: the clamp makes every per-customer terminal balance ≥ 0,
    // and the per-nation order counts partition the orders table.
    val rows = graft.queries.Metrics.qBalanceClamped.fn(spark, sf)
      .collect()
    rows.foreach(r => assert(r.getLong(3) >= 0L))
    assert(rows.map(_.getLong(2)).sum ===
      Tables.read(spark, sf, "orders").count())
  }

  test("range-join binning rewrite is row-equivalent to the naive plan") {
    // E273: the optimizer rewrite must be invisible in the RESULT —
    // run the identical naive query with the rule on and off and
    // require row-for-row equality (the strict-vs-inclusive bounds,
    // multi-bin explode, and bin-boundary ties all live in here).
    def rows() = graft.queries.Scale.qJoinRangeAuto.fn(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1.getTime)
    val auto = rows()
    spark.conf.set(graft.plans.RangeJoinBinning.BinConf, "0")
    val naive = try rows()
      finally spark.conf.unset(graft.plans.RangeJoinBinning.BinConf)
    assert(auto.nonEmpty && auto.toSeq === naive.toSeq)
    // and a tiny bin (60 s → up to 31 bins per 30-min interval)
    // exercises long explode sequences without changing the answer
    spark.conf.set(graft.plans.RangeJoinBinning.BinConf, "60")
    val fine = try rows()
      finally spark.conf.unset(graft.plans.RangeJoinBinning.BinConf)
    assert(fine.toSeq === auto.toSeq)
  }

  test("Mann-Whitney U matches the brute-force pair count") {
    // E278: U1 literally counts (purchase, click) pairs where
    // purchase wins, +0.5 per tie — recompute it pairwise from the
    // collected sf0.001 values and require exact equality with the
    // rank-sum form (the two derivations share no code path).
    val r = graft.queries.Metrics.qMannWhitney.fn(spark, sf).head()
    val vs = Tables.read(spark, sf, "events")
      .filter($"event_type".isin("purchase", "click"))
      .select($"event_type", $"value").collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    val p = vs.collect { case ("purchase", v) => v }
    val c = vs.collect { case ("click", v) => v }
    val u1 = p.iterator.map(a =>
      c.count(a > _) + 0.5 * c.count(a == _)).sum
    assert(r.getLong(0) === p.length.toLong)
    assert(r.getLong(1) === c.length.toLong)
    assert(math.abs(r.getDouble(2) - u1) < 1e-6,
      s"rank-sum U=${r.getDouble(2)} pairwise U=$u1")
  }

  test("ANOVA decomposition: F positive, eta_sq in (0,1)") {
    // E279: eta² = SSB/SStot must land strictly inside (0,1) on data
    // with any between-group signal, and F relates to it by the
    // fixed (k, N) degrees of freedom.
    val r = graft.queries.Metrics.qAnovaF.fn(spark, sf).head()
    val (k, n) = (r.getLong(0), r.getLong(1))
    val (f, eta) = (r.getDouble(2), r.getDouble(3))
    assert(k === 5L)
    assert(eta > 0 && eta < 1)
    val fFromEta = (eta / (k - 1)) / ((1 - eta) / (n - k))
    assert(math.abs(f - fFromEta) / f < 1e-4)
  }

  test("CCF at lag 0 is the Pearson r of the two daily series") {
    // E280: the full-series denominator normalization makes r(0)
    // exactly Pearson; and r(k) must stay within [-1, 1] while pair
    // counts shrink by |k| off the 30-day calendar.
    val rows = graft.queries.Metrics.qCcf.fn(spark, sf).collect()
    assert(rows.length === 15)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
      assert(r.getLong(1) === 30L - math.abs(r.getInt(0)))
    }
    val daily = Tables.read(spark, sf, "events")
      .filter($"event_type".isin("purchase", "click"))
      .groupBy(to_date($"ts")).agg(
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)),
        sum(when($"event_type" === "click", 1L).otherwise(0L)))
      .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    val (xs, ys) = (daily.map(_._1), daily.map(_._2))
    def dev(a: Array[Double]) = { val m = a.sum / a.length; a.map(_ - m) }
    val (dx, dy) = (dev(xs), dev(ys))
    val pearson = dx.zip(dy).map(t => t._1 * t._2).sum /
      math.sqrt(dx.map(v => v * v).sum * dy.map(v => v * v).sum)
    val r0 = rows.find(_.getInt(0) == 0).get.getDouble(2)
    assert(math.abs(r0 - pearson) < 1e-6)
  }

  test("FIFO allocation conserves demand and never over-matches supply") {
    // E282: matched + unmatched = demand per part, and matched can
    // never exceed the part's total supply (interval intersection is
    // bounded by both axes).
    val rows = graft.queries.Metrics.qFifoAllocation.fn(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val supply = Tables.read(spark, sf, "lineitem")
      .filter($"l_returnflag" =!= "R")
      .groupBy($"l_partkey").agg(sum($"l_quantity").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val (matched, unmatched, demand) =
        (r.getDouble(4), r.getDouble(5), r.getDouble(3))
      assert(math.abs(matched + unmatched - demand) < 1e-6)
      assert(matched <= supply.getOrElse(r.getLong(0), 0.0) + 1e-6)
      assert(unmatched >= -1e-6)
    }
  }

  test("bitemporal pick never exceeds the customer's full-history spend") {
    // E283: the as-of-(V,T) belief is a prefix of the valid-time
    // ledger, so it is bounded by the all-time total; and every
    // reported version must itself satisfy both cutoffs.
    val rows = graft.queries.Extras.qBitemporal.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val totals = Tables.read(spark, sf, "orders")
      .groupBy($"o_custkey")
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100)
        .cast("long")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v = java.sql.Date.valueOf("1998-06-30")
    rows.foreach { r =>
      assert(!r.getDate(1).after(v))
      assert(r.getLong(3) <= totals(r.getLong(0)))
    }
  }

  test("Theil T and L are nonnegative and zero only under equality") {
    // E284: both indices are ≥ 0 (Jensen), and on the fixture's
    // skewed spend strictly positive for every segment.
    val rows = graft.queries.Metrics.qTheilIndex.fn(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0, s"theil_t ${r.getString(0)}")
      assert(r.getDouble(3) > 0, s"theil_l ${r.getString(0)}")
    }
  }

  test("Holt fold matches an in-test Scala recursion") {
    // E285: re-run the recursion in plain Scala over the collected
    // daily series — the engine's aggregate() fold must agree to the
    // rounded output digit.
    val rows = graft.queries.Metrics.qForecastHolt.fn(spark, sf)
      .collect()
    val daily = Tables.read(spark, sf, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("y"))
      .orderBy($"event_type", $"d").collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val ys = daily(r.getString(0)).map(_.getLong(2).toDouble)
      var (l, b) = (ys.head, 0.0)
      ys.tail.foreach { y =>
        val nl = 0.3 * y + 0.7 * (l + b)
        val nb = 0.4 * (nl - l) + 0.6 * b
        l = nl; b = nb
      }
      assert(r.getInt(1) === ys.length)
      assert(math.abs(r.getDouble(2) - (l + b)) < 1e-6)
      assert(math.abs(r.getDouble(3) - b) < 1e-6)
    }
  }

  test("prefix filter thins candidates without losing a qualifying pair") {
    // E286: the whole point of PPJoin — candidate pairs from prefix
    // tokens must be a strict subset of the naive all-pairs candidate
    // set, yet the verified result must equal the naive τ-join (the
    // oracle already proves equality at sf0.01; re-prove on sf0.001
    // against an in-test naive join, and measure the thinning).
    val tok = Tables.read(spark, sf, "lineitem")
      .select($"l_orderkey".as("k"), $"l_partkey".as("t")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sets = tok.groupBy(_._1).map { case (k, ts) =>
      k -> ts.map(_._2).toSet }
    val naive = for {
      (k1, s1) <- sets.toSeq; (k2, s2) <- sets.toSeq if k1 < k2
      c = (s1 & s2).size if c > 0
      if c.toDouble / (s1.size + s2.size - c) >= 0.5
    } yield (k1, k2, c)
    val got = graft.queries.Corpus.qJoinSetsimPrefix.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === naive.map(t => (t._1, t._2, t._3.toLong)).toSet)
    assert(got.nonEmpty)
    // thinning: tokens-in-prefix < tokens-in-set overall
    val df = tok.groupBy(_._2).view.mapValues(_.length).toMap
    val prefixTokens = sets.iterator.map { case (_, s) =>
      s.size - (s.size + 1) / 2 + 1 }.sum
    val allTokens = sets.iterator.map(_._2.size).sum
    assert(prefixTokens < allTokens)
  }

  test("pair-key prefix join is exact on random basket sets") {
    // Round-14 lock for the ℓ₂ pair-prefix derivation, independent of
    // the lineitem fixture's shape: 400 random baskets over a tiny
    // 40-token vocabulary (much denser than the fixture — heavy
    // df ties, many qualifying pairs), sizes 1..8 INCLUDING the
    // size-1 and size-2 edge cases the hybrid's tiny path covers,
    // compared against an in-test brute-force τ-join. A wrong cmin/ℓ₂
    // bound or a broken tiny path drops a qualifying pair here with
    // high probability. Seeded: deterministic across runs.
    val rnd = new scala.util.Random(1405)
    val baskets = (1L to 400L).map { k =>
      val n = 1 + rnd.nextInt(8)
      val s = scala.collection.mutable.Set.empty[Long]
      while (s.size < n) s += rnd.nextInt(40).toLong
      k -> s.toSet
    }
    val tok = baskets.flatMap { case (k, s) => s.map(t => (k, t)) }
    val tokDf = spark.createDataFrame(tok).toDF("k", "t")
    val got = graft.queries.Corpus.setsimPairs(spark, tokDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val naive = (for {
      (k1, s1) <- baskets; (k2, s2) <- baskets if k1 < k2
      c = (s1 & s2).size if c > 0
      if c.toDouble / (s1.size + s2.size - c) >= 0.5
    } yield (k1, k2, c.toLong)).toSet
    assert(naive.nonEmpty, "fuzz fixture must produce qualifying pairs")
    assert(got === naive,
      s"missing=${(naive -- got).take(5)} extra=${(got -- naive).take(5)}")
  }

  test("every repeated substring window really occurs in its docs") {
    // E287: spot-verify containment — each reported window must be a
    // literal substring of at least n_docs distinct documents, at a
    // stride-aligned offset.
    val texts = Tables.read(spark, sf, "documents")
      .select($"text").collect().map(_.getString(0))
    val rows = graft.queries.Corpus.qDedupSubstring.fn(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.take(25).foreach { r =>
      val win = r.getString(0)
      assert(win.length === 40)
      val containing = texts.count(_.contains(win))
      assert(containing >= r.getLong(1),
        s"window '$win' claimed in ${r.getLong(1)} docs")
    }
  }

  test("rolling_hashes matches per-window polynomial hashes") {
    // E288: the O(1)-per-window difference form must equal the hash
    // computed independently per substring, including mod-2^64
    // wraparound; short strings yield empty arrays.
    val r = spark.sql(
      """SELECT rolling_hashes('abcdefghij', 4, 3) AS h,
        |  rolling_hashes('abc', 4, 1) AS empty""".stripMargin).head()
    val got = r.getSeq[Long](0)
    val s = "abcdefghij"
    def direct(sub: String): Long =
      sub.foldLeft(0L)((acc, c) => acc * 1000003L + c)
    val want = Seq(0, 3, 6).map(i => direct(s.substring(i, i + 4)))
    assert(got === want)
    assert(r.getSeq[Long](1).isEmpty)
  }

  test("hilbert_index is a grid-adjacent bijection on the 8x8 grid") {
    // E311: the two properties that make the curve a layout key —
    // bijection (every cell gets exactly one index) and unit-step
    // locality (consecutive indices are grid neighbors, |Δx|+|Δy|=1,
    // the property Morton/z-order lacks at quadrant boundaries).
    import graft.functions.HilbertHelper.xy2d
    val m = (for { x <- 0L until 8L; y <- 0L until 8L }
      yield xy2d(3, x, y) -> ((x, y))).toMap
    assert(m.keySet == (0L until 64L).toSet, "not a bijection")
    (0L until 63L).foreach { d =>
      val (x1, y1) = m(d); val (x2, y2) = m(d + 1)
      assert((x1 - x2).abs + (y1 - y2).abs == 1,
        s"jump between d=$d and d=${d + 1}")
    }
    // SQL surface reaches the same arithmetic (codegen path), and the
    // E311 rectangle collapses to fewer scan ranges than z-order's
    def ranges(cells: Seq[Long]): Int = cells.sorted
      .foldLeft((0, -2L)) { case ((k, prev), c) =>
        (if (c == prev + 1) k else k + 1, c)
      }._1
    val hCells = for { u <- 2L to 4L; d <- 1L to 3L } yield xy2d(3, u, d)
    def z(u: Long, d: Long): Long = // 3-bit Morton interleave
      (0 until 3).map(i => (((u >> i) & 1) << (2 * i)) |
        (((d >> i) & 1) << (2 * i + 1))).reduce(_ | _)
    val zCells = for { u <- 2L to 4L; d <- 1L to 3L } yield z(u, d)
    assert(ranges(hCells) < ranges(zCells),
      s"hilbert ${ranges(hCells)} ranges vs morton ${ranges(zCells)}")
    val row = spark.sql(
      "SELECT hilbert_index(CAST(3 AS BIGINT), CAST(5 AS BIGINT), 3) h")
      .head()
    assert(row.getLong(0) == xy2d(3, 3L, 5L))
  }

  test("native expressions reject wrong input types at analysis time") {
    // ADVICE r13: without checkInputDataTypes an INT x/y (or BIGINT
    // order) survived analysis and died at runtime — interpreted path
    // ClassCastException, codegen path a Janino compile failure. Both
    // expressions must now fail ANALYSIS with a readable message.
    import org.apache.spark.sql.AnalysisException
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT hilbert_index(3, 5, 3)").collect()
    }
    assert(e1.getMessage.contains("hilbert_index"))
    val e2 = intercept[AnalysisException] {
      spark.sql(
        "SELECT hilbert_index(CAST(3 AS BIGINT), CAST(5 AS BIGINT), " +
          "CAST(3 AS BIGINT))").collect()
    }
    assert(e2.getMessage.contains("hilbert_index"))
    val e3 = intercept[AnalysisException] {
      spark.sql("SELECT rolling_hashes('abcd', CAST(2 AS BIGINT), 1)")
        .collect()
    }
    assert(e3.getMessage.contains("rolling_hashes"))
    // and the valid signatures still analyze + run
    assert(spark.sql(
      "SELECT size(rolling_hashes('abcd', 2, 1)) n").head().getInt(0) == 3)
  }

  test("rollup rewrite: count(null), twin branches, computed dim") {
    // The three ADVICE r13 rollup findings, each locked:
    //  1. COUNT(NULL) over the registered base must NOT rewrite to
    //     sum(cnt) — its correct value is 0, not the cell row count.
    //  2. Two rewritable aggregates in ONE query (union) must get
    //     DISTINCT summary-scan ExprIds (fresh plan instance per
    //     rewrite), not two branches sharing attribute ids.
    //  3. A COMPUTED grouping dim (to_date(l_shipdate)) appearing in
    //     the select list must map to the summary dim column instead
    //     of silently aborting the rewrite.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    graft.queries.Rollups.qAggRollupRewrite.fn(spark, sf).collect() // register
    val base = Tables.read(spark, sf, "lineitem")
    // (1) count(null) = 0 everywhere
    val cn = base.groupBy($"l_returnflag")
      .agg(count(lit(null)).as("c")).collect()
    assert(cn.nonEmpty && cn.forall(_.getLong(1) == 0L),
      s"COUNT(NULL) must be 0, got ${cn.mkString(",")}")
    // (3) computed-dim grouping rewrites to the rollup scan and the
    // kill switch restores identical rows from the base
    def computed() = base
      .groupBy(to_date($"l_shipdate"))
      .agg(sum($"l_quantity".cast("decimal(18,2)"))
        .cast("double").as("s"))
      .toDF("ship_day", "s")
      .orderBy($"ship_day")
    val onRows = computed().collect().toSeq
    val onDf = computed()
    onDf.collect()
    assert(walk(onDf.queryExecution.executedPlan)
        .exists(_.contains("graft-rollup")),
      "computed grouping dim must use the rollup")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try assert(computed().collect().toSeq === onRows)
    finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    // (2) twin rewrites in one plan: distinct summary output ids
    val twin = computed().limit(3).union(computed().limit(3))
    val aggOutsIds = twin.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.child.output.map(_.exprId).toSet
    }
    assert(aggOutsIds.size == 2, s"expected 2 aggregates, $aggOutsIds")
    assert(aggOutsIds(0).intersect(aggOutsIds(1)).isEmpty,
      "twin rollup rewrites must not share scan ExprIds")
  }

  test("rollup rewrite: dim-only filters move onto the summary scan") {
    // E334: a predicate over registered DIMS (ship-day range +
    // returnflag IN list) must not disable the rewrite any more — the
    // query must scan the rollup WITH the re-expressed filter (values
    // equal to the rule-off base route), while a measure predicate
    // still restores the base scan (locked by the E294 test above).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    def run() = graft.queries.Rollups.qAggRollupFiltered.fn(spark, sf)
    val onRows = run().collect().toSeq
    assert(onRows.nonEmpty)
    val df = run(); df.collect()
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft-rollup")),
      s"dim-filtered aggregate must scan the rollup, got $scans")
    assert(!scans.exists(_.contains("lineitem.parquet")))
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val off = run()
      assert(off.collect().toSeq === onRows,
        "filtered rewrite must be invisible in results")
      assert(walk({ val d = run(); d.collect()
        d.queryExecution.executedPlan })
        .exists(_.contains("lineitem.parquet")))
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    // E337: AVG (double measure, per-measure non-null count) also
    // rides the rollup — scan lock + kill-switch value equality
    def runAvg() = graft.queries.Rollups.qAggRollupAvg.fn(spark, sf)
    val avgOn = runAvg().collect().toSeq
    val avgDf = runAvg(); avgDf.collect()
    assert(walk(avgDf.queryExecution.executedPlan)
        .exists(_.contains("graft-rollup")),
      "avg over a registered measure must scan the rollup")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try assert(runAvg().collect().toSeq === avgOn)
    finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("rollup rewrite: stddev/var cells ride the summary (round 15)") {
    // E338: all four central-moment forms rewrite to the Σx/Σx²/n cell
    // merge — scan lock + kill-switch value equality (the rule-on/off
    // equivalence VERDICT r14 item 2 asks for).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    def run() = graft.queries.Rollups.qAggRollupStats.fn(spark, sf)
    val onRows = run().collect().toSeq
    assert(onRows.nonEmpty)
    val df = run(); df.collect()
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft-rollup")),
      s"stddev/var aggregate must scan the rollup, got $scans")
    assert(!scans.exists(_.contains("lineitem.parquet")))
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      assert(run().collect().toSeq === onRows,
        "stats rewrite must be invisible in results")
      assert(walk({ val d = run(); d.collect()
        d.queryExecution.executedPlan })
        .exists(_.contains("lineitem.parquet")))
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("stream→rollup→navigator e2e: query reads maintained cells") {
    // E342: the user query over the stream's raw landing zone must be
    // silently answered from the incrementally maintained cell store
    // (scan lock), and the kill switch must reproduce identical rows
    // from the raw zone (stream/batch equivalence: the re-aggregation
    // of streamed cells equals the full batch recompute).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val df = graft.queries.Rollups.qStreamRollupE2e.fn(spark, sf)
    val onRows = df.collect().toSeq
    assert(onRows.size == 10)
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("cells_v")),
      s"e2e query must scan the maintained cell store, got $scans")
    assert(!scans.exists(_.contains("/base")),
      s"e2e query must not scan the raw landing zone, got $scans")
    // the rewrite is plan-time: re-derive the SAME logical query over
    // the raw zone with the rule disabled and require equal rows
    val basePath = scans.find(_.contains("cells_v")).get
      .replaceAll("cells_v\\d+$", "base")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val base = spark.read.parquet(basePath)
      val off = base
        .groupBy((base("i") % 10).cast("int").as("bucket"))
        .agg(round(sum($"value"), 4).as("sum_value"),
          round(stddev_samp($"value"), 4).as("sd_value"),
          count(lit(1)).as("n"))
        .orderBy($"bucket")
      assert(off.collect().toSeq === onRows,
        "streamed cell maintenance must equal full batch recompute")
      assert(base.count() === 50000L,
        "raw landing zone must hold exactly the drained rows")
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("bigram LM: fluent word order outscores shuffled words (E345)") {
    // Same unigram profile, different sequences: docs built from a
    // canonical sentence must outscore docs of the same words shuffled
    // — the signal a unigram LM (E112) cannot see. Fit and score on
    // the combined corpus, exactly like the production query.
    val sent = "the quick brown fox jumps over the lazy dog"
    val words = sent.split(" ").toSeq
    val rnd = new scala.util.Random(42)
    val fluent = (1L to 20L).map(i => (i, Seq.fill(3)(sent).mkString(" ")))
    val shuffled = (21L to 30L).map { i =>
      (i, rnd.shuffle(Seq.fill(3)(words).flatten).mkString(" "))
    }
    val d = spark.createDataFrame(fluent ++ shuffled)
      .toDF("doc_id", "text")
    val s = graft.queries.LLMOps.bigramLmScores(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val fm = fluent.map(f => s(f._1)).sum / fluent.size
    val sm = shuffled.map(f => s(f._1)).sum / shuffled.size
    assert(fm > sm + 0.5,
      s"fluent mean $fm must clearly outscore shuffled mean $sm")
  }

  test("DSIR selection ranks target-vocabulary docs first (E346)") {
    // A real domain shift (disjoint vocabularies): every UNFLAGGED doc
    // written in the target vocabulary must outweigh every off-domain
    // doc — importance weighting finds domain LOOKALIKES in the raw
    // pool, which is the method's entire purpose. (The driver fixture
    // shares one vocabulary across sources, so this invariant is only
    // falsifiable on a synthetic corpus; the oracle gate pins the
    // fixture computation itself.)
    val tgtText = "alpha beta gamma delta epsilon zeta eta theta"
    val offText = "one two three four five six seven eight nine ten"
    val rows = (1L to 10L).map(i => (i, tgtText, true)) ++
      (11L to 15L).map(i => (i, tgtText, false)) ++
      (16L to 40L).map(i => (i, offText, false))
    val d = spark.createDataFrame(rows)
      .toDF("doc_id", "text", "is_tgt")
    val scored = graft.queries.LLMOps.dsirScores(d).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val likeMin = scored.filter(x => x._1 >= 11 && x._1 <= 15)
      .map(_._2).min
    val offMax = scored.filter(_._1 >= 16).map(_._2).max
    assert(likeMin > offMax,
      s"weakest lookalike $likeMin must outweigh best off-domain $offMax")
  }

  test("rollup lattice: coarsest qualifying summary answers each grain") {
    // E344: two registered summaries over orders (fine = day×priority,
    // coarse = priority). Lattice descent, locked three ways:
    // priority-grain → coarse dir; day-grain → fine dir (coarse cannot
    // answer it); rule-off → identical rows from the base scan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val df = graft.queries.Rollups.qAggRollupLattice.fn(spark, sf)
    val onRows = df.collect().toSeq
    assert(onRows.size === 5)
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft-rollup-lat-coarse")),
      s"priority grain must read the 5-cell coarse summary, got $scans")
    assert(!scans.exists(_.contains("graft-rollup-lat-fine")),
      s"priority grain must NOT read the fine summary, got $scans")
    assert(!scans.exists(_.contains("orders.parquet")),
      s"priority grain must NOT read the base, got $scans")
    // day grain: fine qualifies, coarse does not (o_day ∉ its dims)
    def dayGrain() = Tables.read(spark, sf, "orders")
      .groupBy(to_date($"o_orderdate").as("o_day"))
      .agg(sum($"o_totalprice".cast("decimal(18,2)"))
        .cast("double").as("sum_price"))
    val dayScans = walk(dayGrain().queryExecution.executedPlan)
    // round 17: descent orders by MEASURED cell count, and the
    // session may carry OTHER day-capable registrations on orders
    // (E363's day×custkey store) — the lock is that SOME day-capable
    // summary answers, never the coarse one and never the base; which
    // of two near-tied day grains wins is the cell counter's call
    assert(dayScans.exists(s => s.contains("graft-rollup-lat-fine") ||
        s.contains("graft-rollup-daycust")),
      s"day grain must read a day-capable summary, got $dayScans")
    assert(!dayScans.exists(_.contains("graft-rollup-lat-coarse")),
      s"day grain must NOT read the coarse summary, got $dayScans")
    assert(!dayScans.exists(_.contains("orders.parquet")),
      s"day grain must NOT read the base, got $dayScans")
    // rule off: same rows from the base scan
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val off = Tables.read(spark, sf, "orders")
        .groupBy($"o_orderpriority")
        .agg(sum($"o_totalprice".cast("decimal(18,2)"))
            .cast("double").as("sum_price"),
          min($"o_totalprice".cast("decimal(18,2)"))
            .cast("double").as("min_price"),
          max($"o_totalprice".cast("decimal(18,2)"))
            .cast("double").as("max_price"),
          count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
      assert(off.collect().toSeq === onRows,
        "lattice navigation must be invisible in values")
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("filtered lattice descent skips the coarse summary (E347)") {
    // Grain says coarse (priority ⊆ both summaries); the day-range
    // predicate says fine (only the fine summary carries o_day). The
    // navigator must fall through the coarse def and answer from the
    // fine summary with the predicate on its scan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val df = graft.queries.Rollups
      .qAggRollupLatticeFiltered.fn(spark, sf)
    val onRows = df.collect().toSeq
    assert(onRows.size === 5)
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft-rollup-lat-fine")),
      s"filtered coarse-grain query must read the fine summary, " +
        s"got $scans")
    assert(!scans.exists(_.contains("graft-rollup-lat-coarse")),
      s"coarse summary cannot express the day predicate, got $scans")
    assert(!scans.exists(_.contains("orders.parquet")),
      s"must not fall back to the base scan, got $scans")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val off = graft.queries.Rollups
        .qAggRollupLatticeFiltered.fn(spark, sf)
      assert(off.collect().toSeq === onRows,
        "filtered descent must be invisible in values")
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("CUBE is answered from the summary lattice (E348)") {
    // All four grouping sets of CUBE(day, priority) must come from the
    // fine summary's Expand, never a base scan; descent skips the
    // coarse summary (its grouping references the day slot). Rule-off
    // reproduces identical rows from the base.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val df = graft.queries.Rollups.qAggRollupCube.fn(spark, sf)
    val onRows = df.collect().toSeq
    assert(onRows.exists(r => r.getString(0) == "all" &&
      r.getString(1) == "all"), "grand-total row must exist")
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft-rollup-lat-fine")),
      s"cube must read the fine summary, got $scans")
    assert(!scans.exists(_.contains("orders.parquet")),
      s"cube must not scan the base, got $scans")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val off = graft.queries.Rollups.qAggRollupCube.fn(spark, sf)
      assert(off.collect().toSeq === onRows,
        "cube navigation must be invisible in values")
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("star join-back reads cells, not the fact table (E349)") {
    // orders ⋈ customer grouped by c_mktsegment must read the
    // customer-key-grain summary joined to customer — no orders scan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val df = graft.queries.Rollups.qAggRollupJoinback.fn(spark, sf)
    val onRows = df.collect().toSeq
    assert(onRows.size === 5)
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft-rollup-lat-bycust")),
      s"join-back must read the custkey-grain cells, got $scans")
    assert(!scans.exists(_.contains("orders.parquet")),
      s"join-back must not scan the fact table, got $scans")
    assert(scans.exists(_.contains("customer.parquet")),
      s"the dimension side must still be the real table, got $scans")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val off = graft.queries.Rollups.qAggRollupJoinback.fn(spark, sf)
      assert(off.collect().toSeq === onRows,
        "join-back must be invisible in values")
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("navigator fuzz: rewrite-on equals rewrite-off on random shapes") {
    // Property lock for the whole rewrite family: a synthetic base
    // with NULL-bearing dims and measures, a registered (d1, d2)
    // summary carrying every cell kind, then random query shapes —
    // grouping subsets (incl. global), random aggregate mixes
    // (count/sum/min/max/avg/stddev/var), optional dim filters, a
    // CUBE round, and a dim-join round — each executed with the rule
    // ON and OFF and compared value-for-value (relative 1e-9 on
    // doubles: the cell merge and native Welford may differ in final
    // ulps; anything larger is a real algebra bug).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.Column
    val rnd = new scala.util.Random(7)
    val n = 2000
    val rows = (0 until n).map { i =>
      val d1 = if (rnd.nextInt(20) == 0) null
        else Integer.valueOf(rnd.nextInt(6))
      // 40 d2 segments keep the (d1 × d2) summary's collapse factor
      // to {d1} grain at ~41 — above the round-19 CollapseMin guard —
      // so the merge-hinted round below still exercises the
      // pre-aggregate's merged-cell algebra (the fuzz's filters keep
      // drawing from seg0..3, which all exist)
      val d2 = if (rnd.nextInt(25) == 0) null
        else ("seg" + rnd.nextInt(40))
      val m1 = if (rnd.nextInt(10) == 0) null
        else java.lang.Double.valueOf(rnd.nextInt(1000) / 10.0)
      val m2 = java.lang.Long.valueOf(rnd.nextInt(500).toLong)
      (d1, d2, m1, m2)
    }
    val dir = Tables.scratchDir("graft-fuzz-base")
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r =>
          org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)), 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("d1",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("d2",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("m1",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("m2",
            org.apache.spark.sql.types.LongType))))
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    val sumDir = Tables.scratchDir("graft-fuzz-cells")
    // bivariate cells PAIRWISE-guarded: m1 carries nulls, so a cell
    // built over m1-non-null rows alone would diverge from corr/cov*
    // semantics (they skip a row when EITHER side is null)
    val pw = $"m1".isNotNull && $"m2".isNotNull
    base.groupBy($"d1", $"d2")
      .agg(sum($"m1").as("m1_sum"), min($"m1").as("m1_min"),
        max($"m1").as("m1_max"), count($"m1").as("m1_cnt"),
        sum($"m1" * $"m1").as("m1_sq"),
        sum($"m2").as("m2_sum"), min($"m2").as("m2_min"),
        max($"m2").as("m2_max"), count(lit(1)).as("cnt"),
        count(when(pw, 1)).as("b_n"),
        sum(when(pw, $"m1")).as("b_sx"),
        sum(when(pw, $"m2".cast("double"))).as("b_sy"),
        sum(when(pw, $"m1" * $"m2")).as("b_sxy"),
        sum(when(pw, $"m1" * $"m1")).as("b_sxx"),
        sum(when(pw, ($"m2" * $"m2").cast("double"))).as("b_syy"),
        // distinct-measure cell (round 16): built in the same pass,
        // d1/d2 CARRY nulls here so null-dim cells keeping their
        // distinct set is exercised by construction
        expr("bitmap_map_construct_agg(m2)").as("m2_bm"))
      .write.mode("overwrite").parquet(sumDir)
    graft.plans.RollupRewrite.register(
      base = base,
      dims = Seq("d1" -> base("d1"), "d2" -> base("d2")),
      sums = Seq("m1_sum" -> base("m1"), "m2_sum" -> base("m2")),
      mins = Seq("m1_min" -> base("m1"), "m2_min" -> base("m2")),
      maxs = Seq("m1_max" -> base("m1"), "m2_max" -> base("m2")),
      cntCol = "cnt", summary = spark.read.parquet(sumDir),
      avgs = Seq(("m1_sum", "m1_cnt", base("m1"))),
      stats = Seq(("m1_sum", "m1_sq", "m1_cnt", base("m1"))),
      bistats = Seq((graft.plans.RollupRewrite.BiStatCells(
        "b_n", "b_sx", "b_sy", "b_sxy", "b_sxx", "b_syy"),
        base("m1"), base("m2").cast("double"))),
      distincts = Seq("m2_bm" -> base("m2")))
    // k runs past d1's domain (0..5) so the OUTER join-back rounds
    // below have genuinely unmatched dim rows to null-extend
    val dim = spark.createDataFrame(
      (0 to 8).map(k => (k, s"name$k", k % 2))).toDF(
      "k", "kname", "parity")

    val aggPool: Seq[(String, Column)] = Seq(
      "n" -> count(lit(1)).as("n"),
      "s1" -> sum($"m1").as("s1"),
      "s2" -> sum($"m2").as("s2"),
      "mn" -> min($"m1").as("mn"),
      "mx" -> max($"m2").as("mx"),
      "av" -> avg($"m1").as("av"),
      "sd" -> stddev_samp($"m1").as("sd"),
      "vp" -> var_pop($"m1").as("vp"),
      "cd" -> countDistinct($"d2").as("cd"),
      "dm" -> countDistinct($"m2").as("dm"),
      "sdm" -> sum_distinct($"m2").as("sdm"),
      "adm" -> expr("avg(DISTINCT m2)").as("adm"),
      "c1" -> count($"m1").as("c1"),
      "cr" -> corr($"m1", $"m2").as("cr"),
      "cv" -> covar_samp($"m1", $"m2").as("cv"))
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) =>
        (x.isNaN && y.isNaN) ||
          math.abs(x - y) <= 1e-9 * math.max(1.0,
            math.max(math.abs(x), math.abs(y)))
      case (x, y) => x == y
    }
    def rowsOf(df: DataFrame): Seq[Seq[Any]] = {
      val out = df.collect().map(_.toSeq.toVector).toSeq
      out.sortBy(_.mkString("|"))
    }
    def check(mk: () => DataFrame, what: String): Unit = {
      val on = rowsOf(mk())
      spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
      val off = try rowsOf(mk())
        finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
      def dump = s"\nON : ${on.mkString("\n     ")}" +
        s"\nOFF: ${off.mkString("\n     ")}"
      assert(on.size == off.size,
        s"$what: ${on.size} vs ${off.size}$dump")
      on.zip(off).foreach { case (r1, r2) =>
        assert(r1.size == r2.size && r1.zip(r2).forall {
          case (x, y) => close(x, y)
        }, s"$what: $r1 vs $r2$dump")
      }
    }
    (1 to 10).foreach { i =>
      val gs = Seq($"d1", $"d2").filter(_ => rnd.nextBoolean())
      val aggs = rnd.shuffle(aggPool).take(2 + rnd.nextInt(3)).map(_._2)
      // draw the filter constants BEFORE building the lambda — mk()
      // runs twice (on/off) and a lambda that re-draws would compare
      // two different queries
      val k1 = rnd.nextInt(4)
      val seg = "seg" + rnd.nextInt(4)
      val filt: DataFrame => DataFrame = rnd.nextInt(3) match {
        case 0 => identity
        case 1 => _.filter($"d1" > k1)
        case _ => _.filter($"d2" === seg)
      }
      check(() => {
        val f = filt(spark.read.parquet(dir))
        if (gs.isEmpty) f.agg(aggs.head, aggs.tail: _*)
        else f.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
      }, s"round $i (grp=${gs.size}, aggs=${aggs.size})")
    }
    // CUBE round (Expand path) and join-back round
    check(() => spark.read.parquet(dir).cube($"d1", $"d2")
      .agg(count(lit(1)).as("n"), sum($"m2").as("s2"),
        avg($"m1").as("av"), stddev_samp($"m1").as("sd"),
        countDistinct($"m2").as("dm"), grouping_id().as("gid"),
        grouping($"d1").as("g1")),
      "cube (with grouping_id/grouping)")
    check(() => spark.read.parquet(dir).join(dim, $"d1" === $"k")
      .groupBy($"kname")
      .agg(sum($"m2").as("s2"), count(lit(1)).as("n"),
        var_pop($"m1").as("vp"), countDistinct($"m2").as("dm")),
      "join-back")
    // merge-hinted round (round 17): the shuffle-join regime fires
    // the pre-aggregation below the join — used dims {d1} ⊂ {d1,d2}
    // — so every cell kind (sums, cnt, stats, bistat moments, bitmap
    // distincts) is value-locked THROUGH the merged cells too
    check(() => spark.read.parquet(dir)
      .join(dim.hint("merge"), $"d1" === $"k")
      .groupBy($"kname")
      .agg(sum($"m2").as("s2"), count(lit(1)).as("n"),
        avg($"m1").as("av"), stddev_samp($"m1").as("sd"),
        corr($"m1", $"m2").as("cr"),
        countDistinct($"m2").as("dm"),
        sum_distinct($"m2").as("sdm"),
        min($"m1").as("mn"), max($"m2").as("mx")),
      "join-back with pre-aggregation (merge-hinted)")
    // OUTER join-back rounds (round 16): dim-preserved left (unmatched
    // dim rows null-extend the summary side; count(*) must count them
    // via Σcoalesce(cnt,1)), base-preserved left (unmatched CELLS
    // null-extend the dim side), and full outer (both at once)
    check(() => dim.join(spark.read.parquet(dir), $"k" === $"d1",
        "left")
      .groupBy($"parity")
      .agg(count(lit(1)).as("n"), sum($"m2").as("s2"),
        avg($"m1").as("av"), countDistinct($"m2").as("dm")),
      "left-outer join-back (dim preserved)")
    check(() => spark.read.parquet(dir)
      .join(dim.filter($"k" =!= 2), $"d1" === $"k", "left")
      .groupBy($"kname")
      .agg(count(lit(1)).as("n"), sum($"m1").as("s1"),
        stddev_samp($"m1").as("sd")),
      "left-outer join-back (base preserved)")
    check(() => spark.read.parquet(dir)
      .join(dim.filter($"k" =!= 3), $"d1" === $"k", "full")
      .groupBy($"parity")
      .agg(count(lit(1)).as("n"), sum($"m2").as("s2"),
        min($"m1").as("mn"), countDistinct($"m2").as("dm")),
      "full-outer join-back")
    // non-vacuousness: the equivalence rounds only mean something if
    // the rewrite actually fires on this base — pin the scan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val probe = spark.read.parquet(dir).groupBy($"d1")
      .agg(count(lit(1)).as("n"))
    assert(walk(probe.queryExecution.executedPlan)
      .exists(_.contains("graft-fuzz-cells")),
      "fuzz base must be answered from its registered cells")
    val probeJb = dim.join(spark.read.parquet(dir), $"k" === $"d1",
        "left")
      .groupBy($"parity").agg(count(lit(1)).as("n"))
    assert(walk(probeJb.queryExecution.executedPlan)
      .exists(_.contains("graft-fuzz-cells")),
      "outer join-back rounds must actually ride the cells")
    // no RollupRewrite.clear(): other tests' registrations are
    // Memo-gated (built once per session), so a global clear here
    // would strand them unregistered; the fuzz base is a unique temp
    // path, so its registration cannot collide with anything
  }

  test("distinct-dim and HAVING ride the navigator (E350/E351)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    // E350: count(DISTINCT day) forces the fine summary (day ∈ its
    // dims) even though the grouping alone is coarse-satisfiable
    val dd = graft.queries.Rollups.qAggRollupDistinct.fn(spark, sf)
    val ddRows = dd.collect().toSeq
    val ddScans = walk(dd.queryExecution.executedPlan)
    assert(ddScans.exists(_.contains("graft-rollup-lat-fine")),
      s"distinct-day must read the fine summary, got $ddScans")
    assert(!ddScans.exists(_.contains("orders.parquet")),
      s"distinct-day must not scan the base, got $ddScans")
    // distinct MEASURE refuses: stays on the base scan
    val dm = Tables.read(spark, sf, "orders")
      .groupBy($"o_orderpriority")
      .agg(countDistinct($"o_totalprice").as("nv"))
    assert(walk(dm.queryExecution.executedPlan)
      .exists(_.contains("orders.parquet")),
      "distinct over a measure must refuse the rewrite")
    // E351: HAVING filters the re-aggregated coarse cells
    val hv = graft.queries.Rollups.qAggRollupHaving.fn(spark, sf)
    val hvRows = hv.collect().toSeq
    val hvScans = walk(hv.queryExecution.executedPlan)
    assert(hvScans.exists(_.contains("graft-rollup-lat-coarse")),
      s"HAVING query must read the coarse summary, got $hvScans")
    // rule-off equality for both
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      assert(graft.queries.Rollups.qAggRollupDistinct.fn(spark, sf)
        .collect().toSeq === ddRows)
      assert(graft.queries.Rollups.qAggRollupHaving.fn(spark, sf)
        .collect().toSeq === hvRows)
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("corr/covar ride the summary's pairwise moment cells (E352)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val df = graft.queries.Rollups.qAggRollupCorr.fn(spark, sf)
    val onRows = df.collect().toSeq
    assert(onRows.size === 3)
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft-rollup")),
      s"corr query must read the moment cells, got $scans")
    assert(!scans.exists(_.contains("lineitem.parquet")),
      s"corr query must not scan the base, got $scans")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val off = graft.queries.Rollups.qAggRollupCorr.fn(spark, sf)
        .collect().toSeq
      // rounded outputs compare exactly; the underlying doubles agree
      // to ~1e-12 (exact-integral quantities, modest co-moment κ)
      assert(off === onRows, "corr navigation must be invisible")
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
  }

  test("rollup rewrite: ANSI-safe avg, try_avg refusal, strict register") {
    // The three ADVICE r14 findings, each locked.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    // (1) medium: an ALL-NULL measure group must re-aggregate to NULL
    // through the rewritten division (Σ counts = 0) — under the
    // session's default ANSI mode the old session-eval-mode Divide
    // threw DIVIDE_BY_ZERO here. Register a dedicated tiny rollup
    // whose base has one fully-NULL group.
    val dir = Tables.scratchDir("graft-rollup-nulls")
    Seq(("a", "x", Some(1.0)), ("a", "y", Some(3.0)),
        ("b", "x", None), ("b", "y", None))
      .toDF("g", "sub", "x")
      .write.mode("overwrite").parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    base.groupBy($"g", $"sub")
      .agg(count(lit(1)).as("cnt"), sum($"x").as("x_sum"),
        count($"x").as("x_cnt"))
      .write.mode("overwrite").parquet(s"$dir/summary")
    val summary = spark.read.parquet(s"$dir/summary")
    graft.plans.RollupRewrite.register(base,
      dims = Seq("g" -> base("g"), "sub" -> base("sub")),
      sums = Nil, mins = Nil, maxs = Nil, cntCol = "cnt",
      summary = summary,
      avgs = Seq(("x_sum", "x_cnt", base("x"))))
    def avgQ() = base.groupBy($"g").agg(avg($"x").as("m")).orderBy($"g")
    val rows = avgQ().collect()
    assert(walk({ val d = avgQ(); d.collect()
      d.queryExecution.executedPlan })
      .exists(_.contains(s"$dir/summary")),
      "avg must ride the tiny rollup for this lock to mean anything")
    assert(rows.map(r => r.getString(0) ->
      (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      === Map("a" -> 2.0, "b" -> null),
      "all-NULL group must yield NULL, not DIVIDE_BY_ZERO")
    // (2) low: try_avg keeps its NULL-on-error contract — the rewrite
    // refuses it and the plan stays on the base parquet
    val tryDf = base.groupBy($"g")
      .agg(expr("try_avg(x)").as("m")).orderBy($"g")
    tryDf.collect()
    assert(walk(tryDf.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/base")),
      "try_avg must NOT be rewritten onto the summary")
    // (3) low: registering a FILTERED base must throw, not silently
    // bind the unfiltered path to a partial summary
    val e = intercept[IllegalArgumentException] {
      graft.plans.RollupRewrite.register(
        base.filter($"x" > 1.0),
        dims = Seq("g" -> base("g")), sums = Nil, mins = Nil,
        maxs = Nil, cntCol = "cnt", summary = summary)
    }
    assert(e.getMessage.contains("file-source read"))
  }

  test("rollup rewrite: multi-root read never matches a single-root registration") {
    // ADVICE r15 / VERDICT r16 item 7: the registry keys on the FULL
    // sorted root-path set. A registration made on root A must not
    // answer a query over spark.read.parquet(A, B) — half its rows
    // would come from outside the summary. Registering the two-root
    // base itself works and rewrites.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(scans)
    }
    val dir = Tables.scratchDir("graft-rollup-multiroot")
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "x")
      .write.mode("overwrite").parquet(s"$dir/rootA")
    Seq(("a", 10L), ("c", 20L)).toDF("g", "x")
      .write.mode("overwrite").parquet(s"$dir/rootB")
    val baseA = spark.read.parquet(s"$dir/rootA")
    baseA.groupBy($"g")
      .agg(sum($"x").as("x_sum"), count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$dir/summaryA")
    val summaryA = spark.read.parquet(s"$dir/summaryA")
    graft.plans.RollupRewrite.register(baseA,
      dims = Seq("g" -> baseA("g")),
      sums = Seq("x_sum" -> baseA("x")),
      mins = Nil, maxs = Nil, cntCol = "cnt", summary = summaryA)
    // single-root query over rootA rides the summary (sanity)
    val qa = baseA.groupBy($"g").agg(sum($"x").as("s")).orderBy($"g")
    qa.collect()
    assert(scans(qa.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/summaryA")),
      "single-root registration must still fire on its own root")
    // two-root query must REFUSE the single-root registration and
    // compute from both roots (value check is the real gate)
    val both = spark.read.parquet(s"$dir/rootA", s"$dir/rootB")
    val qb = both.groupBy($"g").agg(sum($"x").as("s")).orderBy($"g")
    val rows = qb.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("a" -> 13L, "b" -> 3L, "c" -> 20L),
      "two-root aggregate must include rootB's rows")
    assert(!scans(qb.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/summaryA")),
      "two-root read must not match the single-root registration")
    // registering the two-root base itself is a distinct key and fires
    both.groupBy($"g")
      .agg(sum($"x").as("x_sum"), count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$dir/summaryAB")
    val summaryAB = spark.read.parquet(s"$dir/summaryAB")
    graft.plans.RollupRewrite.register(both,
      dims = Seq("g" -> both("g")),
      sums = Seq("x_sum" -> both("x")),
      mins = Nil, maxs = Nil, cntCol = "cnt", summary = summaryAB)
    val qc = spark.read.parquet(s"$dir/rootA", s"$dir/rootB")
      .groupBy($"g").agg(sum($"x").as("s")).orderBy($"g")
    val rows2 = qc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows2 === Map("a" -> 13L, "b" -> 3L, "c" -> 20L))
    assert(scans(qc.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/summaryAB")),
      "two-root registration must fire on the same two-root read")
  }

  test("COUNT(DISTINCT measure) rides the navigator via bitmap cells (E353)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val dir = Tables.scratchDir("graft-bmdm")
    // (1a) bijection property through the CONSTRUCT path: negatives,
    // zero, bucket boundaries, and one bucket driven past 2048
    // distinct values (the sparse→dense container promotion) must all
    // count exactly (each value duplicated: dedup is the aggregate's
    // job). Two cells, so the count also crosses a container merge.
    val vals: Seq[Long] = Seq(-70000L, -32769L, -32768L, -1L, 0L, 1L,
      2L, 32767L, 32768L, 32769L, 65535L, 65536L, 1000000007L) ++
      (0L until 3000L).map(_ * 2 + 100000L) // 3000 evens, one bucket+
    vals.flatMap(v => Seq(v, v)).zipWithIndex
      .map { case (v, i) => (v, i % 2) }.toDF("m", "g")
      .write.mode("overwrite").parquet(s"$dir/bij")
    val bij = spark.read.parquet(s"$dir/bij")
      .groupBy($"g")
      .agg(expr("bitmap_map_construct_agg(m)").as("mp"))
      .agg(expr("bitmap_map_count_agg(mp)").as("n"))
      .collect()(0).getLong(0)
    assert(bij == vals.distinct.size.toLong,
      s"bitmap-cell distinct count $bij != ${vals.distinct.size}")
    // (1b) LEGACY compat: cells built with Spark's own SQL bitmap
    // functions (4096-byte raw containers, 1-based positions) still
    // merge and count through the same aggregates
    val lvals = Seq(1L, 2L, 32767L, 32768L, 32769L, 65536L)
    lvals.flatMap(v => Seq(v, v)).map(Tuple1(_)).toDF("m")
      .withColumn("g", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/bijl")
    val bijl = spark.read.parquet(s"$dir/bijl")
      .groupBy($"g", expr("bitmap_bucket_number(m)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(m))")
        .as("bm"))
      .groupBy($"g")
      .agg(map_from_entries(
        array_sort(collect_list(struct($"bkt", $"bm")))).as("mp"))
      .agg(expr("bitmap_map_count_agg(mp)").as("n"))
      .collect()(0).getLong(0)
    assert(bijl == lvals.distinct.size.toLong,
      s"legacy bitmap-cell distinct count $bijl != ${lvals.distinct.size}")
    // (2) the gated fixture fires: scan redirect on the registered
    // lineitem rollup, rule-on/off value equality
    def q() = graft.queries.Rollups
      .qAggRollupDistinctMeasure.fn(spark, sf) // fn registers the rollup
    val dOn = q(); val onRows = dOn.collect().map(_.toSeq.toVector)
    assert(walk(dOn.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup")),
      "countDistinct(measure) must be answered from the rollup cells")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    val offRows = try q().collect().map(_.toSeq.toVector)
      finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    assert(onRows.toSeq == offRows.toSeq,
      "rewrite must be invisible in values")
    // (3) sum(DISTINCT) over a REGISTERED integral measure now rides
    // the same cells (E360), value-equal to the naive plan...
    def sq() = graft.queries.Rollups
      .qAggRollupSumDistinct.fn(spark, sf)
    val sOn = sq(); val sOnRows = sOn.collect().map(_.toSeq.toVector)
    assert(walk(sOn.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup")),
      "sum(DISTINCT registered measure) must ride the cells")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    val sOffRows = try sq().collect().map(_.toSeq.toVector)
      finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    assert(sOnRows.toSeq == sOffRows.toSeq)
    // ...while a DISTINCT shape with no cell form still refuses:
    // l_quantity is a double measure, not a registered distinct
    val sd = Tables.read(spark, sf, "lineitem")
      .groupBy($"l_returnflag")
      .agg(sum_distinct($"l_quantity").as("s"))
    sd.collect()
    assert(!walk(sd.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup")),
      "sum(DISTINCT unregistered measure) must NOT be rewritten")
    // (4) min/max(DISTINCT) ride via Spark's own EliminateDistinct
    // (DISTINCT is a no-op for idempotent semilattice merges), so the
    // plain min/max cell path answers them — every distinct aggregate
    // class now either rides or refuses deliberately
    val mm = Tables.read(spark, sf, "lineitem")
      .groupBy($"l_returnflag")
      .agg(expr("min(DISTINCT CAST(l_quantity AS DECIMAL(18,2)))")
          .as("mn"),
        expr("max(DISTINCT CAST(l_quantity AS DECIMAL(18,2)))")
          .as("mx"))
    mm.collect()
    assert(walk(mm.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup")),
      "min/max(DISTINCT) must ride the min/max cells")
  }

  test("outer join-back rides the navigator; semi still refuses (E354)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    // (1) the gated fixture: customer LEFT JOIN orders answered from
    // the bycust-grain cells, invisible in values
    def q() = graft.queries.Rollups
      .qAggRollupJoinbackOuter.fn(spark, sf) // fn registers the lattice
    val dOn = q(); val onRows = dOn.collect().map(_.toSeq.toVector)
    assert(walk(dOn.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup-lat-bycust")),
      "outer join-back must ride the bycust summary")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    val offRows = try q().collect().map(_.toSeq.toVector)
      finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    assert(onRows.toSeq == offRows.toSeq)
    // null-extension is load-bearing: count(*) must exceed the count
    // of matched orders (spine keys past the fact domain contribute
    // their bare null-extended row each)
    val matched = Tables.read(spark, sf, "orders")
      .filter($"o_custkey" % 2 === 0).count()
    assert(onRows.map(_(1).asInstanceOf[Long]).sum > matched,
      "unmatched spine keys must be counted via the null extension")
    // (2) semi join still refuses: existence at row grain is not an
    // aggregation over the join
    import org.apache.spark.sql.functions.{count => cnt}
    val cust = Tables.read(spark, sf, "customer")
    val orders = Tables.read(spark, sf, "orders")
    val semi = cust.join(orders,
        cust("c_custkey") === orders("o_custkey"), "left_semi")
      .groupBy($"c_mktsegment").agg(cnt(lit(1)).as("n"))
    semi.collect()
    assert(!walk(semi.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup-lat")),
      "semi join must NOT be rewritten onto summary cells")
  }

  test("incremental lattice: every grain equals full recompute; descent picks grains (E355)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val (baseDir, fineDir, coarseDir) =
      graft.queries.Rollups.incrLattice(spark, sf)
    val base = spark.read.parquet(baseDir)
    def norm(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toVector).toSeq.sortBy(_.mkString("|"))
    // (1) FINE store (5 incremental refreshes) == full recompute from
    // base, per cell, including the exact-distinct bitmap cell
    val fineStore = norm(spark.read.parquet(fineDir)
      .groupBy($"g1", $"shard")
      .agg(round(sum($"v_sum"), 6).as("s"), sum($"cnt").as("n"),
        expr("bitmap_map_count_agg(k_bm)").as("nd")))
    val fineBase = norm(base
      .groupBy(($"i" % 20).cast("int").as("g1"),
        expr("cast((i div 15000) as int)").as("shard"))
      .agg(round(sum($"value"), 6).as("s"), count(lit(1)).as("n"),
        countDistinct($"i" % 7000).as("nd")))
    assert(fineStore == fineBase,
      "fine store must equal full recompute from base")
    // (2) COARSE store (affected-partition refreshes) == re-agg of the
    // FINE store == full recompute from base
    val coarseStore = norm(spark.read.parquet(coarseDir)
      .groupBy($"shard")
      .agg(round(sum($"v_sum"), 6).as("s"), sum($"cnt").as("n"),
        expr("bitmap_map_count_agg(k_bm)").as("nd")))
    val coarseFromFine = norm(spark.read.parquet(fineDir)
      .groupBy($"shard")
      .agg(round(sum($"v_sum"), 6).as("s"), sum($"cnt").as("n"),
        expr("bitmap_map_count_agg(k_bm)").as("nd")))
    val coarseBase = norm(base
      .groupBy(expr("cast((i div 15000) as int)").as("shard"))
      .agg(round(sum($"value"), 6).as("s"), count(lit(1)).as("n"),
        countDistinct($"i" % 7000).as("nd")))
    assert(coarseStore == coarseFromFine,
      "coarse store must equal a full re-aggregation of the fine store")
    assert(coarseStore == coarseBase,
      "coarse store must equal full recompute from base")
    // (3) descent: the shard-grain gated query reads the COARSE cells;
    // a (g1, shard)-grain query reads the FINE cells; neither reads base
    val qc = graft.queries.Rollups.qAggRollupLatticeIncr.fn(spark, sf)
    qc.collect()
    val scansC = walk(qc.queryExecution.executedPlan)
    assert(scansC.exists(_.contains("coarse_v")) &&
      !scansC.exists(_.contains("/base")),
      s"shard-grain query must read coarse cells, got $scansC")
    val qf = base.groupBy(($"i" % 20).cast("int").as("g1"),
        expr("cast((i div 15000) as int)").as("shard"))
      .agg(sum($"value").as("s"))
    qf.collect()
    val scansF = walk(qf.queryExecution.executedPlan)
    assert(scansF.exists(_.contains("fine_v")) &&
      !scansF.exists(_.contains("/base")),
      s"fine-grain query must read fine cells, got $scansF")
  }

  test("count(measure) and expression measures ride the navigator (E356/E357)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    def onOff(q: graft.Q): Unit = {
      def run() = q.fn(spark, sf)
      val dOn = run(); val on = dOn.collect().map(_.toSeq.toVector)
      assert(walk(dOn.queryExecution.executedPlan)
        .exists(_.contains("graft-rollup")),
        s"${q.name} must be answered from the rollup cells")
      spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
      val off = try run().collect().map(_.toSeq.toVector)
        finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
      assert(on.toSeq == off.toSeq, s"${q.name}: rewrite visible")
    }
    onOff(graft.queries.Rollups.qAggRollupCountMeasure)
    onOff(graft.queries.Rollups.qAggRollupExprMeasure)
    // count(dim) must still REFUSE: over cells it would count cells,
    // not base rows, and no cell records per-dim non-null row counts
    val cd = Tables.read(spark, sf, "lineitem")
      .groupBy($"l_returnflag").agg(count($"l_shipdate").as("n"))
    cd.collect()
    assert(!walk(cd.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup")),
      "count(dim) must NOT be rewritten onto the summary")
  }

  test("RollupBuild one-call API: events cells answer the dashboard query (E358)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    def run() = graft.queries.Rollups.qAggRollupBuildApi.fn(spark, sf)
    val dOn = run(); val on = dOn.collect().map(_.toSeq.toVector)
    assert(walk(dOn.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup-events")),
      "the one-call build must be the scan the query reads")
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    val off = try run().collect().map(_.toSeq.toVector)
      finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    assert(on.toSeq == off.toSeq, "rewrite must be invisible")
    // day-grain (the declared grain itself) also rides the cells
    import org.apache.spark.sql.functions.{to_date => toDate}
    val day = Tables.read(spark, sf, "events")
      .groupBy(toDate($"ts").as("day"))
      .agg(sum($"value").as("s"), countDistinct($"user_id").as("u"))
    day.collect()
    assert(walk(day.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup-events")),
      "day-grain query must also ride the cells")
  }

  test("rollup advisor: alias resolution, absorption, non-file refusal (E359)") {
    val dir = Tables.scratchDir("graft-advisor")
    Seq(("x", "u", 1.0), ("y", "v", 2.0)).toDF("a", "b", "m")
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    // w1 groups through a PROJECT ALIAS (k = a) — extraction must
    // resolve it back to the base column, or w1's dim set would be
    // "k" and never absorb into w2's {a, b}
    val w1 = base.select($"a".as("k"), $"m")
      .groupBy($"k").agg(sum($"m").as("s"))
    val w2 = base.groupBy($"a", $"b").agg(count(lit(1)).as("n"))
    // in-memory frame: no file base, no candidate
    val w3 = Seq((1, 2)).toDF("p", "q").groupBy($"p")
      .agg(max($"q").as("mx"))
    val props = graft.plans.RollupAdvisor.propose(Seq(w1, w2, w3))
    assert(props.size == 1, s"expected one maximal proposal: $props")
    assert(props.head.dims == Seq("a", "b"))
    assert(props.head.queriesCovered == 2,
      "alias-resolved w1 must absorb into w2's grain")
    assert(props.head.measures == Seq("m"))
  }

  test("navigator never fires inside a streaming micro-batch (r16)") {
    // Found by the E167 gate: a file-stream batch plans as a BATCH
    // LogicalRelation over the batch's files, whose root path can
    // equal a registered base — rewriting there reads the whole-table
    // summary for a SUBSET batch (double-counting under stateful
    // re-aggregation). The rule refuses on the stream thread; this
    // pins it with input-row accounting, which is what betrayed the
    // original bug (values happened to agree on a 1-batch stream).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(scans)
    }
    val dir = Tables.scratchDir("graft-streamguard")
    (1 to 1000).map(i => (i.toLong, s"t${i % 4}")).toDF("v", "kind")
      .repartition(2).write.parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    base.groupBy($"kind")
      .agg(sum($"v").as("v_sum"), count(lit(1)).as("cnt"))
      .write.parquet(s"$dir/cells")
    graft.plans.RollupRewrite.register(base,
      dims = Seq("kind" -> base("kind")),
      sums = Seq("v_sum" -> base("v")),
      mins = Nil, maxs = Nil, cntCol = "cnt",
      summary = spark.read.parquet(s"$dir/cells"))
    // batch query rides the cells (the registration is live)
    val b = base.groupBy($"kind").agg(sum($"v").as("s"))
    b.collect()
    assert(scans(b.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/cells")))
    // the SAME aggregate as a stream must read base rows, not cells
    val q = spark.readStream.schema(base.schema)
      .parquet(s"$dir/base")
      .groupBy($"kind").agg(sum($"v").as("s"))
      .writeStream.format("memory").queryName("t_streamguard")
      .outputMode("complete").start()
    q.processAllAvailable()
    val inRows = q.recentProgress.map(_.numInputRows).sum
    val got = spark.table("t_streamguard").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(inRows == 1000L,
      s"micro-batch read $inRows rows — the navigator fired in-stream")
    val want = (1 to 1000).groupBy(i => s"t${i % 4}")
      .map { case (k, vs) => k -> vs.map(_.toLong).sum }
    assert(got == want)
  }

  test("systematic sampling: distributed rank equals naive, buckets bounded (r16)") {
    import org.apache.spark.sql.expressions.Window
    val ranked = graft.queries.LLMOps.systematicRanked(spark, sf)
    // scale shape: the partition-less offset window's input is the
    // bucket table, ≤4097 rows at ANY corpus size — the double-
    // division regression (unique double bucket per row) fails here
    val nBkt = ranked.select(countDistinct($"bkt")).collect()(0)
      .getLong(0)
    assert(nBkt <= 4097L, s"bucket table must be bounded, got $nBkt")
    assert(nBkt > 1L, "bucketing must actually split (non-vacuous)")
    // value: rank == the naive global row_number, row for row
    val mismatches = ranked.select($"doc_id", $"rn")
      .withColumn("naive", row_number().over(Window.orderBy($"doc_id")))
      .filter($"rn" =!= $"naive").count()
    assert(mismatches == 0L,
      "distributed rank must equal the naive global row_number")
  }

  test("DSv2 series source: count-star, point lookup, empty range") {
    // E319 edge cases: COUNT(*) prunes to a ZERO-column read schema
    // (the reader must emit empty rows, not crash); EqualTo narrows
    // to a single row; contradictory bounds clamp to an empty range
    // instead of a negative one.
    import org.apache.spark.sql.functions.col
    def src = spark.read.format("graft.sources.SeriesSource")
      .option("rows", "100").option("slices", "3").load()
    assert(src.count() == 100L)
    val one = src.filter(col("i") === 42L).select("i", "value").collect()
    assert(one.length == 1 && one.head.getLong(0) == 42L)
    assert(one.head.getDouble(1) ==
      graft.sources.SeriesSource.valueAt(42L))
    assert(src.filter(col("i") > 1000L).count() == 0L)
    assert(src.filter(col("i") >= 90L && col("i") < 90L).count() == 0L)
  }

  test("hashed substring dedup equals the literal-window form") {
    // E288 ≡ E287: same windows, same counts, same representatives —
    // any difference would be a 64-bit collision (or a bug).
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val lit = graft.queries.Corpus.qDedupSubstring.fn(spark, sf)
      .collect().map(key).toSeq
    val hashed = graft.queries.Corpus.qDedupSubstringHashed.fn(spark, sf)
      .collect().map(key).toSeq
    assert(lit === hashed)
    assert(lit.nonEmpty)
  }

  test("SCD2 point-in-time join matches a naive per-shipment recompute") {
    // E289: intervals tile each customer's timeline from the first
    // version onward, so a shipment matches AT MOST one version —
    // recompute the era assignment naively in Scala (binary-search
    // the version starts) and require identical era rollups,
    // including the drop-out of shipments predating the first
    // version (the fixture's independent ship dates exercise this).
    val versions = Tables.read(spark, sf, "orders")
      .groupBy($"o_custkey", to_date($"o_orderdate").as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
      .groupBy(_._1).view.mapValues { vs =>
        val sorted = vs.sortBy(_._2.toEpochDay)
        val eras = sorted.scanLeft(0L)(_ + _._3).tail
        sorted.map(_._2.toEpochDay).zip(eras)
      }.toMap
    val facts = Tables.read(spark, sf, "lineitem")
      .join(Tables.read(spark, sf, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey", to_date($"l_shipdate").as("d"),
        ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getLong(2)))
    val expected = facts.flatMap { case (ck, day, cents) =>
      versions(ck).filter(_._1 <= day).lastOption
        .map(v => (v._2, cents))
    }.groupBy(_._1).view
      .mapValues(xs => (xs.length.toLong, xs.map(_._2).sum)).toMap
    val got = graft.queries.Extras.qJoinScd2Pit.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
    assert(expected.values.map(_._1).sum <
      Tables.read(spark, sf, "lineitem").count(),
      "fixture should exercise the before-first-version drop-out")
  }

  test("4-4-5 fiscal months partition orders with 4/4/5-week shapes") {
    // E290: months land in 1..12, every order lands in exactly one
    // fiscal month, and across a full year months 1,2 of a quarter
    // carry 4 weeks and month 3 carries 5 (week 53 folding into 12).
    val rows = graft.queries.Metrics.qFiscal445.fn(spark, sf).collect()
    assert(rows.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 12))
    assert(rows.map(_.getLong(2)).sum ===
      Tables.read(spark, sf, "orders").count())
    val weeks = (1 to 52).map { wk =>
      val q = (wk - 1) / 13 + 1
      val wiq = (wk - 1) % 13 + 1
      (q - 1) * 3 + (if (wiq <= 4) 1 else if (wiq <= 8) 2 else 3)
    }
    val perMonth = weeks.groupBy(identity).view.mapValues(_.size)
    (1 to 12).foreach { m =>
      assert(perMonth(m) === (if (m % 3 == 0) 5 else 4))
    }
  }

  test("SQL UDF inlines: plan has no UDF node and tiers partition orders") {
    // E291: the SQL-defined function must inline into the plan (no
    // ScalaUDF / codegen fence), and the tier split must cover every
    // order exactly once.
    val df = graft.queries.Extras.qSqlUdf.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), "SQL UDF must inline")
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).sum ===
      Tables.read(spark, sf, "orders").count())
    // taxed = cents + cents DIV 10 ≥ cents, strictly for cents ≥ 10
    rows.foreach(r => assert(r.getLong(2) > 0))
  }

  test("listagg output is the sorted pipe-joined distinct nation list") {
    // E292: rebuild each segment's string from the raw data — order,
    // delimiter and distinctness must all match.
    val rows = graft.queries.Aggregates.qAggListagg.fn(spark, sf)
      .collect()
    val want = Tables.read(spark, sf, "customer")
      .join(Tables.read(spark, sf, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_mktsegment", $"n_name").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.mkString("|")).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(2) === want(r.getString(0)))
      assert(r.getLong(1) === want(r.getString(0)).split('|').length.toLong)
    }
  }

  test("interval arithmetic clamps month-end and keeps day-time exact") {
    // E293: Jan 31 + 1 month lands on the last day of Feb (clamped
    // flag true); +90 minutes is exactly 5400 s; last_day never
    // precedes the date.
    val rows = graft.queries.Scalars.qScalarInterval.fn(spark, sf)
      .collect()
    val base = Tables.read(spark, sf, "orders")
      .select($"o_orderkey", to_date($"o_orderdate"), $"o_orderdate")
      .collect().map(r => r.getLong(0) ->
        (r.getDate(1).toLocalDate, r.getTimestamp(2))).toMap
    assert(rows.exists(_.getBoolean(4)), "fixture has month-end orders")
    rows.foreach { r =>
      val (d, ts) = base(r.getLong(0))
      val plus = r.getDate(1).toLocalDate
      assert(plus === d.plusMonths(1),
        s"java.time clamping must agree for $d")
      assert(r.getBoolean(4) === (plus.getDayOfMonth != d.getDayOfMonth))
      assert(r.getTimestamp(3).getTime - ts.getTime === 5400000L)
      assert(!r.getDate(2).toLocalDate.isBefore(d))
    }
  }

  test("rollup rewrite redirects the scan and is invisible in results") {
    // E294: with the rule on, the naive aggregate over lineitem must
    // physically scan the materialized rollup; with the kill switch
    // off it must scan the base table; both routes must return
    // identical rows. A filtered aggregate must NOT rewrite (the
    // cells-already-merged guard).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect() // force AQE finalization
      walk(df.queryExecution.executedPlan)
    }
    def run() = graft.queries.Rollups.qAggRollupRewrite.fn(spark, sf)
    val on = run()
    val onRows = on.collect().toSeq
    val onScans = scans(run())
    assert(onScans.exists(_.contains("graft-rollup")),
      s"expected rollup scan, got $onScans")
    assert(!onScans.exists(_.contains("lineitem.parquet")))
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    try {
      val off = run()
      assert(off.collect().toSeq === onRows)
      val offScans = scans(run())
      assert(offScans.exists(_.contains("lineitem.parquet")),
        s"kill switch must restore the base scan, got $offScans")
    } finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    // guard: a filter below the aggregate disables the rewrite
    val filtered = Tables.read(spark, sf, "lineitem")
      .filter($"l_quantity" > 10)
      .groupBy($"l_returnflag")
      .agg(sum($"l_quantity".cast("decimal(18,2)")).as("s"))
    val fScans = scans(filtered)
    assert(fScans.exists(_.contains("lineitem.parquet")))
    assert(!fScans.exists(_.contains("graft-rollup")))
  }

  test("BOM rollup conserves parts and bounds path products") {
    // E295: the climb banks every part exactly once under its root
    // (conservation), roots are the keys below 7, and no path product
    // can exceed 5^depth on the derived forest.
    val rows = graft.queries.Extras.qBomRollup.fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).forall(_ < 7))
    assert(rows.map(_.getLong(1)).sum ===
      Tables.read(spark, sf, "part").count())
    rows.foreach(r => assert(r.getLong(3) <= 625L,
      s"depth<=4 at sf0.001 bounds products by 5^4"))
  }

  test("dynamic-gap sessions partition events and never overlap") {
    // E296: every event lands in exactly one session, and per user
    // the sessions are disjoint half-open intervals in time order.
    val rows = graft.queries.Aggregates.qAggSessionDynamic
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._4).sum ===
      Tables.read(spark, sf, "events").count())
    rows.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 >= e1)
        case _ =>
      }
    }
  }

  test("round-17 latent locks: integral distincts, sum_agg args, TRY distinct") {
    // The ADVICE r16 items plus the scalac-warning catch, each locked.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    def msgs(t: Throwable): String = {
      var cur = t; val sb = new StringBuilder
      while (cur != null) { sb.append(cur.getMessage).append('\n')
        cur = cur.getCause }
      sb.toString
    }
    val dir = Tables.scratchDir("graft-r17")
    Seq((1L, "a", 1.5), (2L, "a", 1.7), (3L, "b", 2.0), (3L, "b", 9.0))
      .toDF("k", "g", "d")
      .write.mode("overwrite").parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    // (1) RollupBuild refuses a non-integral distinct column loudly —
    // the long cast would collide 1.5 and 1.7 yet countDistinct(d)
    // would still match the raw-column template (ADVICE r16 medium)
    val e1 = intercept[IllegalArgumentException] {
      graft.plans.RollupBuild.materialize(spark, base, s"$dir/cells",
        dims = Seq("g" -> base("g")),
        measures = Seq("d" -> base("d")),
        distincts = Seq("d" -> base("d")))
    }
    assert(msgs(e1).contains("integral"), msgs(e1))
    // (2) register() enforces the same contract on the raw template
    val e2 = intercept[IllegalArgumentException] {
      base.groupBy($"g").agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$dir/sum2")
      graft.plans.RollupRewrite.register(base,
        dims = Seq("g" -> base("g")), sums = Nil, mins = Nil,
        maxs = Nil, cntCol = "cnt",
        summary = spark.read.parquet(s"$dir/sum2"),
        distincts = Seq("d_bm" -> base("d")))
    }
    assert(msgs(e2).contains("integral"), msgs(e2))
    // (3) bitmap_map_sum_agg's optional flag rejects NULL /
    // non-boolean / non-foldable args with the usage string instead of
    // NPE / ClassCastException at resolution time (ADVICE r16 low)
    base.createOrReplaceTempView("r17base")
    for (arg <- Seq("NULL", "1", "mp IS NOT NULL")) {
      val e = intercept[Throwable] {
        spark.sql(
          s"""SELECT bitmap_map_sum_agg(mp, $arg) FROM
             |(SELECT bitmap_map_construct_agg(k) mp FROM r17base)
             |""".stripMargin).collect()
      }
      assert(msgs(e).contains("foldable non-null BOOLEAN"),
        s"arg=$arg: ${msgs(e)}")
    }
    // (4) the TRY-mode guard on distinct sums is REAL now: Spark 4.1's
    // Sum.unapply yields a NumericEvalContext, so `em != EvalMode.TRY`
    // compared a context to a mode and never refused (scalac
    // adapted-comparison warning, round 17). try_sum(DISTINCT k) must
    // stay on the base scan (NULL-on-overflow contract); plain
    // sum(DISTINCT k) rides the cells and agrees with rewrite-off.
    base.groupBy($"g")
      .agg(count(lit(1)).as("cnt"),
        expr("bitmap_map_construct_agg(k)").as("k_bm"))
      .write.mode("overwrite").parquet(s"$dir/sum4")
    graft.plans.RollupRewrite.register(base,
      dims = Seq("g" -> base("g")), sums = Nil, mins = Nil,
      maxs = Nil, cntCol = "cnt",
      summary = spark.read.parquet(s"$dir/sum4"),
      distincts = Seq("k_bm" -> base("k")))
    val tryQ = base.groupBy($"g")
      .agg(expr("try_sum(DISTINCT k)").as("s")).orderBy($"g")
    tryQ.collect()
    assert(walk(tryQ.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/base")),
      "try_sum(DISTINCT) must NOT be rewritten onto the summary")
    val onQ = base.groupBy($"g")
      .agg(sum_distinct($"k").as("s")).orderBy($"g")
    val on = onQ.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(walk({ onQ.collect(); onQ.queryExecution.executedPlan })
      .exists(_.contains(s"$dir/sum4")),
      "sum(DISTINCT) must ride the bitmap cells")
    assert(on.toSeq === Seq(("a", 3L), ("b", 3L)))
  }

  test("round-17 latent locks: nulled measure slot and throwing template cast refuse") {
    import org.apache.spark.sql.catalyst.expressions.{Alias,
      AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Expand, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.types.{DoubleType, IntegerType,
      StringType}
    val dir = Tables.scratchDir("graft-r17x")
    Seq(("a", "x", 1.0), ("a", "y", 3.0), ("b", "x", 5.0))
      .toDF("g", "sub", "x")
      .write.mode("overwrite").parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    base.groupBy($"g", $"sub")
      .agg(count(lit(1)).as("cnt"), sum($"x").as("x_sum"))
      .write.mode("overwrite").parquet(s"$dir/summary")
    graft.plans.RollupRewrite.register(base,
      dims = Seq("g" -> base("g"), "sub" -> base("sub")),
      sums = Seq("x_sum" -> base("x")), mins = Nil, maxs = Nil,
      cntCol = "cnt", summary = spark.read.parquet(s"$dir/summary"))
    val rel = base.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr
    }.get
    def attr(n: String) = rel.output.find(_.name == n).get
    val (g, sub, x) = (attr("g"), attr("sub"), attr("x"))
    // hand-build the grouping-sets Expand exactly as Spark plans
    // ((g), (g, sub)), but with the MEASURE slot nulled in one
    // projection — a shape Spark's planner never emits, and exactly
    // the unchecked assumption the r16 verdict flagged: feeding the
    // cell slot through every projection would over-count the nulled
    // set. The classifier must REFUSE, not assume.
    val gOut = AttributeReference("g", StringType)()
    val subOut = AttributeReference("sub", StringType)()
    val xOut = AttributeReference("x", DoubleType)()
    val gid = AttributeReference("spark_grouping_id", IntegerType,
      nullable = false)()
    def plan(nullMeasureInProj0: Boolean): LogicalPlan = {
      val x0: org.apache.spark.sql.catalyst.expressions.Expression =
        if (nullMeasureInProj0) Literal(null, DoubleType) else x
      val ex = Expand(
        Seq(Seq(g, Literal(null, StringType), x0, Literal(1)),
          Seq(g, sub, x, Literal(0))),
        Seq(gOut, subOut, xOut, gid),
        rel)
      Aggregate(Seq(gOut, gid),
        Seq(gOut.asInstanceOf[org.apache.spark.sql.catalyst
            .expressions.NamedExpression],
          Alias(Sum(xOut).toAggregateExpression(), "s")()),
        ex)
    }
    val sane = graft.plans.RollupRewrite.apply(plan(false))
    assert(sane.collect { case lr: LogicalRelation => lr }
      .exists(_.relation.asInstanceOf[org.apache.spark.sql.execution
        .datasources.HadoopFsRelation].location.rootPaths
        .exists(_.toString.contains(s"$dir/summary"))),
      "positive control: the well-formed Expand must rewrite to cells")
    val nulled = plan(true)
    val kept = graft.plans.RollupRewrite.apply(nulled)
    assert(kept.fastEquals(nulled),
      "a measure slot nulled in one projection must refuse the rewrite")
    // throwing foldable cast in a registered dim template: anchoring
    // strips/folds casts, and the ANSI string→int cast throws on eval.
    // The rule must catch, leave the template alone, and still answer
    // the g-grain query from the cells — never propagate the throw.
    base.groupBy($"g")
      .agg(count(lit(1)).as("cnt"), sum($"x").as("x_sum"))
      .withColumn("bad", lit(null).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/sumbad")
    graft.plans.RollupRewrite.register(base,
      dims = Seq("g" -> base("g"), "bad" -> lit("abc").cast("int")),
      sums = Seq("x_sum" -> base("x")), mins = Nil, maxs = Nil,
      cntCol = "cnt", summary = spark.read.parquet(s"$dir/sumbad"))
    val q = base.groupBy($"g").agg(sum($"x").as("s")).orderBy($"g")
    val rows = q.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq === Seq(("a", 4.0), ("b", 5.0)))
  }

  test("round-17: incremental lattice raw zone is replay-idempotent") {
    // ADVICE r16 low: the raw zone is per-batch-id with OVERWRITE, so
    // a replayed batch rewrites its own directory instead of appending
    // duplicates. Simulate the replay: rewrite batch=0 with its own
    // contents and assert the zone's row count is unchanged.
    val (baseDir, _, _) = graft.queries.Rollups.incrLattice(spark, sf)
    val before = spark.read.parquet(baseDir).count()
    val b0 = spark.read.parquet(s"$baseDir/batch=0")
      .localCheckpoint(true)
    b0.write.mode("overwrite").parquet(s"$baseDir/batch=0")
    assert(spark.read.parquet(baseDir).count() === before,
      "replaying a batch id must not change the raw zone")
  }

  test("join-back pre-aggregation collapses unused dims below the join (E361)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    def aggBelowJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }
        .exists(_.children.exists(_.exists {
          case _: Aggregate => true
          case _ => false
        }))
    // (1) the gated query rides the FINER (priority × custkey)
    // summary — but its collapse factor (cells/custkey ≈ 4.3) sits
    // BELOW the round-19 CollapseMin guard (measured: single-digit
    // collapse is where the pre-aggregate's extra exchange buys
    // ~nothing — 0.74× at the r16 first cut, neutral hinted), so the
    // rewrite must REFUSE the below-join merge here even under the
    // merge hint; the ≥8-collapse fired lock lives in the dayfilter
    // test below (collapse ≈ 10); the collapse-10³ payoff is recorded
    // in BASELINE.md, "Collapse-factor guard"
    def q() = graft.queries.Rollups
      .qAggRollupJoinbackPreagg.fn(spark, sf)
    val df = q()
    val rows = df.collect()
    assert(walk(df.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup-priocust")),
      "query must ride the (priority × custkey) cells")
    assert(!aggBelowJoin(df),
      "single-digit collapse must refuse the below-join pre-aggregate")
    // (2) rule-off equality — the pre-agg must be invisible in values
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    val off = try q().collect()
      finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    assert(rows.map(_.toSeq).toSeq === off.map(_.toSeq).toSeq)
    // (2b) the regime guard: the SAME query WITHOUT the merge hint has
    // a broadcast-sized dim at this scale, so the rewrite still fires
    // but must SKIP the pre-aggregate — under a broadcast join the
    // cells stream map-side and a pre-aggregate is an extra shuffle
    // (measured 0.74x at the sf1gk rung before the guard existed)
    val bq = {
      val o = graft.Tables.read(spark, sf, "orders")
      val c = graft.Tables.read(spark, sf, "customer")
      o.filter($"o_orderpriority".isin("1-URGENT", "2-HIGH"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy($"c_mktsegment")
        .agg(sum($"o_totalprice".cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
    }
    bq.collect()
    assert(walk(bq.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup-priocust")),
      "unhinted query must still ride the cells")
    assert(!aggBelowJoin(bq),
      "broadcast-sized dim must skip the pre-aggregate")
    // (3) the honest floor: the KEY-GRAIN join-back (E349) gets NO
    // pre-aggregation — used dims == registered dims, nothing to
    // collapse — its plan joins the summary scan directly
    val jb = graft.queries.Rollups.qAggRollupJoinback.fn(spark, sf)
    jb.collect()
    assert(walk(jb.queryExecution.executedPlan)
      .exists(_.contains("graft-rollup-lat-bycust")),
      "key-grain join-back must still ride its cells")
    assert(!aggBelowJoin(jb),
      "no pre-aggregation when the used grain equals the registered " +
        "grain (the floor is the join input itself)")
  }

  test("late-data lattice: cells equal full recompute, drops exact (E362)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val (accDir, cellsDir, dropsDir) =
      graft.queries.Rollups.lateLattice(spark, sf)
    // (1) maintained cells ≡ full recompute from the accepted zone —
    // including the partitions late rows re-opened
    val acc = spark.read.parquet(accDir)
    val full = acc
      .groupBy($"shard", ($"i" % 10).cast("int").as("g"))
      .agg(sum($"value").as("v_sum"),
        sum($"value" * $"value").as("v_sq"),
        count($"value").as("v_cnt"), count(lit(1)).as("cnt"),
        countDistinct($"i" % 700).as("nk"))
    // bitmap_map_count_agg is an aggregate, so the per-cell distinct
    // count reads through a (shard, g) groupBy on the cell store —
    // which doubles as a merge-idempotence check on the stored cells
    val m2 = spark.read.parquet(cellsDir)
      .groupBy($"shard", $"g")
      .agg(sum($"v_sum").as("v_sum"), sum($"v_sq").as("v_sq"),
        sum($"v_cnt").as("v_cnt"), sum($"cnt").as("cnt"),
        expr("bitmap_map_count_agg(k_bm)").as("nk"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getInt(1))
    val fm = full.collect().map(r => key(r) ->
      (r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5),
        r.getLong(6))).toMap
    val mm = m2.collect().map(r => key(r) ->
      (r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5),
        r.getLong(6))).toMap
    assert(fm.keySet === mm.keySet,
      s"cell-grain mismatch: ${fm.keySet.diff(mm.keySet)} / " +
        s"${mm.keySet.diff(fm.keySet)}")
    fm.foreach { case (k, (s1, q1, c1, n1, k1)) =>
      val (s2, q2, c2, n2, k2) = mm(k)
      assert(math.abs(s1 - s2) <= 1e-6 * math.max(1.0, math.abs(s1))
        && math.abs(q1 - q2) <= 1e-6 * math.max(1.0, math.abs(q1))
        && c1 == c2 && n1 == n2 && k1 == k2,
        s"cell $k: maintained != recompute")
    }
    // (2) the drop count is the deterministic expected value: rows in
    // batch b >= 1 whose (twisted) shard fell below 2b-2
    def shardOf(i: Long): Long =
      if (i % 13 == 0) math.max(i / 5000 - 1, 0)
      else if (i % 17 == 0) math.max(i / 5000 - 5, 0)
      else i / 5000
    val expectedDrops = (0L until 50000L).count { i =>
      val b = i / 10000
      b >= 1 && shardOf(i) < 2 * b - 2
    }
    val recorded = spark.read.parquet(dropsDir)
      .agg(sum($"n_dropped")).head().getLong(0)
    assert(recorded == expectedDrops.toLong,
      s"drops $recorded != expected $expectedDrops")
    assert(recorded > 0, "fixture must actually drop rows")
    // (3) late admitted rows really re-opened PRIOR batches' shards:
    // the accepted zone must hold rows whose shard predates their
    // batch's on-time window (shard < 2*batch)
    val reopened = acc
      .filter($"shard" < ($"batch" * 2).cast("int")).count()
    assert(reopened > 0,
      "late-but-admissible rows must land in earlier shards")
    // (4) the gated query rides the maintained cells
    val q = graft.queries.Rollups.qAggRollupLatticeLate.fn(spark, sf)
    q.collect()
    assert(walk(q.queryExecution.executedPlan)
      .exists(_.contains("cells_v")),
      "late-lattice query must be answered from the cell store")
    // (5) the high-water mark is PERSISTED per batch (r18, ADVICE r17
    // low): every drops record carries hw_after, the sequence is
    // monotone non-decreasing in batch id, ends at the global max
    // shard, and each batch's predecessor-max — what a restarted run
    // would RESTORE — reproduces exactly the mark its original run
    // used (replay admits and drops the same rows)
    val hwRows = spark.read.parquet(dropsDir)
      .select($"batch_id", $"hw_after")
      .orderBy($"batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hwRows.nonEmpty && hwRows.map(_._2).toSeq ==
      hwRows.map(_._2).sorted.toSeq,
      s"persisted high-water must be monotone: ${hwRows.toSeq}")
    assert(hwRows.last._2 ==
      acc.agg(max($"shard")).head().getInt(0).toLong,
      "final persisted mark must equal the global max shard")
  }

  test("advisor grains serve dim-filtered queries; measure filters refuse per-query (r17)") {
    // VERDICT r16 item 7: the advisor IGNORES filters at extraction —
    // right for dim filters (the grain still answers them through the
    // navigator's predicate path) and right for measure filters too,
    // because un-answerability is a PER-QUERY property the rewrite
    // decides at match time, not a reason to distort the grain.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
      case other => other.children.flatMap(walk)
    }
    val dir = Tables.scratchDir("graft-r17adv")
    Seq(("a", "x", 1.0), ("a", "y", 3.0), ("b", "x", 5.0),
        ("b", "y", 7.0))
      .toDF("g", "sub", "x")
      .write.mode("overwrite").parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    // a FILTERED workload query must still contribute its full grain
    val w1 = base.filter($"g" === "a").groupBy($"g", $"sub")
      .agg(sum($"x".cast("double")).as("s"))
    val w2 = base.groupBy($"g").agg(sum($"x".cast("double")).as("s"))
    val props = graft.plans.RollupAdvisor.propose(Seq(w1, w2))
    assert(props.size == 1 && props.head.dims == Seq("g", "sub")
      && props.head.queriesCovered == 2,
      s"expected one (g, sub) proposal covering both; got $props")
    graft.plans.RollupBuild.materialize(spark, base,
      s"$dir/cells",
      dims = props.head.dims.zipWithIndex.map { case (s, i) =>
        s"d$i" -> expr(s) },
      measures = props.head.measures.zipWithIndex.map { case (s, i) =>
        s"m$i" -> expr(s) })
    // dim-only filter: answered FROM the advisor-built cells
    val q1 = base.filter($"sub" === "x").groupBy($"g")
      .agg(sum($"x".cast("double")).as("s")).orderBy($"g")
    val r1 = q1.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(walk(q1.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/cells")),
      "dim-filtered query must ride the advisor-proposed grain")
    assert(r1.toSeq === Seq(("a", 1.0), ("b", 5.0)))
    // measure filter: REFUSED per-query — scans base, right answer
    val q2 = base.filter($"x" > 2.0).groupBy($"g")
      .agg(sum($"x".cast("double")).as("s")).orderBy($"g")
    val r2 = q2.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(walk(q2.queryExecution.executedPlan)
      .exists(_.contains(s"$dir/base")),
      "measure-filtered query must stay on the base scan")
    assert(r2.toSeq === Seq(("a", 3.0), ("b", 12.0)))
  }

  test("date-range star query rides cells: filter on scan, pre-agg below join (E363)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    def q() = graft.queries.Rollups
      .qAggRollupJoinbackDayfilter.fn(spark, sf)
    val df = q()
    val rows = df.collect()
    val cellScans = scansOf(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths
        .exists(_.toString.contains("graft-rollup-daycust")))
    assert(cellScans.nonEmpty,
      "date-range star query must ride the (day × custkey) cells")
    // the year predicate must reach the CELL scan as a day-dim filter
    // (pushed to parquet, so it shows in the scan's data filters)
    assert(cellScans.exists(_.dataFilters.exists(_.references
        .exists(_.name == "o_day"))),
      s"day filter must sit on the summary scan; got " +
        s"${cellScans.map(_.dataFilters)}")
    // pre-aggregation below the join: days collapse to custkey grain
    assert(df.queryExecution.optimizedPlan
      .collect { case j: Join => j }
      .exists(_.children.exists(_.exists {
        case _: Aggregate => true
        case _ => false
      })), "pre-aggregate must appear below the customer join")
    // rule-off equality
    spark.conf.set(graft.plans.RollupRewrite.EnabledConf, "false")
    val off = try q().collect()
      finally spark.conf.unset(graft.plans.RollupRewrite.EnabledConf)
    assert(rows.map(_.toSeq).toSeq === off.map(_.toSeq).toSeq)
  }

  test("verify-Jaccard array form equals the join form exactly (r17)") {
    // The sf100gk switch: past 20k docs the verify uses row-local
    // sorted-array intersection instead of the inverted-index join
    // (whose pair×shingle intermediate is what exhausted the host's
    // disk at ×1000). Both forms must produce IDENTICAL rows — c is
    // the same exact common-shingle count either way.
    import org.apache.spark.sql.DataFrame
    def cand(): DataFrame = {
      val ids = graft.Tables.read(spark, sf, "documents")
        .select($"doc_id").orderBy($"doc_id").limit(40)
        .collect().map(_.getLong(0))
      ids.combinations(2).map { case Array(a, b) => (a, b) }
        .toSeq.toDF("d1", "d2")
    }
    val joinForm = graft.queries.LLMOps
      .verifyJaccard(spark, sf, cand(), 0.1).collect().map(_.toSeq)
    val arrayForm = graft.queries.LLMOps
      .verifyJaccard(spark, sf, cand(), 0.1, forceArrayForm = true)
      .collect().map(_.toSeq)
    assert(joinForm.nonEmpty,
      "fixture must produce verified pairs for this lock to bite")
    assert(joinForm.toSeq === arrayForm.toSeq)
  }

  test("label propagation is deterministic and covers every vertex") {
    // E281: two independent runs must agree exactly (the pinned
    // smallest-label tie-break is the whole point), and community
    // sizes must partition the vertex set.
    def run() = graft.queries.Graphs.qGraphLabelProp.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = run()
    assert(a === run())
    val nVertices = a.map(_._2).sum
    assert(nVertices > 0 && a.forall(_._2 > 0))
  }

  test("a new session reuses generated code: no class compiles") {
    // Sessions.local turns artifact isolation off (with it on, each
    // session runs its tasks under its own class loader, a key of
    // Spark's generated-class cache) and sizes the cache above a
    // pass's working set, so a query re-run on a NEW session compiles
    // nothing once its code has been seen. A later session can still
    // plan a few classes differently from an earlier one: a session
    // that finds the shared cohort cache built plans a scan unlike the
    // session that built it, and the distinct-aggregate rewrite
    // numbers its groups in expression-id hash order. So sessions run
    // until one compiles nothing, at most five after the first. With
    // isolation on, every session recompiles each class its tasks run
    // (about 20 of 54).
    import org.apache.spark.metrics.source.CodegenMetrics
    val q = SparkEntry.queries("q_fource_demographics")
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      q(spark.newSession(), sf).write.format("noop").mode("overwrite")
        .save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compiles()
    val later = Iterator.continually(compiles()).take(5)
      .takeWhile(_ > 0).toList
    assert(later.size < 5,
      s"every session recompiled: first $first, then ${later.mkString(", ")}")
    val conf = spark.newSession().conf
    assert(conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
    assert(conf.get("spark.buffer.pageSize") === "4m")
  }
}
