package graft.sources

import graft.{Q, Tables}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format coverage beyond parquet (SURVEY.md §2.1 S4/S5):
  * CSV and JSON-lines round-trips with declared schemas (never
  * inferred — an inference pass would double-scan at 100 TB), and the
  * approximate-aggregate variants used instead of exact distinct counts
  * at scale. The round-trip queries exercise write → read → aggregate;
  * their oracles aggregate the original parquet, so any loss in the
  * round-trip (formatting, quoting, nulls) fails parity. */
object Formats {

  private val slim = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** One definition of the on-disk scratch layout every side-store
    * write below uses — `target/fmt/<sanitized sfDir>/<leaf>` — so the
    * sanitization can never drift between the writer and a reader
    * (FormatsSuite locates the rebalanced output through this too). */
  private[graft] def fmtDir(sfDir: String, leaf: String): String =
    s"target/fmt/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}/$leaf"

  /** Oracle shared by both round-trips: per-type stats off parquet. */
  private val roundtripOracle =
    """SELECT event_type,
      |       count(*) AS n,
      |       count(DISTINCT user_id) AS n_users,
      |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
      |         AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private def roundtrip(fmt: String, provider: Option[String] = None,
      options: Map[String, String] = Map.empty) =
    Q(s"q_source_${fmt}_roundtrip",
    (spark, sfDir) => {
      import spark.implicits._
      val src = provider.getOrElse(fmt)
      val dir = fmtDir(sfDir, fmt)
      val slimmed = Tables.read(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
      slimmed.write.mode("overwrite").format(src).options(options).save(dir)
      spark.read.schema(slim).format(src).options(options).load(dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some(roundtripOracle))

  /** S4: CSV sink + source round-trip. */
  val qSourceCsv = roundtrip("csv")

  /** JSON-lines sink + source round-trip. */
  val qSourceJson = roundtrip("json")

  /** ORC sink + source round-trip (the other columnar format Spark
    * bundles natively — common as the i2b2-site export format on
    * Hive-era warehouses). The oracle reads the original parquet, so
    * the check is format-independent. */
  val qSourceOrc = roundtrip("orc")

  /** Avro sink + source round-trip — the row-based interchange format
    * of Kafka-era warehouses. This distribution's spark-sql jar carries
    * the avro classes but not their DataSourceRegister service entry,
    * so the short name `format("avro")` does not resolve — the
    * fully-qualified FileFormat class does, with identical semantics.
    * Same format-independent oracle as csv/json/orc: any loss in the
    * round-trip fails parity. */
  val qSourceAvro =
    roundtrip("avro", Some("org.apache.spark.sql.avro.AvroFileFormat"))

  /** XML sink + source round-trip — Spark 4 absorbed spark-xml as a
    * built-in source (service-registered, unlike avro here). The i2b2
    * ecosystem is XML-heavy (CRC/ONT cell messages), so the format
    * matters for real sites. `rowTag` names the per-row element on
    * both sides; the declared read schema avoids the inference scan. */
  val qSourceXml =
    roundtrip("xml", None, Map("rowTag" -> "row"))

  /** Plain-text source/sink round-trip — the line-oriented format raw
    * web-scale corpora arrive in (one record per line; the writer
    * accepts exactly one string column). The json `props` column is the
    * fixture's line-safe payload (no embedded newlines, no nulls —
    * both would break any line format, which is the point of the
    * check). The oracle aggregates the source parquet, so any line
    * lost, split or mangled by the round-trip fails parity. */
  val qSourceText = Q("q_source_text_roundtrip",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "text")
      Tables.read(spark, sfDir, "events").select($"props")
        .write.mode("overwrite").text(dir)
      spark.read.text(dir)
        .agg(count(lit(1)).as("n"),
          countDistinct($"value").as("n_distinct"),
          sum(length($"value")).as("sum_len"))
    },
    Some("""SELECT count(*) AS n, count(DISTINCT props) AS n_distinct,
           |       CAST(sum(len(props)) AS BIGINT) AS sum_len
           |FROM events""".stripMargin))

  /** Build-once guards for the side stores the round-trips below read
    * back from (Derby database, bucketed warehouse tables). Delegates
    * to [[graft.Memo.once]], which keys on (session, sfDir) and evicts
    * entries when the owning session's context ends — so a long-lived
    * multi-session JVM never pins stopped sessions here (ADVICE r6
    * item 4). The load is paid once per session; Bench's min-of-2 times
    * the steady-state read path — matching how a site would query an
    * already-loaded store. */
  private def loadOnce(spark: SparkSession, sfDir: String, what: String)
      (load: => Unit): Unit =
    graft.Memo.once(spark, s"load:$what:$sfDir")(load)

  /** JVM-global variant for the stores whose backing state is shared by
    * every session of the context — managed warehouse tables (one
    * SharedState catalog) and `target/` scratch directories. A
    * per-session key on these is a rebuild-in-place race, not isolation
    * (VERDICT r9 item 5): a sibling session's DROP+rewrite yanks files
    * out from under a racing reader's cached listing. One build per
    * context serves every session. The Derby load stays session-keyed
    * ([[loadOnce]]): its in-memory database is row-identical on
    * rebuild and the per-session key is part of BucketingSuite's memo
    * isolation contract. */
  private def loadOnceJvm(spark: SparkSession, sfDir: String, what: String)
      (load: => Unit): Unit =
    graft.Memo.onceJvm(spark, s"load:$what:$sfDir")(load)

  /** S5 under the oracle gate: JDBC round-trip through the embedded
    * Derby on the Spark classpath — the production i2b2 connector path
    * (a site's star tables live in an RDBMS; SURVEY.md §2.1 S5). Loads
    * `customer` into Derby once, reads it back as a PARTITIONED jdbc
    * scan (8 parallel range queries on `c_custkey`, the contract that
    * keeps a 100 TB pull off a single connection — Jdbc.scala), and
    * aggregates. The oracle aggregates the source parquet, so any row
    * lost, duplicated or mangled by the SQL round-trip fails parity.
    * `createTableColumnTypes` pins the segment column to VARCHAR
    * (Spark's Derby dialect would default StringType to CLOB). */
  val qSourceJdbc = Q("q_source_jdbc_roundtrip",
    (spark, sfDir) => {
      import spark.implicits._
      val db = "graft_rt_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val url = s"jdbc:derby:memory:$db;create=true"
      loadOnce(spark, sfDir, "jdbc") {
        Jdbc.writeTable(
          Tables.read(spark, sfDir, "customer")
            .select($"c_custkey", $"c_nationkey", $"c_acctbal",
              $"c_mktsegment"),
          url, "customer_rt", SaveMode.Overwrite,
          Map("createTableColumnTypes" -> "c_mktsegment VARCHAR(16)"))
      }
      Jdbc.readPartitionedAuto(spark, url, "customer_rt", "c_custkey", 8)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct($"c_nationkey").as("n_nations"),
          round(sum($"c_acctbal".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_acctbal"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment,
           |       count(*) AS n,
           |       count(DISTINCT c_nationkey) AS n_nations,
           |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_acctbal
           |FROM customer GROUP BY c_mktsegment
           |ORDER BY c_mktsegment""".stripMargin))

  /** S1c: bucketed-table layout (SURVEY.md §4.2) — the 100 TB answer to
    * the reference's clustered fact index. Both fact tables are written
    * bucketed (and per-bucket sorted) on the join key once per session;
    * the join then consumes bucket files directly, with NO exchange on
    * either side — the property PlanSuite locks. The `merge` hint pins
    * the sort-merge strategy a fact⋈fact join gets at scale (AQE would
    * broadcast these fixture-sized tables and bypass the layout being
    * demonstrated). The oracle runs the identical join over the source
    * parquet, so the bucketed write must preserve every row. */
  val qSourceBucketed = Q("q_source_bucketed_join",
    (spark, sfDir) => {
      import spark.implicits._
      val sfx = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val (ot, lt) = (s"orders_bj_$sfx", s"lineitem_bj_$sfx")
      loadOnceJvm(spark, sfDir, "bucketed") {
        Seq((ot, "orders", "o_orderkey"),
            (lt, "lineitem", "l_orderkey")).foreach {
          case (tbl, src, key) =>
            spark.sql(s"DROP TABLE IF EXISTS $tbl")
            // the in-memory catalog forgets tables across JVMs but
            // their files survive in the warehouse dir — clear them or
            // the CTAS refuses (same dance as BucketingSuite)
            Tables.deleteTree(s"target/spark-warehouse/$tbl")
            Tables.read(spark, sfDir, src).write.mode("overwrite")
              .bucketBy(8, key).sortBy(key).saveAsTable(tbl)
        }
      }
      spark.table(lt).hint("merge")
        .join(spark.table(ot), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_quantity".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_qty"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
           |       count(*) AS n,
           |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_qty
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** Cost-based join reordering under catalog statistics — the last
    * unexercised optimizer mechanism beside the runtime family
    * (DPP/AQE-skew/Bloom): `ANALYZE TABLE COMPUTE STATISTICS` gives
    * the catalog row counts + sizes, and with `spark.sql.cbo.enabled`
    * + `joinReorder.enabled` Catalyst's CostBasedJoinReorder rewrites
    * a badly-written join order at PLAN time — the query is
    * deliberately written worst-first (fact ⋈ fact, tiny filtered dim
    * last), the shape a 100 TB ad-hoc query gets wrong most often.
    * Following the E47 pattern, the correctness row runs at default
    * confs (order changes cost, never the result — which is exactly
    * why reordering is legal) and PlanSuite scopes the CBO confs on
    * and asserts the innermost join becomes orders ⋈ filtered-customer
    * with the lineitem fact pushed outermost, while the default-conf
    * plan keeps the syntactic fact-first order. The ANALYZE runs once
    * per session with the table build (stats live in the session
    * catalog). */
  val qJoinCboReorder = Q("q_join_cbo_reorder",
    (spark, sfDir) => {
      import spark.implicits._
      val sfx = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val names = Seq("lineitem", "orders", "customer")
        .map(t => t -> s"cbo_${t}_$sfx").toMap
      loadOnceJvm(spark, sfDir, "cbo") {
        names.foreach { case (src, tbl) =>
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          Tables.deleteTree(s"target/spark-warehouse/$tbl")
          Tables.read(spark, sfDir, src).write.mode("overwrite")
            .saveAsTable(tbl)
          spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
        }
      }
      spark.table(names("lineitem"))
        .join(spark.table(names("orders")),
          $"l_orderkey" === $"o_orderkey")
        .join(spark.table(names("customer"))
          .filter($"c_mktsegment" === "BUILDING"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_quantity".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
           |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_qty
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** 100 TB variants (SURVEY.md §2.4 note): HyperLogLog++ distinct and
    * quantile sketches. Sketch ESTIMATES are engine-specific, so they
    * cannot be hash-compared with DuckDB — but the sketch CONTRACT can
    * (VERDICT r8 item 5): the public query emits the exact values both
    * engines compute identically plus `*_within_bound` booleans the
    * engine derives from its own estimate-vs-exact comparison, while
    * the oracle emits literal TRUE. An estimate outside its advertised
    * bound flips a boolean and FAILS the driver's hash gate — the
    * bounded-pass state, driver-gated, not suite-only. The raw
    * estimate frame stays separately callable for the numeric suite
    * assertions (BucketingSuite). Bounds used: HLL++ rsd 0.02 → 6%+1
    * (3σ); approx_percentile accuracy 1000 → rank error 0.1%, gated
    * against the exact [p49, p51] window (10× margin, deterministic —
    * both sketches are hash-based, no RNG). */
  private[graft] def approxEst(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        approx_count_distinct($"o_custkey", 0.02).as("approx_customers"),
        round(approx_percentile($"o_totalprice", lit(0.5), lit(1000)), 6)
          .as("approx_median_price"))
  }

  val qAggApprox = Q("q_agg_approx",
    (spark, sfDir) => {
      import spark.implicits._
      val exact = Tables.read(spark, sfDir, "orders")
        .groupBy($"o_orderpriority")
        .agg(countDistinct($"o_custkey").as("exact_customers"),
          expr("percentile(o_totalprice, 0.49D)").as("med_lo"),
          expr("percentile(o_totalprice, 0.51D)").as("med_hi"))
      approxEst(spark, sfDir)
        .join(exact, Seq("o_orderpriority"))
        .select($"o_orderpriority", $"exact_customers",
          (abs($"approx_customers" - $"exact_customers") <=
            $"exact_customers" * 0.06 + 1).as("cd_within_bound"),
          ($"approx_median_price" >= $"med_lo" &&
            $"approx_median_price" <= $"med_hi").as("med_within_bound"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
           |       count(DISTINCT o_custkey) AS exact_customers,
           |       TRUE AS cd_within_bound,
           |       TRUE AS med_within_bound
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Mergeable-sketch RE-aggregation — the 100 TB distinct-count
    * architecture: per-day HLL sketches (Apache DataSketches, bundled
    * with Spark 4) are built in one partial-aggregable pass — the shape
    * a daily rollup table would persist — then UNIONED at query time to
    * answer distinct-users-per-type over any date range without
    * rescanning raw events. [[qAggApprox]] sketches directly; this
    * query proves the sketch-of-sketches property that makes
    * pre-aggregation composable. Sketch estimates are engine-specific,
    * so the public query is the bounded-gate form ([[approxEst]] doc):
    * exact distinct users + n_days hash-match DuckDB, and the
    * `within_bound` boolean (|est − exact| ≤ 5%·exact + 1; lgK=12 →
    * rsd 1.6%, 3σ) is TRUE on the oracle side — an out-of-bound
    * estimate fails the driver gate. [[hllUnionEst]] keeps the raw
    * estimate for BucketingSuite's numeric assertion. */
  private[graft] def hllUnionEst(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val daily = Tables.read(spark, sfDir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id").as("sk"))
    daily.groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk"))
          .as("approx_users"),
        count(lit(1)).as("n_days"))
  }

  val qAggHllUnion = Q("q_agg_hll_union",
    (spark, sfDir) => {
      import spark.implicits._
      val exact = Tables.read(spark, sfDir, "events")
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      hllUnionEst(spark, sfDir)
        .join(exact, Seq("event_type"))
        .select($"event_type", $"exact_users", $"n_days",
          (abs($"approx_users" - $"exact_users") <=
            $"exact_users" * 0.05 + 1).as("within_bound"))
        .orderBy($"event_type")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, user_id,
           |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
           |  FROM events
           |)
           |SELECT event_type,
           |       count(DISTINCT user_id) AS exact_users,
           |       count(DISTINCT day) AS n_days,
           |       TRUE AS within_bound
           |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Binary-file ingestion source — how a multimodal corpus (images,
    * audio, video) actually enters Spark at 100 TB: each media object
    * is ONE file on object storage, read by `format("binaryFile")` as
    * (path, modificationTime, length, content) with `pathGlobFilter` /
    * recursive lookup for layout control; the opaque `content` bytes
    * then feed the typed decode pipeline (LLMOps.qMultimodalMeta).
    * The source is read-only by design, so the fixture stands in for
    * object storage with a once-per-session bounded write of 50 doc
    * payloads as individual files (side-store setup, like the Derby
    * load — the 50-row collect is setup, not the query path). The
    * query recovers each file's id from its path, and length + sha256
    * digest from the bytes; the oracle recomputes both from the source
    * table, so a truncated, duplicated or bit-flipped file fails
    * parity. */
  val qSourceBinary = Q("q_source_binary",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "bin_docs")
      loadOnceJvm(spark, sfDir, "binary") {
        val docs = Tables.read(spark, sfDir, "documents")
          .filter($"doc_id" < 50).select($"doc_id", $"text").collect()
        // overwrite semantics like every sibling side-store write:
        // clear survivors from earlier JVMs, or a narrowed doc bound
        // would leave stale .bin files matching the glob (a parity
        // failure only a manual target/ wipe could clear)
        Tables.deleteTree(dir)
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        docs.foreach { r =>
          java.nio.file.Files.write(p.resolve(s"d${r.getLong(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
          ()
        }
      }
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin").load(dir)
        .select(
          regexp_extract($"path", "d(\\d+)\\.bin$", 1).cast("long")
            .as("doc_id"),
          $"length".cast("long").as("n_bytes"),
          sha2($"content", 256).as("digest"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
           |    AS n_bytes,
           |  sha256(text) AS digest
           |FROM documents WHERE doc_id < 50 ORDER BY doc_id"""
      .stripMargin))

  /** Mergeable FREQUENCY-sketch re-aggregation (Count-Min) — completes
    * the sketch family's 100 TB architecture: [[qAggHllUnion]] answers
    * mergeable distinct counts, [[qAggApprox]] quantiles; this answers
    * "how often did key X occur" over any date range from per-day
    * rollup sketches, never rescanning raw events. One partial-
    * aggregable pass builds a Count-Min sketch per day (the shape a
    * daily rollup table persists); query time merges the day sketches
    * ONCE (associative `mergeInPlace`; same eps/confidence/seed is the
    * mergeability contract) and probes each key — probe cost is
    * sketch-local, independent of event count. The merge/probe UDFs
    * are the standard sketch surface (the sketch is opaque bytes, like
    * E44's HLL): driver-bounded rows, never the hot path. Sketch bytes
    * are engine-specific → no DuckDB oracle (driver records rows>0);
    * BucketingSuite asserts the CMS guarantee vs exact counts
    * (overestimate-only, within eps·N). */
  private val cmsMerge = udf((sks: Seq[Array[Byte]]) =>
    // empty rollup (zero-row events) → no sketch, not a crash; the
    // probe list is empty too, so the null never reaches cmsProbe
    if (sks.isEmpty) null
    else {
      val it = sks.iterator
      val acc = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(it.next()))
      it.foreach { b =>
        acc.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(b)))
      }
      val out = new java.io.ByteArrayOutputStream()
      acc.writeTo(out)
      out.toByteArray
    })

  private val cmsProbe = udf((sk: Array[Byte], key: String) =>
    org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(sk))
      .estimateCount(key))

  private[graft] def cmsFreqEst(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // the probe KEY LIST rides the same rollup pass as the sketches
    // (collect_set per day, union-distinct at merge time) — a second
    // events scan to enumerate keys would contradict the whole point
    // of querying from rollups
    val daily = Tables.read(spark, sfDir, "events")
      .groupBy(to_date($"ts").as("day"))
      .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)")
        .as("sk"),
        collect_set($"event_type").as("keys"))
    // merge STRICTLY before the explode select: ExtractGenerator
    // hoists a generator's sibling expressions above the Generate
    // node, so a cmsMerge in the same select as explode() would
    // re-merge all D day sketches once per emitted key (measured
    // +84% on this query) — its own projection pins the merge below
    // the generator, evaluated once
    daily
      .agg(collect_list($"sk").as("sks"), count(lit(1)).as("n_days"),
        array_distinct(flatten(collect_list($"keys"))).as("keys"))
      .select(cmsMerge($"sks").as("sk"), $"n_days", $"keys")
      .select($"sk", $"n_days", explode($"keys").as("event_type"))
      .select($"event_type",
        cmsProbe($"sk", $"event_type").as("est_count"),
        $"n_days")
  }

  /** Bounded-gate form ([[approxEst]] doc): exact per-type counts +
    * global n_days hash-match DuckDB; `within_bound` asserts the CMS
    * contract — never underestimate, overestimate by at most eps·N
    * (eps=0.001, N = stream length) — and is TRUE on the oracle side.
    * With fixed seed 42 the sketch is deterministic, and at ~8 distinct
    * keys vs width ⌈e/eps⌉≈2719 collisions are essentially absent. */
  val qAggCmsFreq = Q("q_agg_cms_freq",
    (spark, sfDir) => {
      import spark.implicits._
      val exact = Tables.read(spark, sfDir, "events")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("exact_count"))
      val n = org.apache.spark.sql.expressions.Window
        .partitionBy() // N = full stream length; post-agg rows only
      cmsFreqEst(spark, sfDir)
        .join(exact, Seq("event_type"))
        .select($"event_type", $"exact_count", $"n_days",
          ($"est_count" >= $"exact_count" &&
            ($"est_count" - $"exact_count") <=
              ceil(sum($"exact_count").over(n) * 0.001))
            .as("within_bound"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS exact_count,
           |       (SELECT count(DISTINCT
           |          date_trunc('day', CAST(ts AS TIMESTAMP)))
           |        FROM events) AS n_days,
           |       TRUE AS within_bound
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Mergeable QUANTILE-sketch re-aggregation (KLL) — closes the
    * sketch-rollup triad ([[qAggHllUnion]] distinct, [[qAggCmsFreq]]
    * frequency): per-day KLL sketches of `value` are built in one
    * partial-aggregable pass (the shape a daily rollup table persists
    * — [[qAggApprox]]'s `approx_percentile` is one-shot and NOT
    * re-aggregable from saved state), then merged at query time to
    * answer p50/p95-over-any-date-range without rescanning raw events —
    * THE production latency-percentile architecture at 100 TB.
    * `kll_sketch_agg_double`/`kll_merge_agg_double` are Spark's own
    * DataSketches aggregates (default k = 200) and
    * `kll_sketch_get_quantile_double` reads the merged sketch; it
    * raises on an EMPTY sketch, which no group here can build (every
    * group is a non-empty event type with non-null values). Sketch
    * estimates are engine-specific → the public query is the
    * bounded-gate form ([[approxEst]] doc): exact p50/p95 (Spark
    * `percentile` vs DuckDB `quantile_cont`, the E9 precedent) and
    * n_days hash-match; the `*_within_bound` booleans assert the KLL
    * rank contract — the estimate must land inside the exact
    * [target−3.5%, target+3.5%] RANK window (k=200 → ~1.65%
    * normalized rank error at 99%, so ±3.5% is a >2σ margin; value
    * space is unbounded for skewed data, rank space is not).
    * BucketingSuite keeps the numeric rank assertion on
    * [[quantileMergeEst]]. */
  private[graft] def quantileMergeEst(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val daily = Tables.read(spark, sfDir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(kll_sketch_agg_double($"value").as("sk"))
    daily.groupBy($"event_type")
      .agg(kll_merge_agg_double($"sk").as("msk"),
        count(lit(1)).as("n_days"))
      .select($"event_type",
        round(kll_sketch_get_quantile_double($"msk", lit(0.5)), 6)
          .as("p50"),
        round(kll_sketch_get_quantile_double($"msk", lit(0.95)), 6)
          .as("p95"),
        $"n_days")
  }

  val qAggQuantileMerge = Q("q_agg_quantile_merge",
    (spark, sfDir) => {
      import spark.implicits._
      val exact = Tables.read(spark, sfDir, "events")
        .groupBy($"event_type")
        .agg(
          round(expr("percentile(value, 0.5D)"), 6).as("exact_p50"),
          round(expr("percentile(value, 0.95D)"), 6).as("exact_p95"),
          expr("percentile(value, 0.465D)").as("p50_lo"),
          expr("percentile(value, 0.535D)").as("p50_hi"),
          expr("percentile(value, 0.915D)").as("p95_lo"),
          expr("percentile(value, 0.985D)").as("p95_hi"))
      quantileMergeEst(spark, sfDir)
        .join(exact, Seq("event_type"))
        .select($"event_type", $"exact_p50", $"exact_p95", $"n_days",
          ($"p50" >= $"p50_lo" && $"p50" <= $"p50_hi")
            .as("p50_within_bound"),
          ($"p95" >= $"p95_lo" && $"p95" <= $"p95_hi")
            .as("p95_within_bound"))
        .orderBy($"event_type")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, value,
           |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
           |  FROM events
           |)
           |SELECT event_type,
           |       round(quantile_cont(value, 0.5), 6) AS exact_p50,
           |       round(quantile_cont(value, 0.95), 6) AS exact_p95,
           |       count(DISTINCT day) AS n_days,
           |       TRUE AS p50_within_bound,
           |       TRUE AS p95_within_bound
           |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Theta-sketch SET-ALGEBRA re-aggregation — the fourth sketch verb,
    * on Spark's own DataSketches theta functions: per-day theta
    * sketches of the user set (`theta_sketch_agg`, default
    * lgNomEntries 12 = 4096 nominal entries) are merged into two
    * month-half windows IN ONE PASS (the CASE-routed conditional
    * merge — `theta_union_agg` skips nulls), then the final row asks
    * the questions HLL state cannot answer: how many users in each
    * half, how many in BOTH (`theta_intersection`), how many only in
    * the first (`theta_difference`) — corpus/cohort overlap without
    * ever joining raw rows. Unlike the KLL/HLL/CMS rows this one
    * carries a FULL oracle: theta sketches are exact until retained
    * entries exceed nominal k (4096), and fixture cardinalities stay
    * under that at every sf, so the estimates ARE the exact counts
    * DuckDB computes with distinct-set joins; at 100 TB the identical
    * query degrades gracefully to ±1.6% estimation (BucketingSuite
    * forces estimation mode and asserts the error bound). */
  val qAggThetaOverlap = Q("q_agg_theta_overlap",
    (spark, sfDir) => {
      import spark.implicits._
      val daily = Tables.read(spark, sfDir, "events")
        .groupBy(to_date($"ts").as("day"))
        .agg(theta_sketch_agg($"user_id").as("sk"))
      daily
        .agg(
          theta_union_agg(when(dayofmonth($"day") <= 15, $"sk")).as("ua"),
          theta_union_agg(when(dayofmonth($"day") > 15, $"sk")).as("ub"))
        .select(
          theta_sketch_estimate($"ua").as("n_a"),
          theta_sketch_estimate($"ub").as("n_b"),
          theta_sketch_estimate(theta_intersection($"ua", $"ub"))
            .as("n_overlap"),
          theta_sketch_estimate(theta_difference($"ua", $"ub"))
            .as("n_only_a"))
    },
    Some("""WITH ev AS (
           |  SELECT user_id,
           |         date_part('day', CAST(ts AS TIMESTAMP)) AS dom
           |  FROM events
           |), a AS (SELECT DISTINCT user_id FROM ev WHERE dom <= 15),
           |   b AS (SELECT DISTINCT user_id FROM ev WHERE dom > 15)
           |SELECT (SELECT count(*) FROM a) AS n_a,
           |       (SELECT count(*) FROM b) AS n_b,
           |       (SELECT count(*) FROM a JOIN b USING (user_id))
           |         AS n_overlap,
           |       (SELECT count(*) FROM a ANTI JOIN b USING (user_id))
           |         AS n_only_a""".stripMargin))

  /** E313: **native approx_top_k sketch rollup** — Spark 4's built-in
    * frequent-items sketch run through the SAME composable pre-agg
    * architecture as the other built-in sketch rows (E44 HLL / E51
    * CMS / E61 KLL / E69 theta): per-day `approx_top_k_accumulate`
    * states (the layer a 100 TB deployment persists once per partition),
    * merged at query time with `approx_top_k_combine` and read with
    * `approx_top_k_estimate` — the daily states never rescan raw
    * data. The audit contract is the E44 driver-gated pattern: the
    * EXACT per-type counts are the hash gate (DuckDB recomputes
    * them), and `within_bound` asserts the sketch's estimate — in
    * this ≤maxItemsTracked regime the sketch is EXACT, so the bound
    * is equality; a deployment past that regime would loosen it to
    * the sketch's published error envelope. Item order from the
    * estimate is re-ranked deterministically before output (the
    * sketch's own tie order is not a contract). */
  val qAggTopkSketch = Q("q_agg_topk_sketch",
    (spark, sfDir) => {
      import spark.implicits._
      val ev = Tables.read(spark, sfDir, "events")
        .select(to_date($"ts").as("day"), $"event_type")
      val daily = ev.groupBy($"day")
        .agg(expr("approx_top_k_accumulate(event_type, 10)")
          .as("state"))
      val est = daily
        .agg(expr(
          "approx_top_k_estimate(approx_top_k_combine(state, 10), 5)")
          .as("tk"))
        .select(explode($"tk").as("e"))
        .select($"e.item".as("event_type"),
          $"e.count".as("est_count"))
      val exact = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("event_type"))
        .select($"event_type", $"exact_count",
          ($"est_count" === $"exact_count").as("within_bound"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS exact_count,
           |  TRUE AS within_bound
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin))

  /** E319: **custom DSv2 source with real pushdown** — the connector-
    * development surface (SeriesSource.scala): a deterministic series
    * GENERATOR table whose ScanBuilder implements
    * `SupportsPushDownFilters` (range predicates on the row index
    * narrow the generated range itself — rows outside [lo, hi) are
    * never materialized, the generator analogue of row-group pruning)
    * and `SupportsPushDownRequiredColumns` (a pruned column is never
    * computed), split into parallel InputPartitions. The oracle
    * recomputes the identical rows from DuckDB's `range()` — so the
    * hash gates the pushdown ARITHMETIC (an off-by-one in the >=/< →
    * [lo, hi) translation shifts a bucket count), the Knuth value
    * function, and the partition-split completeness. PlanSuite locks
    * the scan description to the narrowed bounds and pruned column
    * set. */
  val qSourceDsv2Pushdown = Q("q_source_dsv2_pushdown",
    (spark, sfDir) => {
      import spark.implicits._
      spark.read.format("graft.sources.SeriesSource")
        .option("rows", "100000").option("slices", "8").load()
        .filter($"i" >= 25000L && $"i" < 75000L)
        .select($"i", $"value")
        .groupBy(($"i" % 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min($"i").as("min_i"), max($"i").as("max_i"),
          round(sum($"value"), 4).as("sum_value"))
        .orderBy($"bucket")
    },
    Some("""WITH s AS (
           |  SELECT i,
           |    CAST(i * 2654435761 % 2147483648 % 10000 AS DOUBLE)
           |      / 100.0 AS value
           |  FROM range(25000, 75000) t(i)
           |)
           |SELECT CAST(i % 10 AS INT) AS bucket, count(*) AS n,
           |  min(i) AS min_i, max(i) AS max_i,
           |  round(sum(value), 4) AS sum_value
           |FROM s GROUP BY 1 ORDER BY bucket""".stripMargin))

  /** REBALANCE-hinted output — the 100 TB small-files answer on the
    * WRITE side: a plain `df.write` emits one file per task (32 here;
    * tens of thousands on a real cluster — the classic small-files
    * problem that poisons every downstream scan), while the
    * `rebalance` hint lets AQE re-pack output partitions to the
    * advisory size (64 MB default) before the sink, collapsing the
    * fixture write to a single right-sized file with NO semantic
    * change. FormatsSuite asserts both the RebalancePartitions node in
    * the plan and the on-disk file-count collapse; the oracle (shared
    * with the format round-trips) asserts the re-pack loses nothing. */
  val qOutputRebalance = Q("q_output_rebalance",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "rebalance_events")
      Tables.read(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
        .hint("rebalance")
        .write.mode("overwrite").parquet(dir)
      spark.read.schema(slim).parquet(dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some(roundtripOracle))

  /** S1b: Hive-style partitioned parquet layout — the 100-TB table
    * organization. Writes events partitioned by event_type (low
    * cardinality: 5 directories), reads back filtered to two types,
    * and aggregates. The filter must resolve at PLANNING time from the
    * directory listing (`PartitionFilters` in the scan, pruned before
    * any file is opened) — the property that makes a 100 TB scan touch
    * 2/5ths of the data; PlanSuite locks it. The oracle aggregates the
    * original parquet under the same predicate, so any row lost or
    * duplicated by the partitioned write fails parity. */
  val qSourcePartitioned = Q("q_source_partitioned_roundtrip",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "part_events")
      val slimmed = Tables.read(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
      slimmed.write.mode("overwrite")
        .partitionBy("event_type").parquet(dir)
      spark.read.schema(slim).parquet(dir)
        .filter($"event_type".isin("click", "error"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
           |       count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM events WHERE event_type IN ('click', 'error')
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Dynamic partition OVERWRITE — the WRITE-side half of the
    * partitioned-layout story (E17/E46 prove the read side): the
    * incremental refresh every daily corpus/EHR pipeline runs is
    * "re-run one day and replace ONLY that day's partition". Static
    * overwrite would truncate the whole table first; with
    * `partitionOverwriteMode=dynamic` the commit protocol replaces
    * exactly the partitions the job emitted and leaves every other
    * directory untouched (FormatsSuite asserts the untouched files
    * survive BY NAME, and that the target day's files were replaced).
    * The query backfills all days, then re-writes the corpus' FIRST
    * day with corrected (doubled) values under dynamic mode; the
    * oracle computes the merged expectation from the source table, so
    * a lost partition, a truncated table, or a double-applied refresh
    * all fail parity. Doubling a double is exact (exponent bump), so
    * the decimal-cast sums stay bit-comparable. */
  val qSourcePartitionOverwrite = Q("q_source_partition_overwrite",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "po_events")
      val ev = Tables.read(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value",
          to_date($"ts").as("day"))
      ev.write.mode("overwrite").partitionBy("day").parquet(dir)
      val d0 = ev.agg(min($"day")).first().getDate(0)
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      try {
        spark.conf.set(key, "dynamic")
        ev.filter($"day" === lit(d0))
          .withColumn("value", $"value" * 2)
          .write.mode("overwrite").partitionBy("day").parquet(dir)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val slimDay = StructType(slim.fields :+
        StructField("day", DateType))
      spark.read.schema(slimDay).parquet(dir)
        .groupBy($"day")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"day")
    },
    Some("""WITH ev AS (
           |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |         user_id, value
           |  FROM events
           |), d0 AS (SELECT min(day) AS d FROM ev)
           |SELECT day, count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(
           |         CASE WHEN day = (SELECT d FROM d0)
           |              THEN value * 2 ELSE value END
           |         AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_value
           |FROM ev GROUP BY day ORDER BY day""".stripMargin))

  /** S1b-DPP: dynamic partition pruning — THE scan-reduction mechanism
    * for a 100 TB star join (SURVEY.md §4.2). The fact is the
    * partitioned-by-event_type layout (E17's organization, written once
    * per session); the dim maps event_type → category and is filtered
    * on CATEGORY, so the set of surviving partition keys is only known
    * at RUNTIME — static partition pruning cannot fire. DPP must: the
    * optimizer plants a DynamicPruningExpression in the fact scan's
    * PartitionFilters, fed by reusing the dim's broadcast exchange, so
    * only the matching partition directories are ever opened. PlanSuite
    * locks the expression in the scan AND (post-execution) that only
    * 2 of the 5 partitions were read. The oracle runs the same join
    * over the original parquet with the dim inlined as VALUES, so the
    * partitioned write must also preserve every row. */
  val qSourceDpp = Q("q_source_dpp",
    (spark, sfDir) => {
      import spark.implicits._
      val factDir = fmtDir(sfDir, "dpp_events")
      val dimDir = fmtDir(sfDir, "dpp_dim")
      loadOnceJvm(spark, sfDir, "dpp") {
        Tables.read(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
          .write.mode("overwrite").partitionBy("event_type")
          .parquet(factDir)
        Seq(("click", "engage"), ("view", "engage"),
            ("purchase", "convert"), ("signup", "account"),
            ("error", "ops"))
          .toDF("event_type", "category")
          .coalesce(1).write.mode("overwrite").parquet(dimDir)
      }
      val fact = spark.read.schema(slim).parquet(factDir)
      val dim = spark.read.parquet(dimDir)
        .filter($"category" === "engage")
      fact.join(dim, Seq("event_type"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""WITH dim(event_type, category) AS (
           |  VALUES ('click', 'engage'), ('view', 'engage'),
           |         ('purchase', 'convert'), ('signup', 'account'),
           |         ('error', 'ops')
           |)
           |SELECT e.event_type, count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM events e JOIN dim d ON e.event_type = d.event_type
           |WHERE d.category = 'engage'
           |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin))

  /** Schema-evolution read — the append-only table whose schema GREW:
    * epoch-1 files lack a column later epochs carry, and
    * `mergeSchema=true` must union the file schemas (per-file footer
    * reconciliation, a one-time planning cost) and null-fill the
    * missing column for old rows — the read-side contract that lets a
    * 100 TB table add columns without rewriting history. The grouped
    * result keys on the evolved column, so the NULL group IS the
    * epoch-1 population: losing it (or filling anything but null)
    * fails parity. Null-group ordering pinned NULLS FIRST (engine
    * defaults differ, as with E76). */
  val qSourceSchemaEvolution = Q("q_source_schema_evolution",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "evo_orders")
      loadOnceJvm(spark, sfDir, "evo") {
        val o = Tables.read(spark, sfDir, "orders")
        o.filter($"o_orderkey" % 2 === 0)
          .select($"o_orderkey", $"o_totalprice")
          .write.mode("overwrite").parquet(s"$dir/b1")
        o.filter($"o_orderkey" % 2 === 1)
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
          .write.mode("overwrite").parquet(s"$dir/b2")
      }
      spark.read.option("mergeSchema", "true")
        .parquet(s"$dir/b1", s"$dir/b2")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum($"o_totalprice".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first)
    },
    Some("""SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
           |       END AS o_orderstatus,
           |       count(*) AS n,
           |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))),
           |         6) AS DOUBLE) AS sum_price
           |FROM orders
           |GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST"""
      .stripMargin))

  /** Z-ORDER (Morton) clustered layout — the MULTI-dimensional member
    * of the layout family: partitioning prunes one dim (E17/E46/E62),
    * bucketing co-locates one join key (E34); interleaving the bits of
    * TWO dims into one z-cell key lets a range/point predicate on
    * EITHER dim — or both — prune directories. Dims here: a user hash
    * bucket (2 bits) and a day-of-month band (2 bits), interleaved
    * u₀d₀u₁d₁ into 16 cells; a (user-band × day-band) query rectangle
    * maps to exactly the z-cells whose de-interleaved coordinates fall
    * in the rectangle — 4/16 directories for a quarter×quarter
    * rectangle, 8/16 for EITHER single-dim band (the √-pruning law a
    * 1-D layout cannot give: day-partitioned data reads everything for
    * a user-only filter). At 100 TB the same interleave (more bits,
    * same arithmetic) is how lakehouse OPTIMIZE ZORDER organizes files;
    * cells are directories here because directory listing is the
    * pruning mechanism Spark exposes without a table format.
    * FormatsSuite asserts the directory counts for all three query
    * shapes; the oracle recomputes the interleave arithmetic from raw
    * events, so a bit-order disagreement between engines fails parity
    * per cell. The rectangle filter is zcell-only by construction —
    * 2-bit dims make (cell ↔ coordinate-pair) a bijection, no residual
    * row filter needed. */
  val qLayoutZorder = Q("q_layout_zorder",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "zorder_events")
      loadOnceJvm(spark, sfDir, "zorder") {
        val u2 = $"user_id" % 4
        val d2 = shiftrightunsigned(dayofmonth($"ts") - 1, 3)
        Tables.read(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value",
            (u2.bitwiseAND(1))
              .bitwiseOR(shiftleft(d2.bitwiseAND(1), 1))
              .bitwiseOR(shiftleft(
                shiftrightunsigned(u2, 1).bitwiseAND(1), 2))
              .bitwiseOR(shiftleft(
                shiftrightunsigned(d2, 1).bitwiseAND(1), 3))
              .as("zcell"))
          .write.mode("overwrite").partitionBy("zcell").parquet(dir)
      }
      // the query rectangle (u2 ∈ [1,2], d2 ∈ [1,2]) enumerated into
      // z-cells by the same interleave on the driver — the z-order
      // read-side contract: rectangle → cell list → directory pruning
      def z(u: Long, d: Long): Long =
        (u & 1) | ((d & 1) << 1) | (((u >> 1) & 1) << 2) |
          (((d >> 1) & 1) << 3)
      val cells = for { u <- 1L to 2L; d <- 1L to 2L } yield z(u, d)
      val slimZ = StructType(slim.fields :+
        StructField("zcell", LongType))
      spark.read.schema(slimZ).parquet(dir)
        .filter($"zcell".isin(cells: _*))
        .groupBy($"zcell")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"zcell")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, value,
           |         user_id % 4 AS u2,
           |         (date_part('day', CAST(ts AS TIMESTAMP)) - 1) >> 3
           |           AS d2
           |  FROM events
           |)
           |SELECT ((u2 & 1) | ((d2 & 1) << 1) | (((u2 >> 1) & 1) << 2)
           |         | (((d2 >> 1) & 1) << 3)) AS zcell,
           |       count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM ev WHERE u2 BETWEEN 1 AND 2 AND d2 BETWEEN 1 AND 2
           |GROUP BY 1 ORDER BY zcell""".stripMargin))

  /** E311: **Hilbert-curve clustered layout** — the locality upgrade
    * over E67's Morton/z-order: both fold two dimensions into one
    * clustering key, but the Hilbert walk has NO diagonal jumps —
    * consecutive indices are always grid-adjacent (OperatorSuite pins
    * the bijection + adjacency on the full 8×8 grid), so a query
    * rectangle covers fewer, longer runs of the key and a
    * range-sorted file layout scans fewer files per rectangle. The
    * key is the new native codegen'd `hilbert_index(x, y, order)`
    * expression (functions/HilbertIndex.scala — the (b)-rung custom-
    * Expression discipline); dims are a user bucket × day band on an
    * 8×8 grid. The read-side contract mirrors E67: the query
    * rectangle (u∈[2,4], d∈[1,3]) is enumerated into curve cells BY
    * THE SAME FUNCTION on the driver (9 cells → the isin prune;
    * sorted, they collapse to 4 contiguous index ranges vs z-order's
    * 6 for this rectangle — the locality win made concrete). The
    * ORACLE unrolls the identical 3-level reflect-and-swap arithmetic
    * as generated CTEs (the k-core generated-unroll discipline) and
    * filters the rectangle directly — so parity per cell proves the
    * native expression against an independent SQL derivation of the
    * curve. */
  val qLayoutHilbert = Q("q_layout_hilbert",
    (spark, sfDir) => {
      import spark.implicits._
      val ev = Tables.read(spark, sfDir, "events")
        .select($"user_id", $"value",
          expr("""hilbert_index(CAST(user_id % 8 AS BIGINT),
            |CAST((dayofmonth(ts) - 1) div 4 AS BIGINT), 3)"""
            .stripMargin.replace('\n', ' ')).as("hcell"))
      val cells = for { u <- 2L to 4L; d <- 1L to 3L }
        yield graft.functions.HilbertHelper.xy2d(3, u, d)
      ev.filter($"hcell".isin(cells: _*))
        .groupBy($"hcell")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"hcell")
    },
    Some {
      val base =
        """WITH h0 AS (
          |  SELECT user_id, value,
          |    CAST(user_id % 8 AS BIGINT) AS x0,
          |    CAST((date_part('day', CAST(ts AS TIMESTAMP)) - 1) // 4
          |      AS BIGINT) AS y0,
          |    CAST(0 AS BIGINT) AS d0
          |  FROM events
          |  WHERE user_id % 8 BETWEEN 2 AND 4
          |    AND (date_part('day', CAST(ts AS TIMESTAMP)) - 1) // 4
          |      BETWEEN 1 AND 3
          |)""".stripMargin
      val rounds = Seq(4L, 2L, 1L).zipWithIndex.map { case (s, idx) =>
        val i = idx + 1
        s""", g$i AS (
           |  SELECT user_id, value, x${i - 1} AS x, y${i - 1} AS y,
           |    d${i - 1} AS d,
           |    CASE WHEN (x${i - 1} & $s) > 0 THEN 1 ELSE 0 END AS rx,
           |    CASE WHEN (y${i - 1} & $s) > 0 THEN 1 ELSE 0 END AS ry
           |  FROM h${i - 1}
           |), h$i AS (
           |  SELECT user_id, value,
           |    CASE WHEN ry = 0 THEN
           |      (CASE WHEN rx = 1 THEN $s - 1 - y ELSE y END)
           |    ELSE x END AS x$i,
           |    CASE WHEN ry = 0 THEN
           |      (CASE WHEN rx = 1 THEN $s - 1 - x ELSE x END)
           |    ELSE y END AS y$i,
           |    d + ${s * s} * xor(3 * rx, ry) AS d$i
           |  FROM g$i
           |)""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT d3 AS hcell, count(*) AS n,
          |  count(DISTINCT user_id) AS n_users,
          |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
          |    AS DOUBLE) AS sum_value
          |FROM h3 GROUP BY 1 ORDER BY hcell""".stripMargin
    })

  /** E95: **mixed-writer timestamp-unit scan** — the lake-drift scenario
    * this round's headline defect proved real (VERDICT r9 item 1): one
    * logical events table whose files were written by TWO writer
    * generations, a legacy store encoding `ts` as raw int64 epoch-nanos
    * and a modern store encoding parquet `timestamp[µs]`. The side
    * store re-encodes the even-id half of the fixture as the legacy
    * unit and keeps the odd half µs; the query reads each store through
    * [[graft.Tables.read]] — whose per-path footer probe takes the
    * raw-nanos branch for one and the native branch for the other, the
    * contract FormatsSuite pins — unions them into the one logical
    * TimestampType schema, and aggregates per (day, event_type). The
    * oracle aggregates the ORIGINAL single-unit parquet, so a row lost
    * to either branch, or any 1000×-style unit corruption (which would
    * relabel every day bucket), fails the hash.
    *
    * Scale: at 100 TB the table-format metadata layer tells you the
    * file groups; the engine-side requirement is exactly this — probe
    * once per file group (O(footers), driver-side), normalize units at
    * the scan edge so every downstream operator sees one logical type,
    * and never assume the whole lake shares one writer's encoding. */
  val qSourceMixedTsUnits = Q("q_source_mixed_ts_units",
    (spark, sfDir) => {
      import spark.implicits._
      val nsRoot = fmtDir(sfDir, "mixed_ns")
      val usRoot = fmtDir(sfDir, "mixed_us")
      loadOnceJvm(spark, sfDir, "mixedunits") {
        val ev = Tables.read(spark, sfDir, "events")
        // legacy writer: raw epoch-nanos int64 (exact: source is µs)
        ev.filter($"event_id" % 2 === 0)
          .withColumn("ts", expr("unix_micros(ts) * 1000L"))
          .write.mode("overwrite").parquet(s"$nsRoot/events.parquet")
        // modern writer: parquet timestamp[µs]. The conf is scoped
        // save/restore — a leaked session-wide outputTimestampType
        // would silently re-encode EVERY later timestamp write in the
        // session (Verify's own result files included)
        val key = "spark.sql.parquet.outputTimestampType"
        val prior = spark.conf.getOption(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try ev.filter($"event_id" % 2 === 1)
          .write.mode("overwrite").parquet(s"$usRoot/events.parquet")
        finally prior match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      }
      val legacy = Tables.read(spark, nsRoot, "events")
      val modern = Tables.read(spark, usRoot, "events")
      legacy.unionAll(modern)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"day", $"event_type")
    },
    Some("""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |       event_type,
           |       count(*) AS n,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin))

  /** E97: **same-directory mixed timestamp units** — the sharper form
    * of E95 (VERDICT r10 item 2): ONE directory whose part files were
    * written by two writer generations, raw int64 epoch-nanos files
    * sitting NEXT TO parquet timestamp[µs] files under the same root.
    * E95's two-root layout let the per-path probe pick one branch per
    * root; here a whole-path schema inference would hit a merged-schema
    * conflict (LongType vs TimestampType) and fail. [[graft.Tables
    * .read]]'s footer probe instead classifies every data file,
    * partitions the listing into unit groups, scans each group with
    * its branch, and unions — so the query's per-(day, event_type)
    * aggregate over the mixed root must equal the oracle's aggregate
    * over the ORIGINAL single-unit fixture exactly; a file routed
    * through the wrong branch shifts whole day buckets 1000× and
    * fails the hash.
    *
    * Scale: at 100 TB intra-table drift is the day-one case — the
    * same partition directory accretes files from fleet-mixed writer
    * versions; classify-per-file (O(footers), driver-side, memoized)
    * + per-group scans + a zero-shuffle union is the engine-side
    * answer, and the table-format metadata layer supplies the same
    * grouping without the footer sweep. */
  val qSourceMixedUnitsOneDir = Q("q_source_mixed_units_one_dir",
    (spark, sfDir) => {
      import spark.implicits._
      val root = fmtDir(sfDir, "mixed_onedir")
      loadOnceJvm(spark, sfDir, "mixedonedir") {
        val ev = Tables.read(spark, sfDir, "events")
        val dir = s"$root/events.parquet"
        // legacy writer first (overwrite clears survivors), raw
        // epoch-nanos int64 (exact: source is µs)
        ev.filter($"event_id" % 2 === 0)
          .withColumn("ts", expr("unix_micros(ts) * 1000L"))
          .write.mode("overwrite").parquet(dir)
        // modern writer APPENDS µs part files into the SAME directory
        // (job-unique part names cannot collide); scoped save/restore
        // as in E95 so no session-wide write conf leaks
        val key = "spark.sql.parquet.outputTimestampType"
        val prior = spark.conf.getOption(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try ev.filter($"event_id" % 2 === 1)
          .write.mode("append").parquet(dir)
        finally prior match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        // the fixture just rewrote the directory: a stale unit-group
        // memo from an earlier JVM-lifetime read of this path (only
        // possible if a suite raced the store build) must not survive
        Tables.invalidateUnitProbes()
      }
      Tables.read(spark, root, "events")
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"day", $"event_type")
    },
    Some("""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |       event_type,
           |       count(*) AS n,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin))

  /** List a directory's parquet data files driver-side: (count, total
    * bytes). One FS listing, O(files), no Spark job — the same class
    * of metadata operation as [[graft.Tables]]' footer probe; a table
    * format serves it from its manifest without touching storage. */
  private[graft] def listDataFiles(spark: SparkSession,
      dir: String): (Int, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    (files.length, files.map(_.getLen).sum)
  }

  /** E99: **small-file compaction** — the OPTIMIZE bin-packing rewrite
    * every lakehouse runs as table maintenance. Streaming ingest and
    * frequent small appends leave a table as thousands of KB-sized
    * files; at 100 TB that debris is the #1 read-amplification killer
    * (per-file open/footer/seek costs dominate, the scheduler drowns
    * in splits, and listing itself becomes O(minutes)). The compactor
    * here is the real algorithm at fixture scale: ONE driver-side
    * listing sizes the input ([[listDataFiles]], O(files) — a table
    * format reads the same sizes from its manifest), the output file
    * count is `ceil(total_bytes / target)`, and a hash `repartition`
    * to exactly that count rewrites the data so each task emits one
    * ~target-sized file. The rewrite is ONE narrow-scan + ONE
    * round-robin exchange — no aggregation, no sort (z-order/E67 is
    * the sorted variant); at scale it runs per partition directory so
    * compaction units are independent and incremental.
    *
    * The result aggregates the COMPACTED store per event_type with
    * the standard roundtrip oracle, so any row lost or duplicated by
    * the rewrite fails the hash; two audit booleans — recomputed
    * driver-side from fresh listings, constant-TRUE in the oracle —
    * gate the physical outcome (fewer files than the debris store;
    * every output file ≤ 2× target, the bin-packing bound with
    * compression slack). FormatsSuite pins the exact counts. */
  val qLayoutCompact = Q("q_layout_compact",
    (spark, sfDir) => {
      import spark.implicits._
      val smallDir = fmtDir(sfDir, "compact_small")
      val outDir = fmtDir(sfDir, "compact_out")
      val targetBytes = 4L << 20 // 4 MiB target files (fixture-scaled)
      loadOnceJvm(spark, sfDir, "compact") {
        // ingest debris: 64 tiny files, one per hash partition (the
        // one-file-per-micro-batch pattern a streaming sink leaves)
        Tables.read(spark, sfDir, "events")
          .repartition(64, $"event_id")
          .write.mode("overwrite").parquet(smallDir)
        val (_, totalBytes) = listDataFiles(spark, smallDir)
        val nOut = math.max(1L,
          (totalBytes + targetBytes - 1) / targetBytes).toInt
        spark.read.schema(Tables.events).parquet(smallDir)
          .repartition(nOut)
          .write.mode("overwrite").parquet(outDir)
      }
      val (nIn, _) = listDataFiles(spark, smallDir)
      val (nOut, _) = listDataFiles(spark, outDir)
      val sizesOk = {
        import org.apache.hadoop.fs.{Path => HPath}
        val p = new HPath(outDir)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(p)
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .forall(_.getLen <= 2 * targetBytes)
      }
      spark.read.schema(Tables.events).parquet(outDir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .withColumn("compacted_fewer_files", lit(nOut < nIn))
        .withColumn("files_within_target", lit(sizesOk))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
           |       count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value,
           |       TRUE AS compacted_fewer_files,
           |       TRUE AS files_within_target
           |FROM events GROUP BY event_type ORDER BY event_type"""
      .stripMargin))

  /** E100: **file-level min/max data skipping** — the pruning layer
    * BETWEEN partition pruning (E17/E46: directory granularity) and
    * parquet row-group stats (inside one file): skip whole FILES from
    * the listing before the scan starts, the way every table format's
    * manifest stats (or an external stats index) serve point/range
    * queries on a 100 TB table without touching 99% of its files.
    * Three steps, each the real shape: (1) the layout clusters on the
    * predicate column (`repartitionByRange(16, ts)` — range-clustered
    * files have tight disjoint [min,max] envelopes; an unclustered
    * layout makes every file's envelope span everything and skipping
    * degenerates to a full scan — clustering IS what makes stats
    * selective); (2) the index build is ONE distributed pass grouping
    * the hidden `_metadata.file_path` column into per-file min/max —
    * O(files) rows collected driver-side, exactly a manifest stats
    * table (at 100 TB it's built incrementally per write, not by
    * re-scan); (3) the read intersects the predicate interval with
    * each envelope, reads ONLY surviving files as an explicit file
    * list, and re-applies the predicate as a residual filter — so
    * correctness NEVER depends on index freshness (a stale index can
    * only over-read or, if files were rewritten, fail loudly; it
    * cannot silently wrong-answer the rows it does read — same
    * contract as [[graft.Tables]]' immutable-path probe memo).
    *
    * The audit boolean (driver-computed, constant-TRUE in the oracle)
    * gates that pruning actually dropped files; the aggregate itself
    * is oracle-checked against the raw fixture, so the surviving-file
    * union + residual filter must reproduce the full-scan answer
    * exactly. FormatsSuite pins the skip ratio for the 3-day window
    * (≤ 4 of 16 files survive). */
  val qSourceSkippingIndex = Q("q_source_skipping_index",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "skip_events")
      loadOnceJvm(spark, sfDir, "skipidx") {
        Tables.read(spark, sfDir, "events")
          .repartitionByRange(16, $"ts")
          .write.mode("overwrite").parquet(dir)
      }
      val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-13 00:00:00")
      // manifest stats: per-file ts envelope, one distributed pass
      val stats = spark.read.schema(Tables.events).parquet(dir)
        .select(col("_metadata.file_path").as("f"), $"ts")
        .groupBy($"f")
        .agg(min($"ts").as("lo"), max($"ts").as("hi"))
        .collect() // O(files) — the stats table a manifest serves
      val keep = stats.toSeq
        .filter { r =>
          val fLo = r.getAs[java.sql.Timestamp]("lo")
          val fHi = r.getAs[java.sql.Timestamp]("hi")
          !(fHi.before(lo) || !fLo.before(hi)) // envelope ∩ [lo,hi) ≠ ∅
        }
        .map(_.getAs[String]("f")).sorted
      val pruned = keep.nonEmpty && keep.size < stats.length
      spark.read.schema(Tables.events).parquet(keep: _*)
        .filter($"ts" >= lit(lo) && $"ts" < lit(hi)) // residual filter
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .withColumn("files_skipped", lit(pruned))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value,
           |       TRUE AS files_skipped
           |FROM (SELECT event_type, value,
           |        CAST(ts AS TIMESTAMP) AS t FROM events) ev
           |WHERE t >= TIMESTAMP '2024-01-10 00:00:00'
           |  AND t < TIMESTAMP '2024-01-13 00:00:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** E104: **federated tri-source join** — ONE Catalyst plan joining
    * three physically different sources: a parquet fact (lineitem), a
    * CSV extract (orders — the flat-file drop a partner system
    * delivers), and a JDBC dimension (customer in Derby — the
    * operational RDBMS the reference itself lives in). This is the
    * composition story the per-format roundtrip rows (S4/S5/E18/E33…)
    * individually cannot show: the engine's operators are
    * source-agnostic, so a 100 TB lake table joins an RDBMS dimension
    * and a partner CSV drop in one declarative plan — Catalyst prunes
    * columns INTO each source (parquet ReadSchema, CSV required-column
    * parse, JDBC generated SELECT list), the dimension broadcasts, and
    * the CSV side never materializes outside the plan. The oracle runs
    * the same join over the original parquet tables, so any row lost
    * or mangled by EITHER export leg (CSV formatting, JDBC types)
    * fails the hash. */
  val qJoinFederated = Q("q_join_federated",
    (spark, sfDir) => {
      import spark.implicits._
      val csvDir = fmtDir(sfDir, "fed_orders_csv")
      val db = "graft_fed_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val url = s"jdbc:derby:memory:$db;create=true"
      loadOnceJvm(spark, sfDir, "fedcsv") {
        Tables.read(spark, sfDir, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
          .write.mode("overwrite").option("header", "true").csv(csvDir)
      }
      loadOnce(spark, sfDir, "fedjdbc") {
        Jdbc.writeTable(
          Tables.read(spark, sfDir, "customer")
            .select($"c_custkey", $"c_mktsegment"),
          url, "customer_fed", SaveMode.Overwrite,
          Map("createTableColumnTypes" -> "c_mktsegment VARCHAR(16)"))
      }
      val o = spark.read
        .schema(StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType))))
        .option("header", "true").csv(csvDir)
      val c = Jdbc.readPartitionedAuto(spark, url, "customer_fed",
        "c_custkey", 8)
      Tables.read(spark, sfDir, "lineitem")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment", $"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_extendedprice".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_price"))
        .orderBy($"c_mktsegment", $"o_orderstatus")
    },
    Some("""SELECT c_mktsegment, o_orderstatus,
           |       count(*) AS n,
           |       CAST(round(sum(CAST(l_extendedprice
           |         AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_price
           |FROM lineitem
           |JOIN orders   ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment, o_orderstatus
           |ORDER BY c_mktsegment, o_orderstatus""".stripMargin))

  /** Audit flags computed inside [[qIncrementalMv]]'s memoized build
    * (per sfDir): did the incremental refresh leave every unaffected
    * MV partition's files byte-identical (same file names — dynamic
    * overwrite writes fresh UUID-named parts into every partition it
    * touches, so name-set equality IS the untouched proof). */
  private val mvAudit =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** E106: **incremental materialized-view maintenance** — the ETL
    * pattern that makes a 100 TB aggregate table affordable: never
    * recompute the world, recompute exactly the partitions new data
    * touched. The base table is day-partitioned (E17's layout) and
    * append-only (the only write ingestion performs); the MV is the
    * per-(day, event_type) aggregate, also day-partitioned. Epoch 1
    * builds both from the first 20 days (minus a planted late-arrival
    * slice). Epoch 2 appends the rest INCLUDING late arrivals for
    * days 18–20 — so the affected-day set straddles already-built MV
    * partitions, the case that breaks naive append-only rollups. The
    * refresh then: (a) derives affected days from the new batch alone
    * (at scale: the ingest manifest), (b) recomputes ONLY those days
    * with a partition-PRUNED scan of the base (the filter is on the
    * partition column, so unaffected day directories are never
    * opened), and (c) lands them with dynamic partition overwrite
    * (E62's mechanism) so untouched MV partitions are not rewritten.
    * Cost ∝ affected partitions, not table size. Full-day recompute —
    * not delta-merge — is deliberate: it keeps non-mergeable
    * aggregates (distinct counts, percentiles) correct with the same
    * machinery. The oracle recomputes the MV from the raw fixture, so
    * a lost late row, a double-applied append, or an over/under-
    * scoped overwrite fails the hash; the audit boolean (file-name
    * sets of unaffected partitions unchanged across the refresh,
    * constant-TRUE in the oracle) pins that the refresh really was
    * incremental, not a disguised full rebuild. */
  val qIncrementalMv = Q("q_incremental_mv",
    (spark, sfDir) => {
      import spark.implicits._
      val baseDir = fmtDir(sfDir, "mv_base")
      val mvDir = fmtDir(sfDir, "mv_agg")
      def mvAgg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"day", $"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast("decimal(18,6)")).as("sum_value_dec"))
      def filesByDay(dir: String): Map[String, Set[String]] = {
        val d = new java.io.File(dir)
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("day="))
          .map { p =>
            p.getName -> Option(p.listFiles()).getOrElse(Array.empty)
              .filter(f => f.isFile && !f.getName.startsWith("_")
                && !f.getName.startsWith("."))
              .map(_.getName).toSet
          }.toMap
      }
      loadOnceJvm(spark, sfDir, "incmv") {
        val ev = Tables.read(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value",
            to_date($"ts").as("day"))
        val late = dayofmonth($"day").between(18, 20) &&
          $"event_id" % 7 === 0
        val batch1 = ev.filter(dayofmonth($"day") <= 20 && !late)
        val batch2 = ev.filter(dayofmonth($"day") >= 21 || late)
        batch1.write.mode("overwrite").partitionBy("day")
          .parquet(baseDir)
        mvAgg(batch1).write.mode("overwrite").partitionBy("day")
          .parquet(mvDir)
        val before = filesByDay(mvDir)
        // ingestion: append-only, never rewrites
        batch2.write.mode("append").partitionBy("day").parquet(baseDir)
        // affected days from the NEW batch alone (= ingest manifest)
        val affected = batch2.select($"day").distinct().collect()
          .map(_.getDate(0)).toSeq
        // partition-pruned recompute of exactly the affected days
        val refreshed = mvAgg(
          spark.read.parquet(baseDir)
            .filter($"day".isin(affected: _*)))
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(key)
        try {
          spark.conf.set(key, "dynamic")
          refreshed.write.mode("overwrite").partitionBy("day")
            .parquet(mvDir)
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        val after = filesByDay(mvDir)
        val affectedDirs = affected.map(d => s"day=$d").toSet
        mvAudit.put(s"$sfDir", before.filter {
          case (d, _) => !affectedDirs(d)
        }.forall { case (d, fs) => after.get(d).contains(fs) })
      }
      spark.read.parquet(mvDir)
        .select($"day", $"event_type", $"n",
          round($"sum_value_dec", 6).cast("double").as("sum_value"))
        .withColumn("untouched_preserved",
          lit(Option(mvAudit.get(s"$sfDir")).exists(_.booleanValue)))
        .orderBy($"day", $"event_type")
    },
    Some("""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |       event_type, count(*) AS n,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value,
           |       TRUE AS untouched_preserved
           |FROM events GROUP BY 1, 2 ORDER BY day, event_type"""
      .stripMargin))

  /** E107: **exact distinct counts via mergeable bitmap rollups** —
    * the EXACT member of the composable pre-aggregation family
    * (E44 HLL / E51 CMS / E61 KLL / E69 theta are the approximate
    * members): `bitmap_bucket_number` partitions the id space into
    * fixed 32k-bit buckets, `bitmap_construct_agg(bitmap_bit_position
    * (id))` builds one ≤4 KB bitmap per (group, day, bucket) — the
    * STORED rollup a pipeline materializes per ingest day —
    * and query time is `bitmap_or_agg` (set union = bitwise OR,
    * associative/commutative/idempotent ⇒ mergeable across any
    * day split, immune to double-merge) + `bitmap_count` + a sum over
    * buckets. Distinct-count queries over N days then read O(groups ×
    * buckets-touched × days) KB-sized rows instead of re-scanning N
    * days of raw facts, with NO approximation — the trade vs HLL is
    * size (bitmaps ∝ id-range/8 bytes vs HLL's fixed 1–2 KB) bought
    * back by bucket sparsity: only buckets an id actually hit exist.
    * Also the plan-shape win: countDistinct's expand+double-shuffle
    * never runs — both levels are plain partial-aggregable hash aggs.
    * The oracle recomputes count(DISTINCT) from raw events, so a
    * dropped bucket, a wrong bit position, or a double-ORed day (which
    * idempotence makes harmless — the test is that it STAYS harmless)
    * fails the count. */
  val qAggBitmapDistinct = Q("q_agg_bitmap_distinct",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "bitmap_rollup")
      loadOnceJvm(spark, sfDir, "bitmap") {
        Tables.read(spark, sfDir, "events")
          .groupBy($"event_type", to_date($"ts").as("day"),
            expr("bitmap_bucket_number(user_id)").as("bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
            .as("bm"))
          .write.mode("overwrite").parquet(dir)
      }
      spark.read.parquet(dir)
        .groupBy($"event_type", $"bucket")
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("cnt"))
        .groupBy($"event_type")
        .agg(sum($"cnt").cast("long").as("n_users"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
           |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           |FROM events GROUP BY event_type ORDER BY event_type"""
      .stripMargin))

  /** The E108 wire schema — the string a schema registry would serve.
    * All fields REQUIRED: the wire contract for this record type. */
  private val avroWireSchemaJson =
    """{"type":"record","name":"ev","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"}]}""".stripMargin

  /** E108: **Avro wire-format codec** — binary single-record Avro on a
    * per-row basis, the message-bus serialization path (what a Kafka
    * `value` column is): distinct from the Avro FILE round-trip (E33),
    * which exercises the container-file source/sink — here the codec
    * handles a 100 TB stream of framed binary records where no file
    * container exists. The first-choice implementation is the
    * connector module's `to_avro`/`from_avro` Catalyst expressions,
    * but THIS distribution bundles only the Avro file format into
    * spark-sql (the `CatalystDataToAvro`/`AvroDataToCatalyst`
    * expression classes are not on the classpath — calling the
    * functions throws AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE), so the
    * codec runs in typed `mapPartitions` over the public Avro runtime
    * — the documented-legitimate tier for per-partition imperative
    * resource reuse, and the SAME pattern the expression would codegen:
    * parse the registry schema ONCE per partition, reuse ONE
    * ByteArrayOutputStream + BinaryEncoder/Decoder across all rows
    * (per-row factory allocation is the classic Avro throughput
    * mistake). Encode → decode composes to the identity; the aggregate
    * runs on decoded columns and the oracle aggregates the original
    * parquet, so any field mangled by either leg (zig-zag long/double
    * encodings, UTF-8 charset) fails the hash. Column-pruning caveat
    * pinned by design: one binary blob must decode whole — exactly why
    * the lake stores columnar parquet and the wire format stays at the
    * ingest edge. */
  val qCodecAvroWire = Q("q_codec_avro_wire",
    (spark, sfDir) => {
      import spark.implicits._
      val schemaJson = avroWireSchemaJson
      val ev = Tables.read(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[(Long, Long, String, Double)]
      val wire = ev.mapPartitions { it =>
        import org.apache.avro.generic.{GenericData, GenericDatumWriter,
          GenericRecord}
        import org.apache.avro.io.EncoderFactory
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val writer = new GenericDatumWriter[GenericRecord](schema)
        val out = new java.io.ByteArrayOutputStream(64)
        var enc: org.apache.avro.io.BinaryEncoder = null
        val rec = new GenericData.Record(schema)
        it.map { case (id, uid, et, v) =>
          out.reset()
          enc = EncoderFactory.get().binaryEncoder(out, enc)
          rec.put("event_id", id)
          rec.put("user_id", uid)
          rec.put("event_type", et)
          rec.put("value", v)
          writer.write(rec, enc)
          enc.flush()
          out.toByteArray
        }
      }
      wire.mapPartitions { it =>
        import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
        import org.apache.avro.io.DecoderFactory
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val reader = new GenericDatumReader[GenericRecord](schema)
        var dec: org.apache.avro.io.BinaryDecoder = null
        var rec: GenericRecord = null
        it.map { bytes =>
          dec = DecoderFactory.get().binaryDecoder(bytes, dec)
          rec = reader.read(rec, dec)
          (rec.get("event_id").asInstanceOf[Long],
            rec.get("user_id").asInstanceOf[Long],
            rec.get("event_type").toString,
            rec.get("value").asInstanceOf[Double])
        }
      }.toDF("event_id", "user_id", "event_type", "value")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some(roundtripOracle))

  /** E141: **malformed-record ingestion (PERMISSIVE mode)** — real
    * 100 TB CSV lakes contain garbage lines, and the ingestion
    * contract is quarantine-not-crash: read with a declared schema in
    * PERMISSIVE mode, capture unparseable lines in the corrupt-record
    * column, and report (clean aggregate, quarantine count) in one
    * pass. The fixture plants EXACTLY four malformed lines (bad long,
    * bad double, non-numeric both fields, arity overflow) as an extra
    * part file beside a clean CSV dump of orders, so the oracle can
    * state the expected counts from the parquet source: any planted
    * line leaking into the clean aggregate breaks the DECIMAL sum
    * hash, any clean line mis-flagged breaks n_good. Two pinned
    * subtleties: (1) Spark's corrupt-column restriction does not bite
    * — it only forbids queries whose referenced columns are SOLELY
    * the corrupt-record column; (2) CSV column pruning
    * (spark.sql.csv.parser.columnPruning, default on) means a line is
    * only "malformed" with respect to the columns the query actually
    * reads — a garbage o_orderkey parses clean if only o_totalprice
    * is referenced (measured: n_bad 4→2). The quarantine aggregate
    * therefore references EVERY data column, which is also the
    * stronger audit. */
  val qSourceCsvMalformed = Q("q_source_csv_malformed",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "csv_malformed")
      Tables.read(spark, sfDir, "orders")
        .select($"o_orderkey", $"o_totalprice")
        .write.mode("overwrite").csv(dir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "part-99999-planted.csv"),
        "notakey,1.5\n2,notaprice\nbad,bad\n1,2.0,3,4\n")
      val sch = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("_corrupt", StringType)))
      spark.read.schema(sch)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dir)
        // no cache needed: Spark only forbids queries whose referenced
        // columns are SOLELY the corrupt-record column; this aggregate
        // reads the data columns too, so the single-pass form is legal
        .agg(
          count(when($"_corrupt".isNull, 1)).as("n_good"),
          count(when($"_corrupt".isNotNull, 1)).as("n_bad"),
          sum(when($"_corrupt".isNull, $"o_orderkey")).cast("long")
            .as("sum_good_keys"),
          round(sum(when($"_corrupt".isNull,
            $"o_totalprice".cast("decimal(18,6)"))), 6)
            .cast("double").as("sum_good_price"))
    },
    Some("""SELECT count(*) AS n_good,
           |       CAST(4 AS BIGINT) AS n_bad,
           |       CAST(sum(o_orderkey) AS BIGINT) AS sum_good_keys,
           |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))),
           |         6) AS DOUBLE) AS sum_good_price
           |FROM orders""".stripMargin))

  /** E145: **nested-struct schema pruning** — 100 TB event lakes are
    * nested (meta/payload envelopes), and the scan cost question is
    * whether reading `meta.event_type` decodes ONLY that parquet leaf
    * or the whole struct: Spark's nested-schema-pruning rewrites the
    * read schema to the referenced leaves (PlanSuite locks
    * `ReadSchema` to exclude the payload branch — the difference
    * between scanning kilobytes of dictionary-coded types and
    * terabytes of payload). The fixture nests events into
    * meta(user_id, event_type) / payload(value, props) once per
    * (sfDir), and the oracle aggregates the FLAT parquet — so the
    * nesting round-trip is also correctness-gated, not just
    * plan-gated. */
  val qSourceNestedPrune = Q("q_source_nested_prune",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "nested")
      Tables.read(spark, sfDir, "events")
        .select($"event_id",
          struct($"user_id", $"event_type").as("meta"),
          struct($"value", $"props").as("payload"))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
        .groupBy($"meta.event_type".as("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct($"meta.user_id").as("n_users"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
           |       count(DISTINCT user_id) AS n_users
           |FROM events GROUP BY event_type
           |ORDER BY event_type""".stripMargin))

  /** E166: **range-partitioned sorted layout** — the 1-D ordering
    * twin of z-order (E67 interleaves two dimensions; a time-series
    * lake wants plain event-time order): `repartitionByRange(ts)` +
    * `sortWithinPartitions(ts, event_id)` writes files that are
    * globally range-disjoint and internally sorted, so every file's
    * parquet min/max ts stats are TIGHT and a time predicate prunes
    * to the one file range covering it (the layout E100's skipping
    * index assumes). Determinism caveat pinned (the E42 lesson):
    * repartitionByRange picks its boundaries by reservoir SAMPLING —
    * the file SPLIT can differ between runs; the CONTENT cannot, and
    * the readback aggregate (plus the oracle over the source
    * parquet) gates exactly that. PlanSuite locks the
    * RangePartitioning exchange in the write plan. */
  val qLayoutRangeSorted = Q("q_layout_range_sorted",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "range_sorted")
      Tables.read(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
        .repartitionByRange(8, $"ts")
        .sortWithinPartitions($"ts", $"event_id")
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some(roundtripOracle))

  /** E182: **write-audit-publish (WAP)** — the lakehouse publishing
    * contract (Iceberg/dbt's staging pattern): a candidate batch is
    * written to STAGING, the constraint audit (the E111 shape: FK
    * orphans, PK duplicates, null keys) runs against staging, and
    * only a CLEAN batch is atomically promoted to the published
    * location — a dirty batch leaves the published state untouched.
    * The fixture exercises BOTH branches in one query: candidate A is
    * clean (publishes), candidate B plants an FK orphan + a duplicate
    * PK (rejected), and the output reports each candidate's violation
    * count, publish decision, and the published table's row count +
    * DECIMAL value hash after the whole sequence — so a broken audit
    * (publishing the dirty batch, or refusing the clean one) breaks
    * the oracle hash, not just a flag. Readers only ever list the
    * published dir: the staging write is invisible to them at every
    * point — which is the entire point of WAP. */
  val qWriteAuditPublish = Q("q_write_audit_publish",
    (spark, sfDir) => {
      import spark.implicits._
      val staging = fmtDir(sfDir, "wap_staging")
      val published = fmtDir(sfDir, "wap_published")
      // each run publishes into an empty location: an earlier run's
      // published batch must not stand in for this run's outcome
      Tables.deleteTree(published)
      val base = Tables.read(spark, sfDir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      // distinct: a customer key listed twice would double `n` for its
      // orders below and count a clean batch's PKs as duplicates
      val custKeys = Tables.read(spark, sfDir, "customer")
        .select($"c_custkey").distinct()
      // Round 21 (guide §1.5/§6 — audit in one pass, VERDICT r20
      // item 5): the three audit rules used to run as three separate
      // jobs, each re-scanning the staged parquet (anti-join count,
      // groupBy-dup count, null-key count). One left join + one
      // PK-grain aggregate computes all three exactly — orphans =
      // rows with no customer match, dup PKs = PK groups with > 1
      // row, null keys = rows in the null-PK group — so the staging
      // batch is scanned ONCE per audit. Same counts, same rule
      // semantics, one job instead of three.
      def audit(cand: org.apache.spark.sql.DataFrame): Long = {
        val per = cand
          .join(broadcast(custKeys),
            cand("o_custkey") === custKeys("c_custkey"), "left")
          .groupBy($"o_orderkey")
          .agg(count(lit(1)).as("n"),
            sum(when($"c_custkey".isNull, 1L).otherwise(0L))
              .as("orph"))
        val r = per.agg(
          coalesce(sum($"orph"), lit(0L)).as("orphans"),
          coalesce(sum(when($"n" > 1, 1L).otherwise(0L)), lit(0L))
            .as("dup_pks"),
          coalesce(sum(when($"o_orderkey".isNull, $"n")), lit(0L))
            .as("null_keys")).head()
        r.getLong(0) + r.getLong(1) + r.getLong(2)
      }
      val clean = base
      // planted violations are self-contained (negative keys): one FK
      // orphan + one PK duplicated between the two planted rows — so
      // the expected count is 2 regardless of which orderkeys the
      // fixture happens to contain
      val dirty = base.unionByName(
        Seq((-1L, -999999L, 1.0), (-2L, 1L, 2.0), (-2L, 1L, 2.0))
          .toDF("o_orderkey", "o_custkey", "o_totalprice"))
      val results = Seq(("A_clean", clean), ("B_dirty", dirty)).map {
        case (name, cand) =>
          cand.write.mode("overwrite").parquet(staging)
          val staged = spark.read.parquet(staging)
          val violations = audit(staged)
          val publish = violations == 0
          if (publish)
            staged.write.mode("overwrite").parquet(published)
          (name, violations, publish)
      }
      // nothing published: the published table is empty (0 rows, 0.0)
      val (rows, value) =
        if (!results.exists(_._3)) (0L, 0.0)
        else {
          val st = spark.read.parquet(published)
            .agg(count(lit(1)),
              round(sum($"o_totalprice".cast("decimal(18,6)")), 6)
                .cast("double"))
            .head()
          (st.getLong(0), st.getDouble(1))
        }
      results.map { case (n, v, p) => (n, v, p, rows, value) }
        .toDF("candidate", "n_violations", "published",
        "published_rows", "published_value")
        .orderBy($"candidate")
    },
    Some("""WITH state AS (
           |  SELECT count(*) AS published_rows,
           |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))),
           |      6) AS DOUBLE) AS published_value
           |  FROM orders
           |)
           |SELECT 'A_clean' AS candidate, CAST(0 AS BIGINT)
           |    AS n_violations, TRUE AS published,
           |  published_rows, published_value FROM state
           |UNION ALL
           |SELECT 'B_dirty', CAST(2 AS BIGINT), FALSE,
           |  published_rows, published_value FROM state
           |ORDER BY candidate""".stripMargin))

  /** E222: **multiline (pretty-printed) JSON ingestion** — the config/
    * API-dump shape: ONE file holding a JSON ARRAY of nested objects,
    * which line-oriented JSON readers silently mangle (each physical
    * line is not a record). `multiLine=true` + an explicit nested
    * schema parses the whole document, and the query flattens the
    * nested `meta` struct back to columns — hash-checked against the
    * source-of-truth nation table the fixture was generated from.
    * The fixture build is a bounded 25-row once-per-JVM write
    * (setup-not-query, the binaryFile store convention). Scale note:
    * a multiline JSON file is NOT splittable (one record spanning the
    * file ⇒ one task per file); the scaladoc records JSONL (S4's
    * roundtrip) as the 100 TB layout and this reader as the
    * ingest-edge adapter for third-party dumps. */
  val qSourceJsonMultiline = Q("q_source_json_multiline",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "json_multiline")
      loadOnceJvm(spark, sfDir, "json_multiline") {
        val rows = Tables.read(spark, sfDir, "nation")
          .orderBy($"n_nationkey").collect()
        val body = rows.map { r =>
          s"""  {
             |    "n_nationkey": ${r.getInt(0)},
             |    "meta": {
             |      "name": "${r.getString(1)}",
             |      "region": ${r.getInt(2)}
             |    }
             |  }""".stripMargin
        }.mkString("[\n", ",\n", "\n]\n")
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.writeString(p.resolve("nations.json"), body)
      }
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("meta", StructType(Seq(
          StructField("name", StringType),
          StructField("region", IntegerType))))))
      spark.read.option("multiLine", "true").schema(schema)
        .json(s"$dir/nations.json")
        .select($"n_nationkey", $"meta.name".as("n_name"),
          $"meta.region".as("n_regionkey"))
        .orderBy($"n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
           |FROM nation ORDER BY n_nationkey""".stripMargin))

  /** E252: **bounded-file-size sink (maxRecordsPerFile)** — the
    * OTHER half of the small-files story: E54/E141 pack tiny outputs
    * UP into right-sized files; this row caps oversized outputs DOWN.
    * A task writing one huge partition emits one huge file — the
    * thing that breaks downstream range-splitting readers and object-
    * store multipart limits at 100 TB. `maxRecordsPerFile` makes the
    * writer roll a new file every N records WITHIN a task, with no
    * repartition (no shuffle: the cap is enforced at the sink). The
    * fixture writes events repartitioned to 2 tasks (≫cap per task
    * at every sf) with a 300-record cap; the layout booleans pin that
    * (a) no file exceeds the cap — counted from the data itself via
    * `_metadata.file_path`, not trusted from the writer — and (b) the
    * file count is at least ⌈rows/cap⌉. The oracle recomputes the
    * same per-type stats off the original events, so the rolled
    * files must conserve every row. */
  val qSinkMaxRecords = Q("q_sink_max_records",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "maxrec_events")
      val cap = 300L
      loadOnceJvm(spark, sfDir, "maxrec") {
        Tables.read(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
          .repartition(2)
          .write.mode("overwrite")
          .option("maxRecordsPerFile", cap)
          .parquet(dir)
      }
      val back = spark.read.schema(slim).parquet(dir)
      val perFile = back.select(col("_metadata.file_path").as("f"))
        .groupBy($"f").agg(count(lit(1)).as("rows"))
        .agg(count(lit(1)).as("n_files"), max($"rows").as("max_rows"),
          sum($"rows").as("total"))
        .head()
      val (nFiles, maxRows, total) =
        (perFile.getLong(0), perFile.getLong(1), perFile.getLong(2))
      back.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .withColumn("cap_respected", lit(maxRows <= cap))
        .withColumn("file_count_ok",
          lit(nFiles >= (total + cap - 1) / cap))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
           |       count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value,
           |       TRUE AS cap_respected,
           |       TRUE AS file_count_ok
           |FROM events GROUP BY event_type ORDER BY event_type"""
      .stripMargin))

  /** E256: **glob-filtered recursive ingestion** — reading a REAL
    * lake directory: nested batch subdirectories (no Hive partition
    * scheme) holding the data, with operational debris (a .tmp
    * upload, a README, a stray CSV) scattered alongside. Two reader
    * controls make it safe: `recursiveFileLookup` walks the nesting
    * without inventing partition columns, and `pathGlobFilter`
    * admits only `*.parquet` — without it the scan would try to
    * parse the debris as parquet and die (or worse, a permissive
    * format would absorb it). The fixture splits events into two
    * disjoint nested batches (click/view vs the rest), so the
    * glob-filtered recursive read must reconstruct EXACTLY the
    * original table — the shared round-trip oracle catches any row
    * lost to nesting or gained from junk. */
  val qSourceGlobFilter = Q("q_source_glob_filter",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "glob_events")
      loadOnceJvm(spark, sfDir, "glob") {
        val ev = Tables.read(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
        ev.filter($"event_type".isin("click", "view"))
          .write.mode("overwrite").parquet(s"$dir/batch_a")
        ev.filter(!$"event_type".isin("click", "view"))
          .write.mode("overwrite").parquet(s"$dir/batch_b")
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.writeString(p.resolve("upload.tmp"),
          "partial upload debris")
        java.nio.file.Files.writeString(p.resolve("README.txt"),
          "lake landing zone")
        java.nio.file.Files.writeString(
          p.resolve("batch_a").resolve("manifest.csv"),
          "id,status\n1,ok")
      }
      spark.read.schema(slim)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some(roundtripOracle))

  /** E264: **parquet compression-codec roundtrip (zstd)** — the
    * storage knob that matters most at 100 TB: zstd trades ~2× better
    * ratio than snappy for modest CPU, and whether a reader can
    * transparently consume a MIXED-codec table (yesterday's snappy
    * files beside today's zstd migration) is exactly the operational
    * question. The fixture writes the SAME events half snappy, half
    * zstd, into one directory (per-write `compression` option — no
    * session-level codec flip), verifies both codecs are actually on
    * disk from the parquet footers, and reads the union back against
    * the shared round-trip oracle: one row lost or doubled by the
    * codec split fails parity. */
  val qCodecParquetZstd = Q("q_codec_parquet_zstd",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "codec_events")
      loadOnceJvm(spark, sfDir, "codec_zstd") {
        val ev = Tables.read(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
        ev.filter($"event_id" % 2 === 0)
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(s"$dir/snappy")
        ev.filter($"event_id" % 2 =!= 0)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$dir/zstd")
      }
      val codecs = Seq("snappy", "zstd").map { leaf =>
        import org.apache.hadoop.fs.{Path => HPath}
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        val conf = spark.sessionState.newHadoopConf()
        val p = new HPath(s"$dir/$leaf")
        val fs = p.getFileSystem(conf)
        val part = fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        val fr = ParquetFileReader
          .open(HadoopInputFile.fromPath(part, conf))
        try fr.getFooter.getBlocks.get(0).getColumns.get(0)
          .getCodec.name().toLowerCase
        finally fr.close()
      }
      spark.read.schema(slim)
        .parquet(s"$dir/snappy", s"$dir/zstd")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .withColumn("both_codecs_on_disk",
          lit(codecs == Seq("snappy", "zstd")))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
           |       count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value,
           |       TRUE AS both_codecs_on_disk
           |FROM events GROUP BY event_type ORDER BY event_type"""
      .stripMargin))

  /** E269: **corrupt-file tolerance (ignoreCorruptFiles)** — the
    * OTHER debris strategy from E256's glob filter: the glob AVOIDS
    * reading junk by name; this row READS a directory where one
    * "part-…parquet" file is a truncated upload (planted: the first
    * 512 bytes of a real part file, a valid magic header with a torn
    * footer — the classic killed-writer artifact that a name filter
    * cannot catch) and relies on
    * `spark.sql.files.ignoreCorruptFiles` to skip it mid-scan
    * instead of failing the job. The query proves BOTH halves of the
    * contract: with the flag the scan returns exactly the intact
    * files' rows (the oracle pins the surviving half), and a control
    * read WITHOUT the flag must THROW — asserted inside the query so
    * a silently-lenient default can never fake the pass. The flag is
    * set per-query and restored. */
  val qSourceIgnoreCorrupt = Q("q_source_ignore_corrupt",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "corruptish_events")
      loadOnceJvm(spark, sfDir, "corruptish") {
        Tables.read(spark, sfDir, "events")
          .filter($"event_id" % 2 === 0)
          .select($"event_id", $"user_id", $"event_type", $"value")
          .write.mode("overwrite").parquet(dir)
        // plant a torn parquet: valid magic, truncated body/footer
        val p = java.nio.file.Paths.get(dir)
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(p)
        val donor =
          try listing.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.minBy(_.getFileName.toString)
          finally listing.close()
        val bytes = java.nio.file.Files.readAllBytes(donor)
        java.nio.file.Files.write(
          p.resolve("part-99999-torn-upload.snappy.parquet"),
          bytes.take(512.min(bytes.length)))
      }
      val key = "spark.sql.files.ignoreCorruptFiles"
      val prev = spark.conf.get(key)
      val strictFails =
        try {
          spark.conf.set(key, "false")
          try {
            spark.read.schema(slim).parquet(dir).count(); false
          } catch { case _: Throwable => true }
        } finally spark.conf.set(key, prev)
      require(strictFails,
        "control read without ignoreCorruptFiles must fail")
      try {
        spark.conf.set(key, "true")
        spark.read.schema(slim).parquet(dir)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct($"user_id").as("n_users"),
            round(sum($"value".cast("decimal(18,6)")), 6)
              .cast("double").as("sum_value"))
          .orderBy($"event_type")
          // materialize UNDER the flag: the lazy plan must not
          // escape the conf scope
          .localCheckpoint()
      } finally spark.conf.set(key, prev)
    },
    Some("""SELECT event_type,
           |       count(*) AS n,
           |       count(DISTINCT user_id) AS n_users,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM events WHERE event_id % 2 = 0
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** E277: **hostile-content CSV dialect round-trip** — S4's csv row
    * proves the happy path on clean numeric columns; this row proves
    * the part of CSV that actually breaks lakes: every payload embeds
    * the delimiter, a double-quote AND a literal newline, the writer
    * uses a non-default dialect (pipe separator, quote-doubling
    * escape), and the reader must run `multiLine=true` (a quoted
    * field spans physical lines, so "one record per line" is false —
    * the same reason E222 exists for JSON). Fidelity is gated by an
    * order-insensitive exact digest: the established md5-prefix
    * encoding (E206) summed over rows, recomputed by the oracle from
    * the source table — one swallowed quote, split record or
    * mis-escaped delimiter anywhere in the corpus breaks the sum.
    * FormatsSuite additionally proves the dialect options are
    * LOAD-BEARING: the same files read without multiLine parse into
    * MORE records (the embedded newlines split rows). Scale note:
    * multiLine CSV is NOT splittable (a reader cannot start
    * mid-quoted-field), so each file parses whole — the writer-side
    * contract at 100 TB is many moderate files, which the upstream
    * partitioning here provides; columnar formats remain the
    * recommended at-rest layout (E18/E67). */
  val qSourceCsvDialect = Q("q_source_csv_dialect",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = fmtDir(sfDir, "csv_dialect")
      val payload = concat(substring($"text", 1, 40),
        lit("|,\"" + "\n"), $"source")
      Tables.read(spark, sfDir, "documents")
        .select($"doc_id", $"lang", payload.as("payload"))
        .write.mode("overwrite")
        .option("sep", "|").option("quote", "\"")
        .option("escape", "\"").option("header", "true")
        .csv(dir)
      spark.read
        .option("sep", "|").option("quote", "\"")
        .option("escape", "\"").option("header", "true")
        .option("multiLine", "true")
        .schema("doc_id BIGINT, lang STRING, payload STRING")
        .csv(dir)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          sum(length($"payload")).cast("long").as("payload_chars"),
          sum(conv(substring(md5($"payload".cast("binary")), 1, 8),
            16, 10).cast("long")).cast("long").as("digest_sum"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, lang,
           |    substr(text, 1, 40) || '|,"' || chr(10) || source
           |      AS payload
           |  FROM documents
           |)
           |SELECT count(*) AS n_docs,
           |  count(DISTINCT lang) AS n_langs,
           |  CAST(sum(length(payload)) AS BIGINT) AS payload_chars,
           |  CAST(sum(CAST(concat('0x', substr(md5(payload), 1, 8))
           |    AS BIGINT)) AS BIGINT) AS digest_sum
           |FROM p""".stripMargin))

  val all: Seq[Q] = Seq(qSourceCsv, qSourceJson, qSourceOrc, qSourceAvro,
    qSourceXml, qSourceText, qSourceBinary, qSourceJdbc, qSourceBucketed,
    qJoinCboReorder,
    qAggApprox, qAggHllUnion, qAggCmsFreq, qAggQuantileMerge,
    qAggThetaOverlap, qAggTopkSketch, qSourceDsv2Pushdown,
    qSourcePartitioned, qSourcePartitionOverwrite, qSourceDpp,
    qSourceSchemaEvolution,
    qOutputRebalance, qLayoutZorder, qLayoutHilbert,
    qSourceMixedTsUnits,
    qSourceMixedUnitsOneDir, qLayoutCompact, qSourceSkippingIndex,
    qJoinFederated, qIncrementalMv, qAggBitmapDistinct, qCodecAvroWire,
    qSourceCsvMalformed, qSourceNestedPrune, qLayoutRangeSorted,
    qWriteAuditPublish, qSourceJsonMultiline, qSinkMaxRecords,
    qSourceGlobFilter, qCodecParquetZstd, qSourceIgnoreCorrupt,
    qSourceCsvDialect)
}
