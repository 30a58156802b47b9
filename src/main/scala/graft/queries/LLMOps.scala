package graft.queries

import graft.{Q, Sessions, Tables}
import graft.functions.PortableHash.{charFold, charFold64, charFoldSql}
import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed result of the multimodal decode stub (q_multimodal_meta). */
case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
    channels: Int)

/** LLM-data-pipeline operators (SURVEY.md §2.11, X1–X8 + the
  * training-data extensions): dedup (exact, MinHash-LSH, SimHash,
  * n-gram Jaccard, embedding-cosine), similarity search (brute-force
  * top-k baseline + IVF-bucketed scale path), multimodal columns,
  * text analysis (language-ID, quality, token counts, fingerprinting),
  * and the UDF/UDAF extension surface.
  *
  * Every text operator is built on one portable hash so the DuckDB
  * oracle can replicate results bit-for-bit: a char-code polynomial
  * fold `h = fold(chars, (a,c) => (a*31 + c) mod 1000003)` computed with
  * Spark `aggregate`/`transform` HOFs (codegen'd) and DuckDB
  * `list_reduce`/`list_transform`. No engine-specific hash (xxhash64,
  * sha) sits on a correctness-bearing path where the oracle needs it.
  *
  * Scale notes (100 TB):
  *  - Near-dup mining NEVER does an all-pairs cross join. MinHash
  *    candidates come from an equi-join on (band, min-hash) buckets;
  *    SimHash candidates from an equi-join on the fingerprint;
  *    embedding near-dup and ANN probe only their IVF cell (label
  *    bucket). This is the banded-LSH plan shape that survives 1000
  *    executors — candidate generation is a shuffle on small keys,
  *    verification touches only candidate pairs.
  *  - Hot buckets (skew) are dropped by a bucket-size cap (>50 docs),
  *    the standard LSH frequent-band guard, applied as a groupBy-count
  *    → broadcast anti-join of the tiny over-cap set (never a windowed
  *    count, which would buffer the hot bucket on one task first) — on
  *    this harness's tiny 31-word vocabulary the cap discards nothing
  *    at oracle scale (max bucket 39 at sf0.01) and prevents the
  *    quadratic blowup at sf0.1+ (max bucket 303 → 2.6M uncapped vs
  *    102k capped pairs).
  *  - Dot products / norms are sequential HOF folds (deterministic
  *    order, retry-safe), not groupBy-sums over exploded dimensions.
  */
object LLMOps {

  private val P = 1000003L // prime modulus for all portable hashing

  /** Corpus row count, memoized per (session, sfDir) — gates the
    * verify-form switch and sizes the vocabulary CMS; constant per
    * fixture, so never worth a repeated count() job (ADVICE r17 low). */
  private[graft] def docCount(spark: SparkSession, sfDir: String): Long =
    graft.Memo.value(spark, s"doc_count:$sfDir") {
      docs(spark, sfDir).count()
    }

  /** Portable pseudo-random spread of a long id into [0, 2^31) — the
    * shared selection hash of the sampling family (stratified keep
    * rates, per-source cap order). The id is folded into 31 bits with
    * pmod BEFORE the Knuth multiply: max product (2^31-1)·2654435761
    * ≈ 5.7e18 stays inside Long/BIGINT, whereas a raw id ≥ ~3.5e9
    * would overflow (silent wrap in Spark, a hard error in DuckDB);
    * pmod (not %) folds negative ids into range too. One definition on
    * each engine so the two sampling queries can never diverge. */
  private[graft] def knuthSpread(id: Column): Column =
    pmod(id, lit(2147483648L)) * 2654435761L % 2147483648L

  /** DuckDB mirror of [[knuthSpread]] — pmod emulated with the
    * add-then-mod idiom so negative ids agree with the Spark side. */
  private[graft] def knuthSpreadSql(e: String): String =
    s"(($e % 2147483648 + 2147483648) % 2147483648) " +
      "* 2654435761 % 2147483648"

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "documents")

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "embeddings")

  /** (doc_id, s): distinct word-bigram shingles per document. Memoized
    * per (session, sfDir) via [[graft.Memo]]: the shingle table feeds
    * both the MinHash and exact-Jaccard queries (2–3 scans each) —
    * persist once, the same temp-table barrier treatment the cohort
    * gets. */
  private def shingles(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.cached(spark, s"shingles:$sfDir") {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", split(trim($"text"), " ").as("ws"))
        .filter(size($"ws") >= 2)
        .select($"doc_id", explode(array_distinct(
          transform(sequence(lit(1), size($"ws") - 1),
            i => concat_ws(" ", element_at($"ws", i),
              element_at($"ws", i + 1))))).as("s"))
        // the small fixtures are ONE parquet file → one input
        // partition, so spread the shingles for downstream
        // parallelism — but ONLY then (round 17, sf100gk rung): at
        // ×1000 the source already reads as hundreds of splits and
        // this repartition was a gratuitous full exchange of the
        // STRING shingle corpus (~40 GB of the disk that killed the
        // pair-graph family). The docs partition count is known
        // before any job runs; > a few splits means the scan is
        // already parallel and the exchange buys nothing.
        .transform { df =>
          if (docs(spark, sfDir).rdd.getNumPartitions * 4 >=
              Sessions.cpuCount) df
          else df.repartition(Sessions.cpuCount)
        }
    }

  /** Exact-Jaccard verification of candidate pairs: count common
    * shingles via an inverted-index join restricted to the candidates,
    * then the size identity |A∪B| = |A|+|B|−|A∩B|. (A row-local
    * array_intersect variant was measured 2.8× SLOWER at sf0.1 —
    * per-pair string-set building beats the join only when candidates
    * are few; the join form also partial-aggregates map-side.) */
  private[graft] def verifyJaccard(spark: SparkSession, sfDir: String,
      cand0: DataFrame, threshold: Double,
      forceArrayForm: Boolean = false): DataFrame = {
    import spark.implicits._
    // Round 21 (guide §3.2, VERDICT r20 item 1): the exact-Jaccard
    // legs only ever consume shingle rows whose doc_id is a candidate
    // ENDPOINT, yet the large-corpus (array) form paid a Θ(corpus)
    // collect_set exchange for them. On that form the candidate pair
    // set is materialized once (localCheckpoint — the
    // q_minhash_accuracy audit's discipline; it is bounded by the
    // capped buckets' ≤ C(50,2)-per-bucket fan-out, tiny relative to
    // the corpus), its endpoint set is broadcast, and the set-build
    // leg is SEMI-JOIN-prefiltered to those docs before the
    // aggregation. Per-doc shingle sizes are unchanged by dropping
    // OTHER docs' rows, and the verify joins are inner on the
    // candidate pairs, so the output is bit-identical. Measured on
    // interleaved matched windows at the ×10 fixture (50k docs):
    // 5.32 s prefiltered vs 10.34 s not, comparable control windows.
    // The SMALL-corpus join form keeps the r20 shape: its legs are
    // memoized-cache scans and broadcasts already, and the same
    // prefilter measured ~10% SLOWER there (3.29 vs 3.00 s min at
    // sf0.1 — the eager checkpoint job plus four candDocs subtrees
    // outweigh the broadcast shrinkage), so it is gated to the form
    // whose corpus-sized exchange it actually removes. The endpoint
    // set is broadcast unconditionally: no fallback for a set that
    // outgrows a broadcast (e.g. a bloom_agg probe, the
    // qDedupIncremental tier-1 pattern) is implemented; guarding it is
    // tracked by ROADMAP direction 3 (the verifyJaccard bloom_agg arm).
    // PlanSuite locks both shapes: the semi join below the collect_set
    // on the array form, none on the join form.
    val useArray = forceArrayForm || docCount(spark, sfDir) > 20000
    val cand = if (useArray) cand0.localCheckpoint() else cand0
    // shingles ride the verify as the full-width 64-BIT IDENTITY HASH,
    // not the string (round 17 introduced the hash ride — 16-byte
    // (doc, hash) rows cut the shuffled volume ~2.5× vs strings;
    // round 18 widened it from the mod-P fold, whose ~2^20-value range
    // is pigeonhole-collided at rung-scale vocabularies — see
    // charFold64's doc). The DuckDB oracle joins on the shingle
    // strings, so parity also checks that no two shingles share a hash.
    val sh = shingles(spark, sfDir)
      .select($"doc_id", charFold64($"s").as("h"))
    // TWO verify shapes, chosen by corpus size (round 17, the second
    // sf100gk catch in this function): the inverted-index JOIN form
    // partial-aggregates map-side and measured 2.8× faster at sf0.1
    // where candidates are few — but its second join EXCHANGES the
    // pair×shingle intermediate, Θ(|pairs|·shingles/doc) ≈ 120 GB at
    // ×1000 rows, which no single host's spill disk absorbs. Past the
    // audit family's 20k-doc line, verification switches to the
    // row-local form: one sorted hash-SET per doc (collect once,
    // Θ(corpus) exchange), two doc-grain joins, and a per-pair
    // array_intersect — the intermediate that killed the join form is
    // never materialized, cost is Θ(|pairs|·shingles/doc) CPU but
    // only Θ(|pairs| + corpus) shuffle. Both forms compute c and n
    // over the same per-doc DEDUPLICATED hash sets (join form:
    // distinct (doc,h) rows; array form: collect_set + size of the
    // set), so their equality is algebraic even under a hash collision
    // rather than merely birthday-improbable (ADVICE r17 medium); the
    // oracle keeps the join form in DuckDB with the matching DISTINCT,
    // and equality of the two Spark forms is suite-locked via
    // forceArrayForm.
    if (!useArray) {
      // small-corpus form only — the extra distinct exchange is noise
      // here and the big-corpus path never takes this branch.
      // The deduplicated (doc, hash) identity table is memoized per
      // (session, sfDir) — the mh_bands discipline (round 20): every
      // verify-form consumer references it three times (both join
      // legs + the size marginal) and re-ran the corpus-wide distinct
      // per construction.
      val shd = graft.Memo.cached(spark, s"vh:$sfDir") {
        shingles(spark, sfDir)
          .select($"doc_id", charFold64($"s").as("h")).distinct()
      }
      // no prefilter here (round 21 measurement above)
      val sizes = shd.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val common = cand
        .join(shd.as("x"), $"d1" === $"x.doc_id")
        .join(shd.as("y"), $"d2" === $"y.doc_id" && $"x.h" === $"y.h")
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("c"))
      common
        .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")),
          Seq("d1"))
        .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")),
          Seq("d2"))
        .select($"d1", $"d2",
          round($"c" / ($"n1" + $"n2" - $"c"), 6).as("jaccard"))
        .filter($"jaccard" >= threshold)
        .orderBy($"d1", $"d2")
    } else {
      // candidate-endpoint prefilter (round 21): the Θ(corpus)
      // collect_set exchange — the array form's one corpus-sized
      // shuffle — shrinks to the candidate docs' shingles
      val candDocs = cand.select($"d1".as("doc_id"))
        .union(cand.select($"d2".as("doc_id"))).distinct()
      val sets = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .groupBy($"doc_id")
        .agg(sort_array(collect_set($"h")).as("hs"))
        .select($"doc_id", $"hs", size($"hs").as("n"))
      cand
        .join(sets.select($"doc_id".as("d1"), $"hs".as("hs1"),
          $"n".as("n1")), Seq("d1"))
        .join(sets.select($"doc_id".as("d2"), $"hs".as("hs2"),
          $"n".as("n2")), Seq("d2"))
        .select($"d1", $"d2",
          size(array_intersect($"hs1", $"hs2")).as("c"),
          $"n1", $"n2")
        .select($"d1", $"d2",
          round($"c" / ($"n1" + $"n2" - $"c"), 6).as("jaccard"))
        .filter($"jaccard" >= threshold)
        .orderBy($"d1", $"d2")
    }
  }

  /** DuckDB mirror of [[verifyJaccard]] — expects CTEs `cand(d1,d2)`
    * and `sh(doc_id,s)` in scope. It joins on the shingle strings, not
    * on the engine's `charFold64`. */
  private def verifyJaccardSql(threshold: String): String =
    s"""vh AS (
       |  SELECT DISTINCT doc_id, s AS h FROM sh
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM vh GROUP BY 1
       |), common AS (
       |  SELECT d1, d2, count(*) AS c
       |  FROM cand
       |  JOIN vh x ON x.doc_id = d1
       |  JOIN vh y ON y.doc_id = d2 AND y.h = x.h
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
       |FROM common
       |JOIN sizes s1 ON s1.doc_id = d1
       |JOIN sizes s2 ON s2.doc_id = d2
       |WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= $threshold
       |ORDER BY d1, d2""".stripMargin

  /** Shared DuckDB CTEs: toks (token list) and sh (distinct bigrams). */
  private val shCte: String =
    """toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
      |), sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
      |    len(ws) - 1)) AS i) t
      |  WHERE len(ws) >= 2
      |)""".stripMargin

  // ---------------------------------------------------------------- X1
  /** Exact dedup: content-hash groupBy, keep lowest doc_id. Spark
    * groups on sha2(text) — a 256-bit key is what you'd shuffle at
    * 100 TB, never the full text; the oracle groups on the text itself
    * (same result, collision-free by construction). */
  val qDedupExact = Q("q_dedup_exact",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .groupBy(sha2($"text", 256).as("h"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select($"keep_id", $"n_copies")
        .orderBy($"keep_id")
    },
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
           |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin))

  private val incrRun = new java.util.concurrent.atomic.AtomicLong()

  // ------------------------------------------- incremental dedup
  /** Incremental exact dedup against yesterday's snapshot — the daily
    * ingest verb: a new batch arrives and only documents never seen
    * before may enter the corpus. The fixture scenario derives both
    * sides from the documents table (yesterday = the table itself;
    * today = re-keyed rows where every third doc is an exact re-crawl
    * of yesterday's text and the rest are genuinely new), so the
    * expected output is oracle-checkable while the dataflow is the
    * production one.
    *
    * Two-tier shape (100 TB): the naive plan shuffles EVERY arriving
    * digest into an anti-join against the full historical digest set —
    * at a 100 TB corpus that is billions of build-side rows re-shuffled
    * per daily batch. Tier 1 aggregates the snapshot digests into one
    * Bloom filter (`bloom_agg`, Spark's own runtime-filter sketch
    * exposed as a user aggregate — map-side partial, mergeable buffers,
    * MB-scale result) and probes it as a scalar subquery: arrivals the
    * filter rejects are DEFINITELY unseen (no false negatives) and
    * bypass the shuffle entirely. Tier 2 exact-anti-joins only the
    * maybe-seen remainder — true re-crawls plus the fpp fraction — so
    * the shuffled volume is the duplicate rate, not the batch size.
    * The union of the tiers is exact regardless of the Bloom error
    * rate; PlanSuite locks the probe + anti-join shape. */
  val qDedupIncremental = Q("q_dedup_incremental",
    (spark, sfDir) => {
      // per-invocation view name, dropped after eager analysis — the
      // qSqlRecursive concurrency treatment (ADVICE r7 item 5)
      val view = s"incr_docs_${incrRun.incrementAndGet()}"
      // sketch sizing is a conf (validated fail-loudly, like the
      // TopKPerKey caps — a typo'd setting must not be silently
      // ignored, ADVICE r8 item 3) so the suite can force it tiny:
      // heavy false positives must only grow the tier-2 anti-join
      // input, never change the result
      val est = {
        val raw = spark.conf.get("graft.bloom.estItems", "1000000")
        val p = scala.util.Try(raw.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"graft.bloom.estItems must be a long, got '$raw'"))
        if (p < 16L) throw new IllegalArgumentException(
          s"graft.bloom.estItems must be >= 16, got $p")
        p
      }
      docs(spark, sfDir).createOrReplaceTempView(view)
      try {
        spark.sql(
          s"""WITH seen AS (
             |  SELECT sha2(text, 256) AS h FROM $view
             |), today AS (
             |  SELECT doc_id + 1000000 AS doc_id,
             |         CASE WHEN doc_id % 3 = 0 THEN text
             |              ELSE concat(text, ' fresh ',
             |                CAST(doc_id % 5 AS STRING)) END AS text
             |  FROM $view
             |), th AS (
             |  SELECT doc_id, sha2(text, 256) AS h FROM today
             |), blm AS (
             |  SELECT bloom_agg(xxhash64(h), ${est}L) AS f FROM seen
             |)
             |SELECT doc_id FROM th
             |WHERE NOT bloom_might_contain((SELECT f FROM blm),
             |                              xxhash64(h))
             |UNION ALL
             |SELECT th.doc_id FROM th
             |LEFT ANTI JOIN seen ON seen.h = th.h
             |WHERE bloom_might_contain((SELECT f FROM blm), xxhash64(h))
             |ORDER BY doc_id""".stripMargin)
      } finally {
        spark.catalog.dropTempView(view)
        ()
      }
    },
    Some("""WITH today AS (
           |  SELECT doc_id + 1000000 AS doc_id,
           |         CASE WHEN doc_id % 3 = 0 THEN text
           |              ELSE text || ' fresh ' ||
           |                CAST(doc_id % 5 AS VARCHAR) END AS text
           |  FROM documents
           |)
           |SELECT t.doc_id FROM today t
           |WHERE NOT EXISTS (SELECT 1 FROM documents p
           |                  WHERE p.text = t.text)
           |ORDER BY doc_id""".stripMargin))

  /** (doc_id, band, mv): the 8 per-band MinHash minima, computed in ONE
    * aggregation pass over the shingles (an explode-by-band form would
    * shuffle 8× the rows) and melted wide→long with a generator (no
    * extra shuffle). Memoized via [[graft.Memo]]: the LSH query
    * references the band table four times (both self-join legs × the
    * bucket filter) — without the cache the 1M-row shingle aggregation
    * re-runs for each reference (measured ~2× on the whole query at
    * sf0.1); cached it is a ~8·|docs|-row table, negligible memory. */
  private[graft] def minhashBands(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.cached(spark, s"mh_bands:$sfDir") {
      import spark.implicits._
      val hs = shingles(spark, sfDir)
        .select($"doc_id", charFold($"s").as("h"))
      val minCols = (0 until 8).map(b =>
        min(((lit(b) * 31L + 7L) * $"h" + lit(b) * 97L + 13L) % P)
          .as(s"m$b"))
      val stackExpr = (0 until 8).map(b => s"$b, m$b").mkString(", ")
      hs.groupBy($"doc_id")
        .agg(minCols.head, minCols.tail: _*)
        .selectExpr("doc_id",
          s"stack(8, $stackExpr) AS (band, mv)")
    }

  /** (doc_id, band, mv1, mv2): 8 TWO-hash bands (r=2) — the candidate
    * generator's banding, distinct from [[minhashBands]]' one-hash
    * bands (which stay the E227 accuracy-audit ESTIMATOR, where
    * per-band agreement probability must equal J, not J²). Round 18,
    * found by the measured LSH-recall audit: with one-hash bands the
    * corpus-common shingles own the band minima, so near-dup pairs
    * ride 100–300-doc buckets that the 2..50 cap drops — measured
    * recall 0.73 against the exact pair set DESPITE every missed pair
    * agreeing in nearly every band. A second min per band fragments
    * those hot buckets combinatorially (same-bucket now needs BOTH
    * minima equal — probability J² for true pairs but ~1/|bucket| for
    * the common-shingle crowd): measured recall 1.0000 at sf0.1 with
    * bucket max 158 and only 7 over-cap buckets left. Same ONE
    * aggregation pass, 16 conditional minima wide → melted. */
  private[graft] def minhashBandPairs(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Memo.cached(spark, s"mh_bands2:$sfDir") {
      bandPairsOf(shingles(spark, sfDir))
    }

  /** The shipped two-hash banding over an ARBITRARY (doc_id, s)
    * shingle table: (doc_id, band, mv1, mv2) — mod-P estimator hash,
    * 16 minima in one aggregation pass, melted to 8 two-hash bands.
    * Parameterized over the input frame (ADVICE r19) so the corpus
    * pipeline ([[minhashBandPairs]]) and the E370 recall gate's
    * replicated fixture run LITERALLY the same generator — a change to
    * the hash family, minima count, or banding is exercised by the
    * gate by construction, which is the silent-regression class the
    * gate exists to catch. */
  private[graft] def bandPairsOf(sh: DataFrame): DataFrame = {
    val hs = sh.select(col("doc_id"), charFold(col("s")).as("h"))
    val minCols = (0 until 16).map(k =>
      min(((lit(k) * 31L + 7L) * col("h") + lit(k) * 97L + 13L) % P)
        .as(s"m$k"))
    val stackExpr = (0 until 8)
      .map(b => s"$b, m${2 * b}, m${2 * b + 1}").mkString(", ")
    hs.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .selectExpr("doc_id",
        s"stack(8, $stackExpr) AS (band, mv1, mv2)")
  }

  /** The shipped bucket-capped candidate expansion over an arbitrary
    * (doc_id, band, mv1, mv2) band table — the 2..50 cap and the
    * row-local canonical d1<d2 pair fan-out. Shared by
    * [[minhashCandidates]] and the E370 gate (ADVICE r19, same
    * rationale as [[bandPairsOf]]). */
  private[graft] def candidatePairsOf(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("mv1"), col("mv2"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, 50))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    y -> struct(x AS d1, y AS d2))))""".stripMargin))
        .as("pr"))
      .select(col("pr.d1"), col("pr.d2"))
      .distinct()

  // ---------------------------------------------------------------- X2
  /** Near-dup via banded MinHash LSH: shingle → portable hash → 8
    * one-hash-per-band minima → bucket equi-join (capped 2..50) →
    * candidate pairs → exact-Jaccard verification ≥ 0.5. */
  /** Banded-LSH candidate pairs from the capped minhash buckets — ONE
    * aggregation replaces the old anti-join + bucket self-join:
    * collect each bucket's sorted doc list (bounded — the 2..50 cap
    * is a `size` filter ON the collected list, so a hot bucket costs
    * one bounded array that is immediately dropped, never a df² pair
    * blowup or a one-task window buffer), then expand the canonical
    * d1<d2 pairs ROW-LOCALLY with the same nested transform+slice HOF
    * the support-edge graph build uses. The self-join form shuffled
    * the band table twice more on (band, mv); this shape pays one
    * bucket shuffle total and the pair fan-out is ≤ C(50,2) per
    * bucket by construction. OperatorSuite asserts bit-equality with
    * the windowed 2..50 form. Shared by qDedupMinhash AND the
    * pair-graph's large-corpus branch (see ngramPairsImpl). */
  private[graft] def minhashCandidates(spark: SparkSession,
      sfDir: String): DataFrame =
    candidatePairsOf(minhashBandPairs(spark, sfDir))

  val qDedupMinhash = Q("q_dedup_minhash",
    (spark, sfDir) => {
      import spark.implicits._
      verifyJaccard(spark, sfDir, minhashCandidates(spark, sfDir), 0.5)
    },
    Some(s"""WITH $shCte, hs AS (
            |  SELECT doc_id, s, ${charFoldSql("s")} AS h FROM sh
            |), m AS (
            |  SELECT doc_id, k,
            |         min(((k*31 + 7) * h + k*97 + 13) % $P) AS mv
            |  FROM hs, (SELECT unnest(range(0, 16)) AS k) kk
            |  GROUP BY 1, 2
            |), bm AS (
            |  SELECT doc_id, k // 2 AS band,
            |         min(CASE WHEN k % 2 = 0 THEN mv END) AS mv1,
            |         min(CASE WHEN k % 2 = 1 THEN mv END) AS mv2
            |  FROM m GROUP BY 1, 2
            |), kept AS (
            |  SELECT bm.* FROM bm
            |  JOIN (SELECT band, mv1, mv2 FROM bm GROUP BY 1, 2, 3
            |        HAVING count(*) BETWEEN 2 AND 50) ok
            |    USING (band, mv1, mv2)
            |), cand AS (
            |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            |  FROM kept a JOIN kept b
            |    ON a.band = b.band AND a.mv1 = b.mv1
            |   AND a.mv2 = b.mv2 AND a.doc_id < b.doc_id
            |), ${verifyJaccardSql("0.5")}""".stripMargin))

  // ------------------------------------------------------------ SimHash
  /** SimHash dedup: 16-bit majority-vote fingerprint over word hashes;
    * candidate pairs = identical fingerprints (pure equi-join on the
    * fingerprint — the degenerate-but-cheapest LSH band). */
  val qDedupSimhash = Q("q_dedup_simhash",
    (spark, sfDir) => {
      import spark.implicits._
      val words = docs(spark, sfDir)
        .select($"doc_id",
          explode(array_distinct(split(trim($"text"), " "))).as("w"))
        .filter($"w" =!= "")
        .select($"doc_id", charFold($"w").as("h"))
      // all 16 bit-majority votes as conditional aggs in ONE
      // groupBy(doc_id) pass (the explode-by-bit form shuffled 16× the
      // word rows), then assemble the fingerprint from the wide row
      val voteCols = (0 until 16).map(k =>
        sum(when(expr(s"shiftright(h, $k) & 1") === 1, 1).otherwise(-1))
          .as(s"v$k"))
      val sims2 = words.groupBy($"doc_id")
        .agg(voteCols.head, voteCols.tail: _*)
        .select($"doc_id",
          (0 until 16).map(k =>
            when(col(s"v$k") >= 0, lit(1L << k)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
      sims2.as("a")
        .join(sims2.as("b"), $"a.simhash" === $"b.simhash" &&
          $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
          $"a.simhash".as("simhash"))
        .orderBy($"d1", $"d2")
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id,
            |         unnest(list_distinct(string_split(trim(text), ' ')))
            |           AS w
            |  FROM documents
            |), h AS (
            |  SELECT doc_id, ${charFoldSql("w")} AS hw
            |  FROM toks WHERE w <> ''
            |), bits AS (
            |  SELECT doc_id, k,
            |    sum(CASE WHEN (hw >> k) & 1 = 1 THEN 1 ELSE -1 END) AS v
            |  FROM h, (SELECT unnest(range(0, 16)) AS k) kk
            |  GROUP BY 1, 2
            |), sim AS (
            |  SELECT doc_id,
            |    CAST(sum(CASE WHEN v >= 0 THEN (1 << k) ELSE 0 END)
            |      AS BIGINT) AS simhash
            |  FROM bits GROUP BY 1
            |)
            |SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash
            |FROM sim a JOIN sim b
            |  ON a.simhash = b.simhash AND a.doc_id < b.doc_id
            |ORDER BY d1, d2""".stripMargin))

  // ---------------------------------------------------- n-gram Jaccard
  /** Exact n-gram Jaccard near-dup: inverted-index shingle equi-join
    * (pairs share ≥1 bigram — never a cross join) directly counts
    * common shingles, then the size identity gives Jaccard ≥ 0.5. The
    * ground truth qDedupMinhash approximates. (A PPJoin-style prefix
    * filter was measured: on this 31-word vocabulary it cuts candidate
    * pairs only 12.5M→7.9M and its re-verification costs more than the
    * direct count — with a realistic Zipfian vocabulary the prefix
    * filter wins and qDedupMinhash is the scale path regardless.)
    *
    * Frequent-shingle guard (the PPJoin-family max-df cap): shingles
    * appearing in more than max(50, 10% of corpus) documents are
    * excluded from the SELF-JOIN ONLY — document sizes stay exact. A
    * single Zipfian-hot shingle otherwise lands df² pair rows on one
    * reducer, the one quadratic blowup class this operator had. The
    * cap exceeds the fixture's max df at every sf (46/500 docs at
    * sf0.01, 338/5000 at sf0.1), so fixture results are bit-identical
    * to the unguarded form — OperatorSuite asserts this. At production
    * scale a dropped hot shingle makes the computed Jaccard a lower
    * bound (stop-shingle semantics, standard for near-dup mining). */
  /** The ≥0.5-Jaccard pair table, memoized per (session, sfDir): it
    * feeds both the pair query and the cluster-assignment query below —
    * the same temp-table barrier treatment the cohort and shingle
    * tables get. Tiny output (one row per near-dup pair). */
  private[graft] def ngramPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.cached(spark, s"ngram_pairs:$sfDir") {
      ngramPairsImpl(spark, sfDir, exactVocab = false)
    }

  /** The pair-mining body behind [[ngramPairs]]. `exactVocab = true`
    * forces the round-17 full-vocabulary df groupBy (kept ONLY as the
    * equality baseline the suite locks the sketch path against);
    * `false` — the shipped path — prefilters the vocabulary with a
    * Count-Min sketch:
    *
    * The df cap (drop shingles in > max(50, |docs|/10) documents from
    * the self-join) previously required grouping the ENTIRE hashed
    * vocabulary plus a corpus-sized anti-join against its output —
    * exchanges the round-17 verdict flagged as the ×1000 spill driver
    * (the measured ×1000 probe later showed the pair-space itself is
    * the larger killer — see the large-corpus branch in the body —
    * but the vocabulary exchange is still real cost, and on a
    * Zipfian-vocabulary corpus the cap is the one guard against hot-
    * shingle df² blowup). The sketch path rebuilds the SAME exact hot
    * list without ever exchanging the vocabulary:
    *
    *  1. ONE sketch aggregate over the shingle hashes — map-side
    *     partial CMS per task, a ~32-sketch reduce, kilobyte-to-
    *     megabyte result to the driver. No corpus exchange.
    *  2. Per-row probe (`cms_probe_long`, codegen'd) keeps only rows
    *     whose ESTIMATED df exceeds the cap — the maybe-hot band. CMS
    *     never underestimates, so every truly-hot shingle is in the
    *     band deterministically; eps is sized so the band's false-
    *     positive mass stays a sliver (error ≤ cap/8 when the width
    *     floor doesn't bind — and the floor only widens the band,
    *     never corrupts it).
    *  3. Exact df groupBy over the band only — few distinct keys, so
    *     map-side combine collapses it to almost nothing — then the
    *     true `df > cap` filter. Band false positives die HERE, which
    *     is why the final hot list is bit-identical to the full
    *     groupBy's (suite-locked at two sfs).
    *  4. The anti-join build side is that small exact hot list — AQE
    *     broadcasts it, so the corpus-sized anti-join exchange
    *     disappears too.
    *
    * Cost at 100 TB: the vocabulary never shuffles; what remains is
    * the one inherent inverted-index exchange (the pair self-join on
    * h) plus doc-grain sizes. eps ≈ cap/(8·N) = 1/(80·avg shingles
    * per doc) — corpus-size-independent, so the sketch stays small as
    * rows grow. */
  private[graft] def ngramPairsImpl(spark: SparkSession, sfDir: String,
      exactVocab: Boolean, capOverride: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val nd = docCount(spark, sfDir)
    // LARGE-CORPUS BRANCH (round 18, the second sf100gk diagnosis of
    // this operator): past the audit family's 20k-doc line the pair
    // graph switches from exact inverted-index mining to capped-bucket
    // LSH candidates + exact verification. The round-17 verdict blamed
    // the vocabulary df groupBy, but a measured probe at ×1000 shows
    // the true killer is the CANDIDATE-PAIR SPACE itself: the fixture
    // corpus draws ~50 bigrams/doc from a ~930-term per-copy
    // vocabulary, so ~94% of same-copy doc pairs share ≥1 shingle and
    // the inverted-index join's d1<d2 aggregation carries ~12.5M
    // distinct pairs PER COPY (~12.5B at ×1000, ~300 GB of aggregation
    // state) — no df cap can bound it, because max df is 338 at every
    // scale while the pair mass comes from the mid-df bulk. That is
    // inherent to exact all-pairs mining on a dense vocabulary, so at
    // scale this operator adopts the production dedup contract
    // (the verify-form-switch precedent): candidates come from the
    // SAME capped minhash buckets that survived the ×1000 rung inside
    // q_dedup_minhash (one bucket shuffle, ≤C(50,2) pairs per
    // bucket), and every emitted pair is still EXACTLY verified
    // (precision 1). Recall under the generator's 8 TWO-hash (r=2)
    // bands is 1−(1−J²)^8 pre-cap (~90% at exactly J=0.5, →1 as J
    // rises) — the theoretical one-hash bound quoted here before
    // round 18 does not apply to the r=2 banding, and theory is not
    // the contract anyway: the MEASURED recall of this exact
    // generator against replicated exact ground truth is 1.0000 at
    // sf0.1 and 0.99965 at 500k docs (BASELINE.md round-18 LSH
    // audit), and q_lsh_recall keeps that measurement as a permanent
    // gated row (recall ≥ 0.99, precision ≡ 1 by exact verification).
    // Driver scales (the correctness gate and every fixture sf) keep
    // the exact path bit-for-bit.
    if (capOverride.isEmpty && !exactVocab && nd > 20000)
      return verifyJaccard(spark, sfDir,
        minhashCandidates(spark, sfDir), 0.5)
        .select($"d1", $"d2", $"jaccard")
    // the whole inverted-index pipeline runs on the 64-bit identity
    // hash (round 17 introduced the hash ride to cut shuffle bytes
    // ~2.5×; round 18 widened it from mod-P, which pigeonhole-collides
    // at rung vocabularies — ADVICE r17 high, see charFold64). The
    // oracle CTEs join on the shingle strings instead.
    val sh = shingles(spark, sfDir)
      .select($"doc_id", charFold64($"s").as("h"))
    // capOverride is a TEST hook: the fixtures' max df sits under the
    // production cap at every sf, so only a forced tiny cap makes the
    // hot list non-empty — the sketch-vs-exact equality lock must bite
    // where shingles are actually dropped, not just on empty hot lists
    val cap = capOverride.getOrElse(math.max(50L, nd / 10L))
    val hot: DataFrame =
      if (exactVocab) {
        // round-17 baseline: full-vocabulary df groupBy
        sh.groupBy($"h").agg(count(lit(1)).as("df"))
          .filter($"df" > cap).select($"h")
      } else {
        val nSh = graft.Memo.value(spark, s"shingle_count:$sfDir") {
          sh.count()
        }
        // error bound eps·N ≤ cap/8 keeps the maybe-hot band tight;
        // the width floor (eps ≥ 2e-5 → ~100k counters ≈ 5.6 MB per
        // partial buffer) bounds executor memory for extreme
        // shingles-per-doc regimes at the price of a wider band
        val eps = math.max(cap.toDouble / (8.0 * math.max(nSh, 1L)),
          2e-5)
        val skBytes = sh
          // Locale.ROOT: the f-interpolator formats through the JVM
          // default locale, and a comma-decimal locale (de_DE) would
          // emit '0,000020000' — unparseable SQL (ADVICE r18)
          .agg(expr("count_min_sketch(h, " + String.format(
            java.util.Locale.ROOT, "%.9f", Double.box(eps)) +
            "d, 0.99d, 42)"))
          .head().getAs[Array[Byte]](0)
        if (skBytes == null) sh.filter(lit(false)).select($"h")
        else {
          val band = sh.filter(
            call_function("cms_probe_long", lit(skBytes), $"h") >
              cap)
          band.groupBy($"h").agg(count(lit(1)).as("df"))
            .filter($"df" > cap).select($"h")
        }
      }
    val capped = sh.join(hot, Seq("h"), "left_anti")
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val common = capped.as("x")
      .join(capped.as("y"), $"x.h" === $"y.h" &&
        $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("d1"), $"y.doc_id".as("d2"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), Seq("d1"))
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), Seq("d2"))
      .select($"d1", $"d2",
        round($"c" / ($"n1" + $"n2" - $"c"), 6).as("jaccard"))
      .filter($"jaccard" >= 0.5)
  }

  val qDedupNgramJaccard = Q("q_dedup_ngram_jaccard",
    (spark, sfDir) => {
      import spark.implicits._
      ngramPairs(spark, sfDir).orderBy($"d1", $"d2")
    },
    Some(s"""WITH $shCte, vh AS (
            |  SELECT doc_id, s AS h FROM sh
            |), sizes AS (
            |  SELECT doc_id, count(*) AS n FROM vh GROUP BY 1
            |), common AS (
            |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
            |  FROM vh x JOIN vh y
            |    ON x.h = y.h AND x.doc_id < y.doc_id
            |  GROUP BY 1, 2
            |)
            |SELECT d1, d2,
            |       round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
            |FROM common
            |JOIN sizes s1 ON s1.doc_id = d1
            |JOIN sizes s2 ON s2.doc_id = d2
            |WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= 0.5
            |ORDER BY d1, d2""".stripMargin))

  // --------------------------------------------- dedup cluster assignment
  /** Connected components over the near-dup pair graph — the step a
    * dedup pipeline runs AFTER pair mining: assign every paired doc a
    * cluster id (the min reachable doc_id) so exactly one
    * representative per duplicate cluster survives. Spark side is
    * min-label propagation with pointer jumping (see clusterLabels
    * below): each round every node takes the min label among itself
    * and its neighbors, then shortcuts to its label's label —
    * O(log diameter) rounds, each one distributed equi-join +
    * groupBy-min. The driver only reads a one-row convergence agg, the
    * standard coordination loop every iterative graph algorithm uses
    * (GraphX/Pregel included). Iterations are capped; the cap is
    * asserted unreached on the fixture. The oracle computes the same
    * components with a recursive CTE. */
  /** Converged min-label table, memoized per (session, sfDir) like the
    * pair table it consumes — the bench's min-of-2 and any downstream
    * query pay the iteration once. Three loop-cost lessons are baked
    * in (each measured against the round-4 form, which hit 16.8 s
    * inside the full bench):
    *  - `localCheckpoint(eager=true)` after every round truncates the
    *    logical plan — without it Catalyst re-analyzes a linearly
    *    growing lineage each iteration (quadratic optimizer time, the
    *    classic iterative-DataFrame trap);
    *  - convergence is read from `sum(label)`: min-propagation is
    *    monotone non-increasing per node, so the sum is strictly
    *    decreasing until fixpoint — one cheap agg on checkpointed data
    *    replaces the old join+filter+count change-detector job;
    *  - each round also pointer-jumps (`label := label(label)`), the
    *    doubling step of distributed CC (cf. the large-star/small-star
    *    family): rounds drop from O(diameter) to O(log diameter), and
    *    on a 1000-executor cluster rounds are the scarce resource —
    *    each is a full shuffle barrier.
    * Each round unpersists the previous round's checkpoint blocks once
    * the next round is eagerly materialized, so executor storage stays
    * O(1) in iteration count. `localCheckpoint` trades fault tolerance
    * for speed (blocks are not replicated; losing an executor kills
    * the job) — fine locally, not for a multi-hour 100 TB cluster job.
    * Setting `graft.checkpoint.dir` switches every barrier to reliable
    * `checkpoint()` into that directory (HDFS/S3 on a real cluster), so
    * an executor loss replays from durable files instead of killing the
    * job (VERDICT r6 item 5). The memo key carries the mode so a
    * session that flips the conf mid-life recomputes rather than
    * serving a cache built under the other durability contract. */
  private[graft] def clusterLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val ckptDir = spark.conf.getOption("graft.checkpoint.dir")
    graft.Memo.cached(spark,
        s"ngram_cluster_labels:$sfDir:${ckptDir.getOrElse("local")}") {
      import spark.implicits._
      ckptDir.foreach(spark.sparkContext.setCheckpointDir)
      def barrier(df: DataFrame): DataFrame =
        if (ckptDir.isDefined) {
          // persist BEFORE the eager checkpoint: RDD.checkpoint re-runs
          // the lineage to write its files (the documented caveat), so
          // without a cache every iteration's join+agg would execute
          // twice — once for the eager materialization, once for the
          // write. The scratch cache is dropped as soon as the files
          // are durable.
          val cached = df.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val ck = cached.checkpoint(true)
          cached.unpersist(blocking = false)
          ck
        } else df.localCheckpoint(true)
      // delete a superseded round's reliable checkpoint files: the
      // ContextCleaner does NOT reclaim them (cleanCheckpoints defaults
      // to false), so a 20-round job would otherwise strand ~20 full
      // label-table snapshots in the checkpoint dir. Only the
      // just-replaced `labels` files are deleted — never `next`
      // (becomes `labels`), never the edge table (read every round),
      // never the final result (the memoized DataFrame reads from it).
      def dropCheckpointFiles(df: DataFrame): Unit =
        df.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.getCheckpointFile.foreach { f =>
              val p = new org.apache.hadoop.fs.Path(f)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(p, true)
              ()
            }
          case _ => ()
        }
      val pairs = ngramPairs(spark, sfDir).select($"d1", $"d2")
      val edges = pairs.select($"d1".as("src"), $"d2".as("dst"))
        .union(pairs.select($"d2".as("src"), $"d1".as("dst")))
      val edgesCk = barrier(edges)
      var labels = barrier(edgesCk.select($"src".as("id")).distinct()
        .select($"id", $"id".as("label")))
      def labelSum(df: DataFrame): Long =
        df.agg(sum($"label")).first().getLong(0)
      var prevSum = labelSum(labels)
      var iter = 0
      var converged = false
      while (!converged && iter < 20) {
        val viaNeighbor = edgesCk
          .join(labels.withColumnRenamed("id", "src2"),
            $"src" === $"src2")
          .select($"dst".as("id"), $"label")
        val hopped = labels.union(viaNeighbor)
          .groupBy($"id").agg(min($"label").as("label"))
        // pointer jump: label(label) ≤ label by monotonicity, so the
        // joined-in value wins outright (no least() needed)
        val next = barrier(hopped.as("a")
          .join(hopped.as("b"), $"a.label" === $"b.id")
          .select($"a.id".as("id"), $"b.label".as("label")))
        val s = labelSum(next)
        converged = s == prevSum
        prevSum = s
        // next is already materialized (eager checkpoint + labelSum),
        // so the previous round's blocks/files can never be re-read.
        // Free blocks at the RDD level: a localCheckpoint'd Dataset's
        // blocks belong to the checkpointed RDD inside its LogicalRDD
        // plan, NOT the CacheManager, so Dataset.unpersist would be a
        // no-op and the blocks would otherwise linger until the
        // ContextCleaner GCs the dropped reference. Under reliable
        // checkpoint the data lives in FILES instead — delete the
        // superseded round's files explicitly (see dropCheckpointFiles;
        // steady-state dir footprint stays at 2 snapshots + edges, not
        // one per round).
        labels.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
        if (ckptDir.isDefined) dropCheckpointFiles(labels)
        labels = next
        iter += 1
      }
      require(converged, s"label propagation hit the $iter-iter cap")
      labels
    }
  }

  /** DuckDB CTE chain ending in `pairs(d1,d2)` — the ≥0.5-Jaccard
    * near-dup pair table; shared by the cluster-assignment oracle and
    * the recursive-SQL oracle (Extras.qSqlRecursive). */
  private[graft] val pairsCte: String =
    s"""$shCte, vh AS MATERIALIZED (
       |  SELECT doc_id, s AS h FROM sh
       |), sizes AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n FROM vh GROUP BY 1
       |), common AS MATERIALIZED (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM vh x JOIN vh y
       |    ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |), pairs AS MATERIALIZED (
       |  SELECT d1, d2
       |  FROM common
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= 0.5
       |)""".stripMargin

  val qDedupCluster = Q("q_dedup_cluster",
    (spark, sfDir) => {
      import spark.implicits._
      clusterLabels(spark, sfDir)
        .select($"id".as("doc_id"), $"label".as("cluster_id"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE $pairsCte, edges AS (
            |  SELECT d1 AS src, d2 AS dst FROM pairs
            |  UNION
            |  SELECT d2 AS src, d1 AS dst FROM pairs
            |), reach AS (
            |  SELECT src AS id, src AS r FROM edges
            |  UNION
            |  SELECT e.dst AS id, r.r
            |  FROM reach r JOIN edges e ON e.src = r.id
            |)
            |SELECT id AS doc_id, min(r) AS cluster_id
            |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin))

  /** E117: **PageRank over the near-dup graph** — the second iterative
    * graph member beside connected components (E5): centrality on the
    * ≥0.5-Jaccard pair graph ranks each cluster's best-connected
    * documents (hub boilerplate scores high — a dedup-policy signal
    * the canonical-selection rule E73 can consume). The contract is
    * FIXED-ITERATION (3 rounds of pr ← 0.15/n + 0.85·Σ pr(in)/deg(in)
    * from uniform init): a convergence-threshold loop would make the
    * output depend on float-tail behavior; a fixed count makes both
    * engines execute literally the same arithmetic DAG, so the oracle
    * unrolls the identical three rounds as chained CTEs (every
    * literal CAST to DOUBLE — DuckDB's bare 0.15 is DECIMAL and
    * decimal/bigint division would diverge from Spark's double math).
    * Execution is pregel-shape: each round is ONE join of edges
    * against the current rank vector + ONE shuffle back to node
    * grain. Only the EDGE table is localCheckpointed (it feeds every
    * round); the rounds themselves compose into one fixed-depth
    * 3-round plan — the per-round checkpoint discipline belongs to
    * the UNBOUNDED iterators (E5, label-prop), where an
    * uncheckpointed loop re-executes every prior round per action;
    * a plan bounded at 3 rounds by contract pipelines its shuffles
    * inside a single job (round 20). Node count n is a driver scalar
    * (dimension-sized, like E5's convergence check). Symmetric edges
    * mean outdeg ≥ 1 — no dangling-mass term needed; rounds are
    * fact-sized joins only in edge count, never doc². */
  val qPagerank = Q("q_pagerank",
    (spark, sfDir) => {
      import spark.implicits._
      val p = ngramPairs(spark, sfDir).select($"d1", $"d2")
      val edges = p.select($"d1".as("src"), $"d2".as("dst"))
        .unionAll(p.select($"d2".as("src"), $"d1".as("dst")))
        .localCheckpoint()
      val nodes = edges.select($"src".as("id")).distinct()
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      // node count: a fixture constant (the docCount discipline) —
      // un-memoized it re-ran a distinct+count job per construction
      val n = graft.Memo.value(spark, s"pr_node_count:$sfDir") {
        nodes.count()
      }
      // NO per-round localCheckpoint (round 20, guide §1.2): the
      // contract is FIXED 3 rounds, so the plan depth is bounded by
      // construction — the eager per-round materialization (3
      // sequential driver jobs before the timed action, each parked
      // on a blockmanager write) was the loop discipline of the
      // UNBOUNDED iterators (E5, label-prop), not needed here; one
      // 3-round plan pipelines its shuffles inside a single job.
      // Identical arithmetic DAG, bit-identical output.
      def round3(prIn: DataFrame): DataFrame = {
        val contrib = edges.as("e")
          .join(prIn.as("p"), $"e.src" === $"p.id")
          .join(deg.as("g"), $"e.src" === $"g.src")
          .select($"e.dst".as("id"), ($"p.pr" / $"g.deg").as("c"))
          .groupBy($"id").agg(sum($"c").as("inb"))
        nodes.as("nd")
          .join(contrib.as("cb"), $"nd.id" === $"cb.id", "left")
          .select($"nd.id".as("id"),
            (lit(0.15 / n) +
              lit(0.85) * coalesce($"cb.inb", lit(0.0))).as("pr"))
      }
      val pr3 = (1 to 3).foldLeft(
        nodes.withColumn("pr", lit(1.0 / n)))((d, _) => round3(d))
      pr3.select($"id".as("doc_id"),
          round($"pr" * n, 6).as("pr_scaled"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $pairsCte, edges AS MATERIALIZED (
            |  SELECT d1 AS src, d2 AS dst FROM pairs
            |  UNION ALL SELECT d2, d1 FROM pairs
            |), nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
            |dg AS MATERIALIZED (
            |  SELECT src, count(*) AS deg FROM edges GROUP BY src),
            |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
            |pr0 AS MATERIALIZED (
            |  SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)
            |        AS pr FROM nodes),
            |it1 AS MATERIALIZED (
            |  SELECT nodes.id,
            |    CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
            |    CAST(0.85 AS DOUBLE) * coalesce(s.inb, 0) AS pr
            |  FROM nodes LEFT JOIN (
            |    SELECT e.dst AS id, sum(p.pr / d.deg) AS inb
            |    FROM edges e JOIN pr0 p ON p.id = e.src
            |    JOIN dg d ON d.src = e.src GROUP BY e.dst) s
            |  USING (id)
            |), it2 AS MATERIALIZED (
            |  SELECT nodes.id,
            |    CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
            |    CAST(0.85 AS DOUBLE) * coalesce(s.inb, 0) AS pr
            |  FROM nodes LEFT JOIN (
            |    SELECT e.dst AS id, sum(p.pr / d.deg) AS inb
            |    FROM edges e JOIN it1 p ON p.id = e.src
            |    JOIN dg d ON d.src = e.src GROUP BY e.dst) s
            |  USING (id)
            |), it3 AS (
            |  SELECT nodes.id,
            |    CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
            |    CAST(0.85 AS DOUBLE) * coalesce(s.inb, 0) AS pr
            |  FROM nodes LEFT JOIN (
            |    SELECT e.dst AS id, sum(p.pr / d.deg) AS inb
            |    FROM edges e JOIN it2 p ON p.id = e.src
            |    JOIN dg d ON d.src = e.src GROUP BY e.dst) s
            |  USING (id)
            |)
            |SELECT id AS doc_id,
            |       round(pr * (SELECT n FROM nn), 6) AS pr_scaled
            |FROM it3 ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- canonical selection
  /** Canonical-document selection — the policy step AFTER clustering:
    * a near-dup cluster must keep exactly one representative, and
    * "which one" is a contract (here: longest text, doc_id as the
    * total-order tiebreak — the common keep-the-richest-copy rule; a
    * real pipeline swaps in its quality score). One row_number over
    * the cluster key on the memoized labels joined to doc stats —
    * a single cluster-key shuffle; the heavy lift (pair mining +
    * label propagation) is shared state with q_dedup_cluster /
    * q_sql_recursive, built once. The oracle extends the recursive
    * connected-components SQL with the same ranked selection. */
  val qDedupCanonical = Q("q_dedup_canonical",
    (spark, sfDir) => {
      import spark.implicits._
      val labels = clusterLabels(spark, sfDir)
        .select($"id".as("doc_id"), $"label".as("cluster_id"))
      val ranked = Window.partitionBy($"cluster_id")
        .orderBy($"n_chars".desc, $"doc_id")
      labels
        .join(docs(spark, sfDir).select($"doc_id", $"n_chars"),
          Seq("doc_id"))
        .withColumn("rn", row_number().over(ranked))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy($"cluster_id")))
        .filter($"rn" === 1)
        .select($"cluster_id", $"doc_id".as("keep_id"),
          $"n_chars".as("keep_chars"), $"n_members")
        .orderBy($"cluster_id")
    },
    Some(s"""WITH RECURSIVE $pairsCte, edges AS (
            |  SELECT d1 AS src, d2 AS dst FROM pairs
            |  UNION
            |  SELECT d2 AS src, d1 AS dst FROM pairs
            |), reach AS (
            |  SELECT src AS id, src AS r FROM edges
            |  UNION
            |  SELECT e.dst AS id, r.r
            |  FROM reach r JOIN edges e ON e.src = r.id
            |), clusters AS (
            |  SELECT id AS doc_id, min(r) AS cluster_id
            |  FROM reach GROUP BY id
            |), m AS (
            |  SELECT c.cluster_id, c.doc_id, d.n_chars,
            |         row_number() OVER (PARTITION BY c.cluster_id
            |           ORDER BY d.n_chars DESC, c.doc_id) AS rn,
            |         count(*) OVER (PARTITION BY c.cluster_id)
            |           AS n_members
            |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
            |)
            |SELECT cluster_id, doc_id AS keep_id,
            |       n_chars AS keep_chars,
            |       CAST(n_members AS BIGINT) AS n_members
            |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin))

  // ------------------------------------------------- embedding near-dup
  /** Portable pseudo-random 64-dim hyperplane `p` (LCG over the
    * dimension index) — shared by the LSH ANN bucketing and the
    * embed hot-cell guard, and replicated verbatim in the LSH oracle. */
  private[graft] def plane(p: Int): Column = array((0 until 64).map { i =>
    lit((((p * 64 + i).toLong * 2654435761L) % 2147483648L)
      / 2147483648.0 - 0.5)
  }: _*)

  /** The 8 hyperplane sign bits of `v` as a long in [0, 256). dotHof
    * (not the native vec_dot): the plane is a DOUBLE literal array —
    * the HOF fold casts both sides, exactly as the LSH bucketing and
    * its oracle replicate. */
  private[graft] def hyperBits(v: Column): Column =
    (0 until 8).map(p =>
      when(Vectors.dotHof(v, plane(p)) >= 0, lit(1L << p))
        .otherwise(0L)).reduce(_ + _)

  /** Embedding near-dup candidate pairs, IVF-cell-bucketed with a
    * HOT-CELL guard: the within-cell self-join is O(cell²), so one
    * Zipf-hot label (real embedding clusters are skewed) degrades
    * quadratically — the same failure class the shingle max-df guard
    * kills (VERDICT r7 item 4). Cells larger than
    * `graft.embed.maxCellSize` (default 1000) are split by
    * ceil(log2(cell/cap)) hyperplane sign bits (capped at 8 — the LSH
    * machinery above), and pairs are generated within (label,
    * sub-bucket): pair work per cell drops ~2^bits-fold. The trade is
    * recall ACROSS sub-buckets of a hot cell only — the standard LSH
    * contract, and exactly zero on any corpus whose cells respect the
    * cap (every sub-key is 0 there, so results are bit-identical to
    * the unguarded join; the fixture is such a corpus, which is why
    * the DuckDB oracle stays the plain label join). The hot list is
    * ≤ rows/cap labels — broadcast-sized by construction. */
  private[graft] def embedNearDupPairs(e0: DataFrame,
      threshold: Double): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val capKey = "graft.embed.maxCellSize"
    val cap = {
      val raw = spark.conf.get(capKey, "1000")
      val parsed = scala.util.Try(raw.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"$capKey must be a positive integer, got '$raw'"))
      require(parsed > 0L, s"$capKey must be positive, got $parsed")
      parsed
    }
    // precompute each vector's norm once (|V| folds) instead of per
    // pair (2·|pairs| folds) — identical arithmetic, 3× fewer folds
    val e = e0.withColumn("nrm", sqrt(Vectors.normSq($"embedding")))
    val hot = e.groupBy($"label").agg(count(lit(1)).as("cn"))
      .filter($"cn" > cap)
    // one cheap map-side-partial agg probes for hot cells FIRST: when
    // none exist (the common, well-clustered case) the pair join below
    // keeps the exact pre-guard plan — constant sub folds away — so a
    // balanced corpus pays one existence probe, never a changed join
    // (measured +70% on q_dedup_embed when the probe was an
    // unconditional broadcast left join). `when` keeps the 8 sign-bit
    // dot products inside the hot branch — cold-cell rows of a PARTLY
    // hot corpus never pay them either.
    val sub =
      if (hot.isEmpty) e.withColumn("sub", lit(0L))
      else e.join(broadcast(hot), Seq("label"), "left")
        .withColumn("sub",
          when($"cn".isNull, lit(0L))
            .otherwise(pmod(hyperBits($"embedding"),
              pow(lit(2.0), least(lit(8.0),
                ceil(log2($"cn".cast("double") / cap.toDouble))))
                .cast("long"))))
        .drop("cn")
    sub.as("a")
      .join(sub.as("b"), $"a.label" === $"b.label" &&
        $"a.sub" === $"b.sub" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
        $"a.label".as("label"),
        round(Vectors.dot($"a.embedding", $"b.embedding") /
          ($"a.nrm" * $"b.nrm"), 6).as("cos_sim"))
      .filter($"cos_sim" >= threshold)
      .orderBy($"v1", $"v2")
  }

  /** Embedding-cosine near-dup, bucketed: pairs are generated only
    * within an IVF cell (the label bucket) — guarded against hot cells
    * by [[embedNearDupPairs]] — never across the whole table; the
    * bucket join IS the scale story. */
  val qDedupEmbed = Q("q_dedup_embed",
    (spark, sfDir) => embedNearDupPairs(emb(spark, sfDir), 0.35),
    Some("""SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label,
           |  round(list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
           |    (sqrt(list_sum(list_transform(list_zip(a.embedding, a.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) *
           |     sqrt(list_sum(list_transform(list_zip(b.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))), 6)
           |    AS cos_sim
           |FROM embeddings a JOIN embeddings b
           |  ON a.label = b.label AND a.vec_id < b.vec_id
           |WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
           |    (sqrt(list_sum(list_transform(list_zip(a.embedding, a.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) *
           |     sqrt(list_sum(list_transform(list_zip(b.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))), 6)
           |  >= 0.35
           |ORDER BY v1, v2""".stripMargin))

  // --------------------------------------------- embedding quantization
  /** Int8 embedding quantization — the storage/bandwidth side of the
    * ANN story: absmax scaling (scale = max|v|/127, q = round(v/scale)
    * clamped to ±127) shrinks a float32 vector 4×, which at 100 TB is
    * the difference between an index that fits executor memory and one
    * that doesn't; search then runs int8·int8 with one dequantized
    * rescale. Pure row-local HOF arithmetic — zero shuffle before the
    * output sort, embarrassingly parallel like chunking. Output per
    * vector: the scale, the exact integer checksum of the quantized
    * codes (any engine disagreeing on a single rounding tie fails
    * parity bit-for-bit), and the relative L2 reconstruction error
    * (~1e-2 for 64-dim — OperatorSuite bounds it). Quantization
    * rounds via floor(x+0.5) and folds sequentially on both engines,
    * so every double op is bit-identical. */
  val qQuantizeEmbed = Q("q_quantize_embed",
    (spark, sfDir) => {
      import spark.implicits._
      val amax = array_max(transform($"embedding",
        x => abs(x))).cast("double")
      // floor(x + 0.5), NOT round(): Spark's round re-reads the double
      // through its shortest decimal representation (BigDecimal
      // HALF_UP), DuckDB rounds the raw binary value — they disagree
      // on values like 36.499999999999996; floor(+0.5) is the same
      // IEEE op on both engines, bit-for-bit
      def quant(v: Column, scale: Column): Column =
        least(lit(127.0), greatest(lit(-127.0),
          floor(v.cast("double") / scale + 0.5)))
      // the working column is NOT named like the output alias: in a
      // select list that defines `round(scale).as("scale")`, sibling
      // lambda expressions referencing $"scale" bind to the ROUNDED
      // output, not the input (measured: recon_err silently computed
      // against the 9-dp scale, a 1e-8 drift the oracle caught) —
      // shadowing an input column's name inside one projection is a
      // correctness hazard, so the raw value keeps its own name
      emb(spark, sfDir)
        .select($"vec_id", $"embedding", amax.as("amax"))
        .filter($"amax" > 0)
        .withColumn("scale_raw", $"amax" / 127.0)
        .select($"vec_id",
          round($"scale_raw", 9).as("scale"),
          aggregate(transform($"embedding",
              v => quant(v, $"scale_raw")), lit(0.0), _ + _)
            .cast("long").as("q_sum"),
          round(
            sqrt(aggregate(transform($"embedding", v => {
              val d = v.cast("double") -
                quant(v, $"scale_raw") * $"scale_raw"
              d * d
            }), lit(0.0), _ + _)) /
              // the shared native norm kernel — bitwise-identical to
              // the sequential HOF fold (Vectors.scala contract), so
              // the list_reduce oracle still matches exactly
              sqrt(Vectors.normSq($"embedding")), 6)
            .as("recon_err"))
        .orderBy($"vec_id")
    },
    Some("""WITH b AS (
           |  SELECT vec_id, embedding,
           |    CAST(list_max(list_transform(embedding,
           |      x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS amax
           |  FROM embeddings
           |), s AS (
           |  SELECT vec_id, embedding, amax / 127.0 AS scale
           |  FROM b WHERE amax > 0
           |)
           |SELECT vec_id, round(scale, 9) AS scale,
           |  CAST(list_sum(list_transform(embedding, v ->
           |    least(127.0, greatest(-127.0,
           |      floor(CAST(v AS DOUBLE) / scale + 0.5))))) AS BIGINT)
           |    AS q_sum,
           |  round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list_transform(embedding, v ->
           |        (CAST(v AS DOUBLE) - least(127.0, greatest(-127.0,
           |           floor(CAST(v AS DOUBLE) / scale + 0.5))) * scale) *
           |        (CAST(v AS DOUBLE) - least(127.0, greatest(-127.0,
           |           floor(CAST(v AS DOUBLE) / scale + 0.5))) * scale))),
           |      (a, x) -> a + x)) /
           |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list_transform(embedding, v ->
           |        CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
           |      (a, x) -> a + x)), 6)
           |    AS recon_err
           |FROM s ORDER BY vec_id""".stripMargin))

  // ---------------------------------------------------------------- X3
  /** The X3 rows' scored frame over the corpus `e0`: the first `n`
    * vectors are the probes, each scored by the family's rounded cosine
    * against every other vector of its `cell` (the whole corpus when
    * `cell` is None), the cell column carried along. */
  private def probeScored(e0: DataFrame, n: Int,
      cell: Option[String]): DataFrame = {
    val e = Ann.withNrm(e0)
    val q = Ann.probeFrame(e, n,
      cell.map(c => col(c).as(s"q_$c")).toSeq: _*)
    val notSelf = col("vec_id") =!= col("q_id")
    e.join(broadcast(q),
      cell.fold(notSelf)(c => col(c) === col(s"q_$c") && notSelf))
      .select(Seq(col("q_id"), col("vec_id").as("neighbor_id")) ++
        cell.map(col) :+ Ann.cosSim(col("nrm")): _*)
  }

  /** The label-cell IVF top-3 (q_sim_ann_ivf's rows, unordered). */
  private def labelCellTop3(spark: SparkSession, sfDir: String) =
    Ann.rankTopK(probeScored(emb(spark, sfDir), 50, Some("label")), 3)

  /** Brute-force cosine top-k: 10 query vectors broadcast against the
    * full table (the exact baseline every ANN variant is measured
    * against). Ranking uses the ROUNDED similarity + vec_id tiebreak so
    * the k-set is engine-stable. */
  val qSimCosineTopk = Q("q_sim_cosine_topk",
    (spark, sfDir) => {
      import spark.implicits._
      Ann.rankTopK(probeScored(emb(spark, sfDir), 10, None), 5)
        .orderBy($"q_id", $"rank")
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS qv
           |  FROM embeddings WHERE vec_id < 10
           |), scored AS (
           |  SELECT q_id, e.vec_id AS neighbor_id,
           |    round(list_sum(list_transform(list_zip(qv, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
           |      (sqrt(list_sum(list_transform(list_zip(qv, qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))), 6)
           |      AS cos_sim
           |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
           |), ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos_sim DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT q_id, neighbor_id, cos_sim, rank
           |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin))

  /** IVF-bucketed ANN: each query probes only its own cell (label) —
    * the partition-pruned scale path; 1/|cells| of the work of
    * brute force per probe. */
  val qSimAnnIvf = Q("q_sim_ann_ivf",
    (spark, sfDir) => {
      import spark.implicits._
      labelCellTop3(spark, sfDir).orderBy($"q_id", $"rank")
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS qv, label AS q_label
           |  FROM embeddings WHERE vec_id < 50
           |), scored AS (
           |  SELECT q_id, e.vec_id AS neighbor_id, e.label AS label,
           |    round(list_sum(list_transform(list_zip(qv, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
           |      (sqrt(list_sum(list_transform(list_zip(qv, qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))), 6)
           |      AS cos_sim
           |  FROM embeddings e JOIN q
           |    ON e.label = q.q_label AND e.vec_id <> q.q_id
           |), ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos_sim DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT q_id, neighbor_id, label, cos_sim, rank
           |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin))

  /** E237: **ANN recall audit** — the third member of the
    * sketch-accuracy family (MinHash E227, KMV E210): for each of the
    * 50 probe vectors, how much of the exact brute-force top-3 does
    * the IVF path (label-cell restriction, the X3 ANN) actually
    * recover? recall@3 = |ANN∩exact|/3 per probe, with the global
    * mean — the number an ANN deployment must watch when it tunes
    * probe counts. Both top-3 sets are deterministic
    * (cos rounded 6dp, neighbor-id tiebreak), the intersection is an
    * equi-join on (probe, neighbor), and every division is integer/3
    * at the edge. The brute side IS the X3 broadcast top-k — the
    * audit costs one extra 50×500 scored frame, which is the point:
    * auditing on a sample is cheap insurance. */
  val qSimAnnRecall = Q("q_sim_ann_recall",
    (spark, sfDir) =>
      Ann.recallAt3(spark, sfDir, labelCellTop3(spark, sfDir)),
    Some(Ann.recallSql(s"""${Ann.qvCte}, ann AS (
           |  SELECT p.vec_id AS q_id, e.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
           |      ${Ann.cosSql("p.embedding", "e.embedding")} DESC,
           |      e.vec_id) AS rank
           |  FROM embeddings e JOIN embeddings p ON p.vec_id < 50
           |    AND e.label = p.label AND e.vec_id <> p.vec_id
           |)""".stripMargin, "ann")))

  // ---------------------------------------------------------------- X4
  /** Multimodal join: text table ⋈ vector table on the shared id, with
    * predicates on both modalities. */
  val qMultimodalJoin = Q("q_multimodal_join",
    (spark, sfDir) => {
      import spark.implicits._
      val d = docs(spark, sfDir)
      val e = emb(spark, sfDir)
      d.join(e, d("doc_id") === e("vec_id"))
        .filter($"lang" === "en" && $"n_chars" > 200)
        .select($"doc_id", $"lang", $"n_chars", $"label",
          round(Vectors.normSq($"embedding"), 6).as("norm_sq"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars, label,
           |       round(list_sum(list_transform(list_zip(embedding, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6)
           |         AS norm_sq
           |FROM documents JOIN embeddings ON doc_id = vec_id
           |WHERE lang = 'en' AND n_chars > 200
           |ORDER BY doc_id""".stripMargin))

  /** Multimodal binary plumbing: text → binary payload column →
    * partition-wise typed decode (mapPartitions). The decode itself is a
    * DETERMINISTIC STUB (no image libs in this container — it derives
    * fake dimensions from the byte length); the Spark-side contract —
    * binary column, typed Dataset, per-partition batch processing, no
    * driver collect — is the real thing a media pipeline needs. */
  val qMultimodalMeta = Q("q_multimodal_meta",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          // STUB decoder: a real pipeline would parse image headers
          // here; we derive metadata deterministically from the bytes.
          val n = bytes.length
          MediaMeta(id, n, 64 + n % 512, 64 + (n * 7) % 512, 1 + n % 3)
        })
        .toDF()
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
           |  CAST(64 + octet_length(CAST(text AS BLOB)) % 512 AS INT)
           |    AS width,
           |  CAST(64 + (octet_length(CAST(text AS BLOB)) * 7) % 512
           |    AS INT) AS height,
           |  CAST(1 + octet_length(CAST(text AS BLOB)) % 3 AS INT)
           |    AS channels
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Multimodal resize/frame-sample plumbing (decode stubs like
    * qMultimodalMeta): treat the payload as a "video", emit one row per
    * sampled frame (stride 128 bytes, 64-byte frames) with typed
    * offsets — posexplode over a per-row generated frame list, the
    * shape a real frame-sampler produces. Frame geometry is pure
    * arithmetic on the byte length, so the oracle replicates it. */
  val qMultimodalFrames = Q("q_multimodal_frames",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .select($"doc_id", length($"payload").as("n_bytes"))
        .filter($"n_bytes" >= 64)
        .select($"doc_id", $"n_bytes",
          posexplode(sequence(lit(0),
            expr("(n_bytes - 64) div 128").cast("int")))
            .as(Seq("frame_idx", "k")))
        .select($"doc_id", $"frame_idx",
          ($"k" * 128).as("frame_offset"),
          least(lit(64), $"n_bytes" - $"k" * 128).as("frame_len"))
        .orderBy($"doc_id", $"frame_idx")
    },
    Some("""WITH b AS (
           |  SELECT doc_id,
           |         octet_length(CAST(text AS BLOB)) AS n_bytes
           |  FROM documents
           |  WHERE octet_length(CAST(text AS BLOB)) >= 64
           |)
           |SELECT doc_id,
           |       CAST(k AS INT) AS frame_idx,
           |       CAST(k * 128 AS INT) AS frame_offset,
           |       CAST(least(64, n_bytes - k * 128) AS INT) AS frame_len
           |FROM b, LATERAL (SELECT unnest(generate_series(0,
           |  (n_bytes - 64) // 128)) AS k) t
           |ORDER BY doc_id, frame_idx""".stripMargin))

  /** Multimodal feature-extraction plumbing: a 16-bin histogram over
    * the decoded payload's units — the fixed-size feature vector a real
    * pipeline derives per image/audio chunk (codepoint%16 stands in for
    * byte%16, same stub contract as qMultimodalMeta). Distributed as a
    * plain explode + two-phase count — feature extraction is
    * embarrassingly parallel and must never collect. */
  val qMmFeatures = Q("q_mm_features",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", explode(split($"text", "")).as("c"))
        .filter($"c" =!= "")
        .groupBy($"doc_id", pmod(ascii($"c"), lit(16)).as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"doc_id", $"bin")
    },
    Some("""SELECT doc_id, unicode(c) % 16 AS bin, count(*) AS cnt
           |FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
           |      FROM documents) u
           |WHERE c <> ''
           |GROUP BY 1, 2 ORDER BY doc_id, bin""".stripMargin))

  /** Multimodal resize plumbing: strided downsample of the payload to a
    * ~64-unit target (stride = len/64), emitting the sampled length and
    * a content hash of the sampled units — the deterministic skeleton of
    * an image resize (stride over pixels) with the pixel math stubbed,
    * per the harness's no-media-libs contract. Pure per-row HOFs: no
    * shuffle at all before the output sort. */
  val qMmResize = Q("q_mm_resize",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .filter(length($"text") > 0)
        .select($"doc_id", split($"text", "").as("cs"))
        .withColumn("stride",
          greatest(lit(1), floor(size($"cs") / 64).cast("int")))
        .withColumn("sampled",
          expr("transform(sequence(1, size(cs), stride), " +
            "i -> element_at(cs, i))"))
        .select($"doc_id", size($"cs").as("n_in"),
          size($"sampled").as("n_out"),
          charFold(concat_ws("", $"sampled")).as("sample_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH b AS (
            |  SELECT doc_id, string_split(text, '') AS cs
            |  FROM documents WHERE len(text) > 0
            |), p AS (
            |  SELECT doc_id, CAST(len(cs) AS INT) AS n_in,
            |         greatest(1, len(cs) // 64) AS stride, cs
            |  FROM b
            |)
            |SELECT doc_id, n_in,
            |  CAST(len(generate_series(1, n_in, stride)) AS INT)
            |    AS n_out,
            |  list_reduce(list_prepend(CAST(0 AS BIGINT),
            |    list_transform(generate_series(1, n_in, stride),
            |      i -> CAST(unicode(cs[i]) AS BIGINT))),
            |    (a, c) -> (a * 31 + c) % $P) AS sample_hash
            |FROM p ORDER BY doc_id""".stripMargin))

  /** LSH-bucketed ANN (the second scale path next to qSimAnnIvf):
    * 8 random-hyperplane sign bits → 256 buckets; queries probe only
    * their bucket. Hyperplanes come from a portable LCG so both engines
    * derive bit-identical planes, dots are sequential double folds →
    * identical signs → identical buckets; the oracle replicates the
    * whole thing. Recall trades against the 1/|buckets| probe cost —
    * the standard LSH contract. */
  val qSimAnnLsh = Q("q_sim_ann_lsh",
    (spark, sfDir) => {
      import spark.implicits._
      // plane(p) is the shared hyperplane helper (embed-guard section)
      val bucket = (0 until 8).map(p =>
        when(Vectors.dotHof($"embedding", plane(p)) >= 0, lit(1L << p))
          .otherwise(0L)).reduce(_ + _)
      Ann.rankTopK(probeScored(
          emb(spark, sfDir).withColumn("bkt", bucket), 50, Some("bkt")), 3)
        .orderBy($"q_id", $"rank")
    },
    Some("""WITH planes AS (
           |  SELECT p, list_transform(range(0, 64), i ->
           |    (((p * 64 + i) * 2654435761) % 2147483648)
           |      / 2147483648.0 - 0.5) AS pl
           |  FROM (SELECT unnest(range(0, 8)) AS p)
           |), dots AS (
           |  SELECT e.vec_id, pp.p,
           |    list_sum(list_transform(list_zip(e.embedding, pp.pl),
           |      z -> CAST(z[1] AS DOUBLE) * z[2])) AS d
           |  FROM embeddings e, planes pp
           |), bkts AS (
           |  SELECT vec_id,
           |    CAST(sum(CASE WHEN d >= 0 THEN (1 << p) ELSE 0 END)
           |      AS BIGINT) AS bkt
           |  FROM dots GROUP BY vec_id
           |), ee AS (
           |  SELECT e.vec_id, e.embedding, b.bkt,
           |    sqrt(list_sum(list_transform(list_zip(e.embedding,
           |      e.embedding), z -> CAST(z[1] AS DOUBLE)
           |        * CAST(z[2] AS DOUBLE)))) AS nrm
           |  FROM embeddings e JOIN bkts b USING (vec_id)
           |), q AS (
           |  SELECT vec_id AS q_id, embedding AS qv, bkt AS q_bkt,
           |         nrm AS qnrm
           |  FROM ee WHERE vec_id < 50
           |), scored AS (
           |  SELECT q_id, e.vec_id AS neighbor_id, e.bkt,
           |    round(list_sum(list_transform(list_zip(qv, e.embedding),
           |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
           |      / (qnrm * e.nrm), 6) AS cos_sim
           |  FROM ee e JOIN q ON e.bkt = q.q_bkt AND e.vec_id <> q.q_id
           |), ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos_sim DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT q_id, neighbor_id, bkt, cos_sim, rank
           |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin))

  // ---------------------------------------------------------------- X5
  /** Term frequency: tokenize → (lang, term) counts → top-10 per lang. */
  val qTextTf = Q("q_text_tf",
    (spark, sfDir) => {
      import spark.implicits._
      val tf = docs(spark, sfDir)
        .select($"lang", explode(split(trim($"text"), " ")).as("term"))
        .filter($"term" =!= "")
        .groupBy($"lang", $"term").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"lang")
        .orderBy($"cnt".desc, $"term")
      tf.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 10)
        .orderBy($"lang", $"rank")
    },
    Some("""WITH tf AS (
           |  SELECT lang, w AS term, count(*) AS cnt
           |  FROM (SELECT lang,
           |          unnest(string_split(trim(text), ' ')) AS w
           |        FROM documents) u
           |  WHERE w <> '' GROUP BY 1, 2
           |), ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY lang
           |    ORDER BY cnt DESC, term) AS rank
           |  FROM tf
           |)
           |SELECT lang, term, cnt, rank FROM ranked
           |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin))

  /** E127: **bigram frequency table** — the order-2 companion to the
    * unigram TF table (X5/E37/E112 stop at order 1): corpus-wide
    * adjacent-pair counts, the raw material for collocation mining,
    * boilerplate detection (high-frequency bigrams are template
    * phrases), and the bigram LM the E112 scaladoc points to. Pairing
    * is ONE `lead` over the (doc, position) window — adjacency comes
    * from the tokenizer's own positions, never a self-join on pos+1
    * (same data, one shuffle instead of two map-sized join sides).
    * After the pair agg the frame is vocabulary²-sized but Zipf-thin
    * in practice; the top-100 is a TakeOrderedAndProject (bounded
    * per-partition heaps, no global sort) with the (n, w1, w2) total
    * order making the cut deterministic. At 100 TB the shape is
    * unchanged — tokenize, one window, one agg, one top-k. */
  val qNgramFreq = Q("q_ngram_freq",
    (spark, sfDir) => {
      import spark.implicits._
      val toks = docs(spark, sfDir)
        .select($"doc_id",
          posexplode(split(trim($"text"), " ")).as(Seq("pos", "tok")))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      toks.withColumn("w2", lead($"tok", 1).over(w))
        .filter($"w2".isNotNull && $"tok" =!= "" && $"w2" =!= "")
        .groupBy($"tok".as("w1"), $"w2")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"w1", $"w2")
        .limit(100)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(ws) AS tok,
           |         unnest(range(1, len(ws) + 1)) AS pos
           |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws
           |        FROM documents) u
           |), paired AS (
           |  SELECT tok AS w1,
           |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           |  FROM toks
           |)
           |SELECT w1, w2, count(*) AS n
           |FROM paired
           |WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
           |GROUP BY w1, w2
           |ORDER BY n DESC, w1, w2 LIMIT 100""".stripMargin))

  // ------------------------------------------------------- language ID
  /** Language ID heuristic: stopword-ratio scoring (the n-gram-profile
    * family reduced to its dataflow: tokenize → score → classify). */
  val qLangId = Q("q_lang_id",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", $"lang",
          split(trim($"text"), " ").as("ws"))
        .select($"doc_id", $"lang",
          round(size(filter($"ws", w => w.isin("a", "the"))) /
            size($"ws").cast("double"), 6).as("stop_ratio"))
        .select($"doc_id", $"lang", $"stop_ratio",
          when($"stop_ratio" >= 0.08, "en").otherwise("other")
            .as("lang_guess"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang,
           |  round(len(list_filter(string_split(trim(text), ' '),
           |      w -> w IN ('a', 'the'))) * 1.0 /
           |    len(string_split(trim(text), ' ')), 6) AS stop_ratio,
           |  CASE WHEN round(len(list_filter(
           |      string_split(trim(text), ' '),
           |      w -> w IN ('a', 'the'))) * 1.0 /
           |    len(string_split(trim(text), ' ')), 6) >= 0.08
           |    THEN 'en' ELSE 'other' END AS lang_guess
           |FROM documents ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------- quality scoring
  /** Quality scoring: length / vocabulary-diversity ratios combined
    * into one score — the standard pre-training filter signals. */
  val qQualityScore = Q("q_quality_score",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", $"n_chars",
          split(trim($"text"), " ").as("ws"))
        .select($"doc_id", $"n_chars",
          size($"ws").as("n_words"),
          size(array_distinct($"ws")).as("n_distinct_words"))
        .select($"doc_id", $"n_chars", $"n_words", $"n_distinct_words",
          round($"n_distinct_words" / $"n_words".cast("double"), 6)
            .as("distinct_ratio"),
          round($"n_chars" / $"n_words".cast("double"), 6)
            .as("avg_word_len"),
          round(
            ($"n_distinct_words" / $"n_words".cast("double")) * 0.5 +
              least($"n_words".cast("double") / 100.0, lit(1.0)) * 0.5,
            6).as("quality"))
        .orderBy($"doc_id")
    },
    Some("""WITH b AS (
           |  SELECT doc_id, n_chars,
           |         len(string_split(trim(text), ' ')) AS n_words,
           |         len(list_distinct(string_split(trim(text), ' ')))
           |           AS n_distinct_words
           |  FROM documents
           |)
           |SELECT doc_id, n_chars, n_words, n_distinct_words,
           |  round(n_distinct_words * 1.0 / n_words, 6)
           |    AS distinct_ratio,
           |  round(n_chars * 1.0 / n_words, 6) AS avg_word_len,
           |  round((n_distinct_words * 1.0 / n_words) * 0.5 +
           |    least(n_words * 1.0 / 100.0, 1.0) * 0.5, 6) AS quality
           |FROM b ORDER BY doc_id""".stripMargin))

  /** E112: **unigram-LM quality scoring** — the perplexity-proxy
    * filter (the CCNet/KenLM idea at unigram order): score each
    * document by the mean log-probability of its tokens under a
    * language model fit on THE CORPUS ITSELF, so rare-word-dominated
    * junk (mojibake, id dumps, wrong-language shards) scores far more
    * negative than ordinary prose. Two passes, both cheap at 100 TB:
    * pass 1 fits the LM — explode to tokens, ONE hash agg to term
    * frequencies, a 1-row total broadcast-crossed to turn counts into
    * log-probs (the vocabulary is domain-bounded: ~10⁶ rows no matter
    * how many PB of text, so the LM table BROADCASTS — same shape as
    * TF-IDF's document-frequency side E37); pass 2 scores — tokens
    * broadcast-join the LM, one hash agg back to doc grain. No
    * fact-sized shuffle anywhere except the token agg itself. At
    * higher n-gram orders the vocab bound breaks (bigrams+ explode
    * combinatorially) — that is where the CMS sketch (E51) replaces
    * the exact TF table; pinned here as the documented scale path. */
  val qQualityLm = Q("q_quality_lm",
    (spark, sfDir) => {
      import spark.implicits._
      val toks = docs(spark, sfDir)
        .select($"doc_id",
          explode(split(trim($"text"), " ")).as("w"))
        .filter(length($"w") > 0)
      val tf = toks.groupBy($"w").agg(count(lit(1)).as("c"))
      val total = tf.agg(sum($"c").as("n_total"))
      val lm = tf.crossJoin(broadcast(total))
        .select($"w", log($"c" / $"n_total").as("lp"))
      toks.join(broadcast(lm), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg($"lp"), 6).as("lm_score"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
           |  FROM documents
           |), t2 AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
           |tf AS (SELECT w, count(*) AS c FROM t2 GROUP BY w),
           |tot AS (SELECT sum(c) AS n_total FROM tf),
           |lm AS (SELECT w, ln(c / (SELECT n_total FROM tot)) AS lp
           |       FROM tf)
           |SELECT doc_id, count(*) AS n_tokens,
           |       round(avg(lp), 6) AS lm_score
           |FROM t2 JOIN lm USING (w)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- repetition quality
  /** Repetition-based quality signals — the filter family (after
    * Rae et al.'s Gopher rules) that catches boilerplate and
    * degenerate generations which length/stopword scores miss:
    * duplicate-bigram fraction (how much of the text is re-used
    * phrasing) and top-bigram fraction (how dominant the single most
    * frequent bigram is). Both are computed ROW-LOCALLY with array
    * HOFs — distinct-count via `array_distinct`, the max bigram
    * multiplicity via a transform-over-distinct count — so quality
    * scoring 100 TB is a zero-shuffle scan pass exactly like chunking:
    * no explode, no groupBy, nothing leaves the row until the output
    * sort. The O(distinct·total) per-row count is bounded by document
    * length (~10⁴ ops at 100-word docs), the classic row-local-vs-
    * shuffle trade — at book length you'd switch to the explode +
    * two-level aggregation form. */
  val qQualityRepetition = Q("q_quality_repetition",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", split(trim($"text"), " ").as("ws"))
        .filter(size($"ws") >= 2)
        .select($"doc_id", transform(sequence(lit(1), size($"ws") - 1),
          i => concat_ws(" ", element_at($"ws", i),
            element_at($"ws", i + 1))).as("bg"))
        .select($"doc_id",
          size($"bg").as("n_bigrams"),
          round(lit(1.0) -
            size(array_distinct($"bg")) / size($"bg").cast("double"), 6)
            .as("dup_bigram_frac"),
          round(array_max(transform(array_distinct($"bg"),
            b => size(filter($"bg", x => x === b))))
            / size($"bg").cast("double"), 6).as("top_bigram_frac"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, string_split(trim(text), ' ') AS ws
           |  FROM documents
           |), b AS (
           |  SELECT doc_id,
           |         list_transform(generate_series(1, len(ws) - 1),
           |           i -> ws[i] || ' ' || ws[i + 1]) AS bg
           |  FROM t WHERE len(ws) >= 2
           |)
           |SELECT doc_id, len(bg) AS n_bigrams,
           |  round(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 6)
           |    AS dup_bigram_frac,
           |  round(list_max(list_transform(list_distinct(bg),
           |    b2 -> len(list_filter(bg, x -> x = b2)))) * 1.0
           |    / len(bg), 6) AS top_bigram_frac
           |FROM b ORDER BY doc_id""".stripMargin))

  /** E345: **bigram-LM scoring with interpolated backoff** — the next
    * rung above E112's unigram LM, and the shape change matters more
    * than the order: p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·p_uni(w₂)
    * (Jelinek–Mercer interpolation, λ = 0.75 — the standard fix for
    * unseen-bigram zeros without Katz backoff's discounting table),
    * and a document scores the mean log of that mixture over its
    * bigrams. Junk with plausible WORDS but implausible SEQUENCES
    * (shuffled text, keyword stuffing, concatenated fragments) sails
    * past a unigram filter and fails this one.
    *
    * Scale shape, deliberately different from E112: the unigram side
    * still BROADCASTS (vocab-bounded), but the bigram table grows
    * with the corpus and does NOT — so the conditional-probability
    * join runs as a key-partitioned shuffle join on (w₁,w₂), exactly
    * the plan a 100 TB run needs (bigram counts and bigram
    * occurrences co-shuffle once; nothing collects). That is the
    * documented scale path E112's scaladoc pointed at (the CMS sketch
    * replaces the EXACT table only when even the shuffled table's
    * size must be bounded). λ and 1−λ are exact binary fractions
    * (3/4, 1/4), divisions are exact-integer-over-exact-integer in
    * double, and both engines apply the identical op order, so the
    * 6-dp rounded score compares exactly under the gate. */
  /** The full bigram-LM pipeline over any (doc_id, text) frame —
    * factored out of the Q so OperatorSuite can assert the semantic
    * invariant (fluent word ORDER outscores shuffled words with the
    * same unigram profile) on a synthetic corpus with real sequence
    * signal; the driver fixture's text is order-random by
    * construction, so the invariant is only falsifiable off-fixture. */
  private[graft] def bigramLmScores(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val pairs = d
      .select($"doc_id", split(trim($"text"), " ").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"doc_id", explode(transform(
        sequence(lit(1), size($"ws") - 1),
        i => struct(element_at($"ws", i).as("w1"),
          element_at($"ws", i + 1).as("w2")))).as("p"))
      .select($"doc_id", $"p.w1", $"p.w2")
    val c12 = pairs.groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val toks = d.select(explode(split(trim($"text"), " ")).as("w"))
    val tf = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val total = tf.agg(sum($"c").as("n_total"))
    val uni = tf.crossJoin(broadcast(total))
      .select($"w".as("w2"), ($"c" / $"n_total").as("pu"))
    val cond = c12.join(c1, "w1")
      .select($"w1", $"w2", ($"c12" / $"c1").as("pc"))
    pairs.join(cond, Seq("w1", "w2"))
      .join(broadcast(uni), Seq("w2"))
      .select($"doc_id",
        log(lit(0.75) * $"pc" + lit(0.25) * $"pu").as("lp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg($"lp"), 6).as("bigram_lm_score"))
  }

  val qQualityBigramLm = Q("q_quality_bigram_lm",
    (spark, sfDir) => {
      import spark.implicits._
      bigramLmScores(docs(spark, sfDir).select($"doc_id", $"text"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, string_split(trim(text), ' ') AS ws
           |  FROM documents
           |), p AS (
           |  SELECT doc_id,
           |    unnest(list_transform(generate_series(1, len(ws) - 1),
           |      i -> ws[i])) AS w1,
           |    unnest(list_transform(generate_series(1, len(ws) - 1),
           |      i -> ws[i + 1])) AS w2
           |  FROM t WHERE len(ws) >= 2
           |), c12 AS (
           |  SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2
           |), c1 AS (
           |  SELECT w1, count(*) AS c1 FROM p GROUP BY 1
           |), toks AS (
           |  SELECT unnest(string_split(trim(text), ' ')) AS w
           |  FROM documents
           |), tf AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
           |tot AS (SELECT sum(c) AS n_total FROM tf),
           |uni AS (
           |  SELECT w AS w2, c / (SELECT n_total FROM tot) AS pu
           |  FROM tf
           |), cond AS (
           |  SELECT w1, w2, c12 / c1 AS pc
           |  FROM c12 JOIN c1 USING (w1)
           |)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  round(avg(ln(0.75 * pc + 0.25 * pu)), 6)
           |    AS bigram_lm_score
           |FROM p JOIN cond USING (w1, w2) JOIN uni USING (w2)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** E346: **DSIR importance-weighted data selection** — Data
    * Selection with Importance Resampling (Xie et al. 2023): score
    * every raw document by how much more likely its HASHED-unigram
    * feature profile is under a TARGET domain (here: source 'src1',
    * standing in for "high-quality reference corpus") than under the
    * raw pool, log w(x) = Σ_tokens [ln p_tgt(b(w)) − ln p_raw(b(w))],
    * add-one smoothed over B = 8192 hash buckets, then keep the
    * top-N. This is the published, production-standard way to tilt a
    * 100 TB crawl toward a domain WITHOUT training a classifier.
    *
    * The hashing is the whole scale story (and why DSIR hashes at
    * all): both feature tables are ≤ B rows NO MATTER THE CORPUS
    * SIZE, so fitting is two token-grain aggregations and scoring is
    * one BROADCAST probe + one doc-grain agg — a scan-shaped
    * pipeline with zero corpus-sized joins. Selection ranks on the
    * 6-dp-rounded weight with doc_id tiebreak, so the kept set is
    * deterministic and engine-portable (the bucket hash is the house
    * char-fold polynomial, identical in DuckDB). */
  /** The full DSIR scoring pipeline over any (doc_id, text, is_tgt)
    * frame — factored out of the Q so OperatorSuite can assert the
    * semantic invariant (target-vocabulary docs rank first) on a
    * synthetic corpus with a REAL domain shift; the driver fixture
    * draws every source from one shared vocabulary, so on-fixture the
    * weights are smoothing noise by construction (the gate still pins
    * the computation bit-for-bit, which is what it is for). */
  private[graft] def dsirScores(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val B = 8192
    val tok = d
      .select($"doc_id", $"is_tgt",
        explode(split(trim($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
      .select($"doc_id", $"is_tgt", (charFold($"w") % B).as("b"))
    val raw = tok.groupBy($"b").agg(count(lit(1)).as("cr"))
    val tgt = tok.filter($"is_tgt")
      .groupBy($"b").agg(count(lit(1)).as("ct"))
    val totals = tok.agg(count(lit(1)).as("nr"),
      count(when($"is_tgt", 1)).as("ntg"))
    val lr = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select($"b",
        (log(($"ct" + 1) / ($"ntg" + B)) -
          log(($"cr" + 1) / ($"nr" + B))).as("lw"))
    tok.join(broadcast(lr), Seq("b"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"lw"), 6).as("log_w"))
  }

  val qSampleDsir = Q("q_sample_dsir",
    (spark, sfDir) => {
      import spark.implicits._
      dsirScores(docs(spark, sfDir)
          .select($"doc_id", $"text",
            ($"source" === "src1").as("is_tgt")))
        .orderBy($"log_w".desc, $"doc_id")
        .limit(50)
    },
    Some(s"""WITH tok AS (
           |  SELECT doc_id, source,
           |    ${charFoldSql("w")} % 8192 AS b
           |  FROM (
           |    SELECT doc_id, source,
           |      unnest(string_split(trim(text), ' ')) AS w
           |    FROM documents
           |  ) WHERE len(w) > 0
           |), raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY 1),
           |tgt AS (
           |  SELECT b, count(*) AS ct FROM tok
           |  WHERE source = 'src1' GROUP BY 1
           |), tot AS (
           |  SELECT count(*) AS nr,
           |    count(*) FILTER (WHERE source = 'src1') AS ntg
           |  FROM tok
           |), lr AS (
           |  SELECT r.b,
           |    ln((coalesce(t.ct, 0) + 1)
           |       / ((SELECT ntg FROM tot) + 8192))
           |    - ln((r.cr + 1) / ((SELECT nr FROM tot) + 8192)) AS lw
           |  FROM raw r LEFT JOIN tgt t USING (b)
           |)
           |SELECT doc_id, count(*) AS n_tokens,
           |  round(sum(lw), 6) AS log_w
           |FROM tok JOIN lr USING (b)
           |GROUP BY doc_id
           |ORDER BY log_w DESC, doc_id LIMIT 50""".stripMargin))

  // ------------------------------------------------------ token counts
  /** Token counting: whitespace tokens, regex word-runs, and a BPE-ish
    * chars/4 estimate. */
  val qTokenCount = Q("q_token_count",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id",
          size(split(trim($"text"), " ")).as("n_ws_tokens"),
          regexp_count($"text", lit("[a-z]+")).as("n_word_runs"),
          ceil($"n_chars" / 4.0).cast("long").as("n_bpeish"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  len(string_split(trim(text), ' ')) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT)
           |    AS n_word_runs,
           |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpeish
           |FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------ fingerprint
  /** Document fingerprinting: order-sensitive polynomial rolling hash
    * over per-word hashes (nested HOF fold) — a content-defined id that
    * unlike the shingle set distinguishes word order. */
  val qFingerprint = Q("q_fingerprint",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id", split(trim($"text"), " ").as("ws"))
        .select($"doc_id",
          aggregate(transform($"ws", w => charFold(w)), lit(0L),
            (a, h) => (a * 131L + h) % P).as("fingerprint"))
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id,
            |  list_reduce(list_prepend(CAST(0 AS BIGINT),
            |    list_transform(string_split(trim(text), ' '),
            |      w -> ${charFoldSql("w")})),
            |    (a, h) -> (a * 131 + h) % $P) AS fingerprint
            |FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- generator surface
  /** Positional + null-preserving generator semantics — the X8 corners
    * `explode` (q_text_tf) does not exercise: `posexplode_outer` emits
    * the element INDEX alongside each element and keeps a (null, null)
    * row for a null array instead of dropping the parent row — the
    * contract that matters when flattening optional repeated fields
    * (a doc with no attachments must survive into the output). Every
    * 7th doc's array is nulled to make the outer semantics observable;
    * the oracle mirrors with a LEFT LATERAL unnest over an index
    * series. Generators are narrow (zero shuffle before the sort). */
  val qGenPosexplode = Q("q_gen_posexplode",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id",
          when($"doc_id" % 7 === 0, lit(null))
            .otherwise(slice(split(trim($"text"), " "), 1, 3)).as("a"))
        .select($"doc_id", posexplode_outer($"a"))
        .withColumnRenamed("col", "word")
        .orderBy($"doc_id", $"pos")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 7 = 0 THEN NULL
           |              ELSE string_split(trim(text), ' ')[1:3]
           |         END AS a
           |  FROM documents
           |)
           |SELECT doc_id, CAST(i - 1 AS INT) AS pos, a[i] AS word
           |FROM t LEFT JOIN LATERAL (
           |  SELECT unnest(generate_series(1, len(a))) AS i) u ON TRUE
           |ORDER BY doc_id, pos""".stripMargin))

  // ------------------------------------------------- train/test split
  /** Leakage-safe train/test split: the fold is a deterministic hash of
    * the GROUP key (`source`), not the row, so every document from one
    * source lands in the same fold — the split you need when near-dup
    * documents cluster within a source (row-hash splits leak them
    * across folds). Hash = portable char-fold spread by the Knuth
    * multiplicative constant, so both engines (and every retry on every
    * cluster) assign identical folds; no rand(), no sampleBy (both are
    * partitioning-dependent). Output: per-fold document/source/length
    * stats. */
  val qSplitGroup = Q("q_split_group",
    (spark, sfDir) => {
      import spark.implicits._
      val bucket =
        charFold($"source") * 2654435761L % 2147483648L % 100L
      docs(spark, sfDir)
        .withColumn("fold",
          when(bucket < 80, "train").otherwise("test"))
        .groupBy($"fold")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"source").as("n_sources"),
          round(avg($"n_chars"), 6).as("avg_chars"))
        .orderBy($"fold")
    },
    Some(s"""WITH f AS (
            |  SELECT CASE WHEN ${charFoldSql("source")}
            |      * 2654435761 % 2147483648 % 100 < 80
            |    THEN 'train' ELSE 'test' END AS fold,
            |    source, n_chars
            |  FROM documents
            |)
            |SELECT fold, count(*) AS n_docs,
            |       count(DISTINCT source) AS n_sources,
            |       round(avg(n_chars), 6) AS avg_chars
            |FROM f GROUP BY 1 ORDER BY fold""".stripMargin))

  // ------------------------------------------- stratified down-sample
  /** Deterministic stratified sampling — corpus REBALANCING, the other
    * half of the split story: keep 10% of the over-represented class
    * (`en`) and 50% of everything else, with membership decided by a
    * portable hash of the row key instead of `rand()`/`sample()` (both
    * are partitioning-dependent: a retry, an executor loss or a
    * different file split silently changes the sample — unacceptable
    * for a training corpus that must be reproducible bit-for-bit).
    * The hash-threshold form is also embarrassingly parallel: a pure
    * per-row filter, no shuffle until the summary aggregation, and the
    * same rows survive on a laptop and a 1000-executor cluster.
    * Output: per-lang kept counts + length stats. */
  val qSampleStratified = Q("q_sample_stratified",
    (spark, sfDir) => {
      import spark.implicits._
      // selection hash shared with the per-source cap — overflow and
      // negative-id contracts live on [[knuthSpread]] (ADVICE r6 item 3)
      val bucket = knuthSpread($"doc_id") % 100L
      val rate = when($"lang" === "en", 10L).otherwise(50L)
      docs(spark, sfDir)
        .filter(bucket < rate)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"),
          countDistinct($"source").as("n_sources"),
          round(avg($"n_chars"), 6).as("avg_chars"))
        .orderBy($"lang")
    },
    Some(s"""SELECT lang, count(*) AS n_kept,
            |       count(DISTINCT source) AS n_sources,
            |       round(avg(n_chars), 6) AS avg_chars
            |FROM documents
            |WHERE ${knuthSpreadSql("doc_id")} % 100 <
            |      CASE WHEN lang = 'en' THEN 10 ELSE 50 END
            |GROUP BY lang ORDER BY lang""".stripMargin))

  /** E113: **weighted sampling WITHOUT replacement** — the third verb
    * of the sampling family (E36 stratified rates, E70 mixture rates,
    * E49 per-source caps): select a FIXED-SIZE sample of k=100 docs
    * where a doc's inclusion odds scale with its source weight,
    * without replacement (each doc at most once) and bit-reproducible
    * on any engine/cluster/retry. The scheme is Efraimidis–Spirakis
    * restricted to integer weights so it needs NO floating point at
    * all: each doc draws w independent uniform integers from the
    * sampling family's shared portable hash ([[knuthSpread]], distinct
    * salts) and keeps the MAX as its sort key — "replicate w times,
    * draw once each, keep the best", so a weight-3 doc holds the max
    * of 3 draws and wins proportionally more top-k slots. rank by
    * (key DESC, doc_id) is a TOTAL order over exact integers — the
    * float-tie ambiguity of the ln(u)/w formulation (1-ulp `log`
    * disagreements between engines flipping a rank) is impossible by
    * construction. Plan shape: zero-shuffle key computation, then ONE
    * TakeOrderedAndProject (top-k per partition, merged on the
    * driver) — sampling 100 TB never sorts globally and never
    * shuffles the corpus. */
  val qSampleWeighted = Q("q_sample_weighted",
    (spark, sfDir) => {
      import spark.implicits._
      val w = regexp_extract($"source", "[0-9]+", 0)
        .cast("long") % 3 + 1
      def draw(j: Int) =
        knuthSpread($"doc_id" + lit(j * 1000003L))
      val keyed = docs(spark, sfDir)
        .withColumn("w", w)
        .withColumn("skey", greatest(
          draw(1),
          when($"w" >= 2, draw(2)).otherwise(lit(-1L)),
          when($"w" >= 3, draw(3)).otherwise(lit(-1L))))
      keyed.orderBy($"skey".desc, $"doc_id").limit(100)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), min($"w").as("w"))
        .orderBy($"source")
    },
    Some(s"""WITH wd AS (
            |  SELECT source, doc_id,
            |         CAST(regexp_extract(source, '[0-9]+') AS BIGINT)
            |           % 3 + 1 AS w
            |  FROM documents
            |), keyed AS (
            |  SELECT source, doc_id, w,
            |    greatest(
            |      ${knuthSpreadSql("(doc_id + 1000003)")},
            |      CASE WHEN w >= 2
            |        THEN ${knuthSpreadSql("(doc_id + 2000006)")}
            |        ELSE -1 END,
            |      CASE WHEN w >= 3
            |        THEN ${knuthSpreadSql("(doc_id + 3000009)")}
            |        ELSE -1 END) AS skey
            |  FROM wd
            |)
            |SELECT source, count(*) AS n_kept,
            |       CAST(min(w) AS BIGINT) AS w
            |FROM (SELECT * FROM keyed
            |      ORDER BY skey DESC, doc_id LIMIT 100) t
            |GROUP BY source ORDER BY source""".stripMargin))

  // ------------------------------------------- mixture resampling
  /** Corpus mixture resampling — the data-MIXING verb that sits above
    * the stratified sample and the per-source cap: given per-source
    * target WEIGHTS (here derived from the source index, w ∈ {1,2,3}),
    * each source's keep-rate is scaled so the kept corpus approaches
    * the target proportions, capped at 1.0 (a source cannot be
    * up-sampled by dropping — sources already under their target keep
    * everything). rate_i = min(1, (w_i/Σw)·N / n_i); the keep decision
    * is the sampling family's shared portable hash against that rate,
    * so the mixed corpus is reproducible bit-for-bit on any engine,
    * cluster, or retry — no rand(), nothing partition-dependent.
    *
    * Scale shape: rates come from one map-side-partial groupBy over
    * sources joined back as a BROADCAST (the source-count table is
    * tiny by definition — domains, not documents), so mixing 100 TB is
    * a scan + broadcast-probe pass; the only full-data aggregation is
    * the per-source count the mixture math needs anyway. Float
    * determinism: rates are built from exact integer counts with one
    * fixed operation order on both engines, and the hash/2³¹ compare
    * divides by a power of two (exact in IEEE), so the kept set can
    * never straddle an engine-rounding boundary. */
  val qSampleMixture = Q("q_sample_mixture",
    (spark, sfDir) => {
      import spark.implicits._
      val d = docs(spark, sfDir)
      val w = regexp_extract($"source", "[0-9]+", 0).cast("long") % 3 + 1
      val counts = d.groupBy($"source")
        .agg(count(lit(1)).as("n_src"))
        .withColumn("w", w)
      val totals = counts.agg(sum($"n_src").as("n_tot"),
        sum($"w").as("sum_w"))
      val rated = counts.crossJoin(broadcast(totals))
        .withColumn("rate",
          least(lit(1.0), $"w".cast("double") / $"sum_w" * $"n_tot"
            / $"n_src"))
      d.join(broadcast(rated), Seq("source"))
        .filter(knuthSpread($"doc_id").cast("double") / 2147483648.0 <
          $"rate")
        .groupBy($"source")
        // min, not first: both are constant per source, but min is
        // order-insensitive by construction (no determinism caveat)
        .agg(count(lit(1)).as("n_kept"), min($"n_src").as("n_src"),
          round(min($"rate"), 6).as("rate"))
        .orderBy($"source")
    },
    Some(s"""WITH counts AS (
            |  SELECT source, count(*) AS n_src,
            |         CAST(regexp_extract(source, '[0-9]+')
            |           AS BIGINT) % 3 + 1 AS w
            |  FROM documents GROUP BY source
            |), totals AS (
            |  SELECT sum(n_src) AS n_tot, sum(w) AS sum_w FROM counts
            |), rated AS (
            |  SELECT source, n_src,
            |         least(1.0, w * 1.0 / sum_w * n_tot / n_src)
            |           AS rate
            |  FROM counts CROSS JOIN totals
            |)
            |SELECT d.source, count(*) AS n_kept,
            |       CAST(min(r.n_src) AS BIGINT) AS n_src,
            |       round(min(r.rate), 6) AS rate
            |FROM documents d JOIN rated r ON d.source = r.source
            |WHERE ${knuthSpreadSql("d.doc_id")} * 1.0 / 2147483648 <
            |      r.rate
            |GROUP BY d.source ORDER BY d.source""".stripMargin))

  // --------------------------------------------- per-source doc cap
  /** Deterministic per-source cap — the third corpus-rebalancing verb
    * beside the grouped split and the stratified sample: keep at most
    * 5 documents per source (the "cap docs per domain" step every
    * web-scale corpus build runs so no single domain dominates
    * training). Selection order within a source is a portable
    * pseudo-random hash of doc_id (the stratified sample's Knuth
    * spread — partition/retry-independent, identical on every engine
    * and cluster), with doc_id as the total-order tiebreak, so the
    * kept set is reproducible bit-for-bit.
    *
    * Runs through the custom [[graft.plans.TopKPerKey]] operator — the
    * second consumer of the whole-operator machinery, and the shape
    * where it beats the Window form hardest at 100 TB: two-phase
    * bounded heaps keep at most `map-partitions · sources · 5` rows
    * crossing the exchange and never sort a partition, while the
    * row_number form must exchange + fully sort every document row.
    * The oracle IS that Window form, so the equivalence is
    * hash-checked per round. */
  val qSamplePerSource = Q("q_sample_per_source",
    (spark, sfDir) => {
      import spark.implicits._
      val scored = docs(spark, sfDir)
        .select($"source", $"doc_id", knuthSpread($"doc_id").as("h"))
      graft.plans.TopKPerKey.of(scored,
          partitionCols = Seq("source"), orderCol = "h", desc = false,
          tiebreak = "doc_id", k = 5)
        .select($"source", $"doc_id")
        .orderBy($"source", $"doc_id")
    },
    Some(s"""WITH h AS (
            |  SELECT source, doc_id,
            |    ${knuthSpreadSql("doc_id")} AS h
            |  FROM documents
            |), r AS (
           |  SELECT source, doc_id,
           |         row_number() OVER (PARTITION BY source
           |           ORDER BY h, doc_id) AS rn
           |  FROM h
           |)
           |SELECT source, doc_id FROM r WHERE rn <= 5
           |ORDER BY source, doc_id""".stripMargin))

  // ------------------------------------------------------------ TF-IDF
  /** TF-IDF term ranking: document frequency over the WHOLE corpus,
    * term frequency per probe document, idf = ln((N+1)/(df+1)), top-3
    * terms per probe by tf·idf. The df table is vocabulary-sized (a
    * groupBy with map-side partial counts — at 100 TB it is the ~1e7-row
    * term dictionary, a plain equi-join target, never broadcast by us;
    * AQE may at fixture scale). The probe set is bounded (doc_id < 50)
    * so the windowed ranking is small; the full-corpus pass is the df
    * aggregation only. Rounded before ranking + term tiebreaker so both
    * engines pick the same top-3 under float ties. */
  val qTextTfidf = Q("q_text_tfidf",
    (spark, sfDir) => {
      import spark.implicits._
      val tokens = docs(spark, sfDir)
        .select($"doc_id", explode(split(trim($"text"), " ")).as("term"))
        .filter($"term" =!= "")
      // corpus size as a ONE-row broadcast cross join (the ngram-
      // jaccard idiom), not a driver-side count() action
      val nDf = docs(spark, sfDir).agg(count(lit(1)).as("n_docs_total"))
      val df = tokens.groupBy($"term")
        .agg(countDistinct($"doc_id").as("df"))
      val tf = tokens.filter($"doc_id" < 50)
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val scored = tf.join(df, Seq("term"))
        .crossJoin(broadcast(nDf))
        .withColumn("tfidf",
          round($"tf" * log(($"n_docs_total" + 1.0) / ($"df" + 1.0)), 6))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tfidf".desc, $"term")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"term", $"tf", $"df", $"tfidf", $"rank")
        .orderBy($"doc_id", $"rank")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, w AS term
           |  FROM (SELECT doc_id,
           |          unnest(string_split(trim(text), ' ')) AS w
           |        FROM documents) u
           |  WHERE w <> ''
           |), df AS (
           |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
           |), n AS (SELECT count(*) AS n FROM documents),
           |tf AS (
           |  SELECT doc_id, term, count(*) AS tf FROM tok
           |  WHERE doc_id < 50 GROUP BY 1, 2
           |), scored AS (
           |  SELECT doc_id, tf.term, tf, df,
           |         round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
           |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
           |), ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY tfidf DESC, term) AS rank
           |  FROM scored
           |)
           |SELECT doc_id, term, tf, df, tfidf, rank FROM ranked
           |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))

  // --------------------------------------------------- BM25 scoring
  /** BM25 relevance scoring — the retrieval scorer above raw TF-IDF
    * (E37): per-term saturation (k1 = 1.2) and length normalization
    * (b = 0.75) so a term's 20th occurrence adds almost nothing and
    * long documents stop winning by volume — the ranking function
    * behind corpus mining / seed-document expansion. The three query
    * terms' tf values are row-local HOF counts (no explode, no
    * per-term shuffle); the corpus stats the formula needs (N, avgdl,
    * per-term df) reduce to ONE row broadcast-crossed back, so scoring
    * 100 TB is a scan + one tiny aggregate. The output order sorts on
    * the ROUNDED score (then doc_id) so rank-boundary ties cannot
    * straddle an engine ulp; ln/÷ arithmetic is written in the same
    * operation order on both engines. */
  val qTextBm25 = Q("q_text_bm25",
    (spark, sfDir) => {
      import spark.implicits._
      val terms = Seq("spark", "query", "vector")
      val base = docs(spark, sfDir)
        .select($"doc_id", split(trim($"text"), " ").as("ws"))
        .select(Seq($"doc_id", size($"ws").cast("double").as("dl")) ++
          terms.map(t => size(filter($"ws", w => w === t))
            .cast("double").as(s"tf_$t")): _*)
      val stats = base.agg(
        count(lit(1)).cast("double").as("n_docs"),
        avg($"dl").as("avgdl") +:
          terms.map(t => sum(when(col(s"tf_$t") > 0, 1).otherwise(0))
            .cast("double").as(s"df_$t")): _*)
      val score = terms.map { t =>
        val tf = col(s"tf_$t")
        val df = col(s"df_$t")
        log(lit(1.0) + ($"n_docs" - df + 0.5) / (df + 0.5)) *
          (tf * 2.2) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl"))
      }.reduce(_ + _)
      base.crossJoin(broadcast(stats))
        .select(Seq($"doc_id") ++
          terms.map(t => col(s"tf_$t").cast("long").as(s"tf_$t")) :+
          round(score, 6).as("bm25"): _*)
        .orderBy($"bm25".desc, $"doc_id")
        .limit(20)
    },
    Some("""WITH b AS (
           |  SELECT doc_id, string_split(trim(text), ' ') AS ws
           |  FROM documents
           |), t AS (
           |  SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
           |    CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE)
           |      AS tf_spark,
           |    CAST(len(list_filter(ws, x -> x = 'query')) AS DOUBLE)
           |      AS tf_query,
           |    CAST(len(list_filter(ws, x -> x = 'vector')) AS DOUBLE)
           |      AS tf_vector
           |  FROM b
           |), s AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |    avg(dl) AS avgdl,
           |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END)
           |      AS DOUBLE) AS df_spark,
           |    CAST(sum(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END)
           |      AS DOUBLE) AS df_query,
           |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END)
           |      AS DOUBLE) AS df_vector
           |  FROM t
           |)
           |SELECT doc_id,
           |  CAST(tf_spark AS BIGINT) AS tf_spark,
           |  CAST(tf_query AS BIGINT) AS tf_query,
           |  CAST(tf_vector AS BIGINT) AS tf_vector,
           |  round(
           |    ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5))
           |      * (tf_spark * 2.2)
           |      / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl))
           |    + ln(1.0 + (n_docs - df_query + 0.5) / (df_query + 0.5))
           |      * (tf_query * 2.2)
           |      / (tf_query + 1.2 * (0.25 + 0.75 * dl / avgdl))
           |    + ln(1.0 + (n_docs - df_vector + 0.5)
           |        / (df_vector + 0.5))
           |      * (tf_vector * 2.2)
           |      / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl)),
           |    6) AS bm25
           |FROM t CROSS JOIN s
           |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin))

  // --------------------------------------------------- doc chunking
  /** Sliding-window document chunking (context-window preprocessing:
    * 40-token windows, stride 30, 10-token overlap): each doc explodes
    * into `ceil(n_tokens/stride)` chunk descriptors via a generated
    * index sequence — pure narrow ops (no shuffle at all until a
    * downstream consumer aggregates), so chunking 100 TB is a single
    * embarrassingly-parallel scan pass. The last chunk is short by
    * design; boundary arithmetic is exact in FP on both engines
    * because `n/30.0` only lands on an integer when 30 divides n. */
  val qChunkDocs = Q("q_chunk_docs",
    (spark, sfDir) => {
      import spark.implicits._
      val stride = 30L
      val width = 40L
      docs(spark, sfDir)
        .select($"doc_id",
          size(split(trim($"text"), " ")).cast("long").as("n_tokens"))
        .select($"doc_id", $"n_tokens",
          explode(sequence(lit(0L),
            ceil($"n_tokens" / lit(stride.toDouble)).cast("long") - 1))
            .as("chunk_idx"))
        .select($"doc_id", $"chunk_idx",
          ($"chunk_idx" * stride).as("start_tok"),
          least(lit(width), $"n_tokens" - $"chunk_idx" * stride)
            .as("chunk_tokens"))
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some("""WITH d AS (
           |  SELECT doc_id,
           |         len(string_split(trim(text), ' ')) AS n_tokens
           |  FROM documents
           |), ix AS (
           |  SELECT doc_id, n_tokens,
           |         unnest(generate_series(0,
           |           CAST(ceil(n_tokens / 30.0) AS BIGINT) - 1)) AS i
           |  FROM d
           |)
           |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           |       CAST(i * 30 AS BIGINT) AS start_tok,
           |       CAST(least(40, n_tokens - i * 30) AS BIGINT)
           |         AS chunk_tokens
           |FROM ix ORDER BY doc_id, chunk_idx""".stripMargin))

  // ------------------------------------------- blocklist scrubbing
  /** Term-blocklist scrubbing — the redaction pass every corpus build
    * runs before training (PII patterns, toxic terms, site-specific
    * blocklists): count the hits and replace them, as one row-local
    * regex projection — zero shuffle before the output sort, so
    * scrubbing 100 TB is a pure scan pass exactly like chunking. The
    * fixture blocklist is `customer|key` (its vocabulary has no
    * digits, so a digit-PII pattern would be vacuous — the dataflow is
    * identical for any RE2-portable pattern); parity is asserted on
    * BOTH the hit count and a portable hash of the scrubbed text, so
    * an engine disagreeing on any replacement position fails. DuckDB's
    * regexp_replace needs the explicit 'g' flag to match Spark's
    * replace-all default — half the point of gating this query. */
  val qScrubBlocklist = Q("q_scrub_blocklist",
    (spark, sfDir) => {
      import spark.implicits._
      docs(spark, sfDir)
        .select($"doc_id",
          regexp_count($"text", lit("(customer|key)"))
            .as("n_redactions"),
          charFold(regexp_replace($"text", "(customer|key)", "#"))
            .as("scrubbed_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id,
            |  CAST(len(regexp_extract_all(text, '(customer|key)'))
            |    AS INT) AS n_redactions,
            |  ${charFoldSql(
                 "regexp_replace(text, '(customer|key)', '#', 'g')")}
            |    AS scrubbed_hash
            |FROM documents ORDER BY doc_id""".stripMargin))

  // patterns restricted to the RE2 ∩ Java common subset (no
  // lookaround, no backrefs) so both engines compile them identically
  private val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiIp = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  private val piiSsn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val piiPhone = "\\b555-\\d{4}\\b"

  // ------------------------------------------------- PII redaction
  /** Multi-class PII redaction — the structured sibling of the term
    * blocklist (E55): email addresses, IPv4 addresses, SSN-shaped ids
    * and phone-shaped numbers each replaced with a class token, the
    * standard pre-training privacy pass. The fixture vocabulary has no
    * digits or '@', so raw documents would make every pattern vacuous
    * (the E55 lesson) — instead each row APPENDS deterministic PII
    * built from its doc_id identically on both engines, so parity
    * proves every class actually fires exactly once per row AND lands
    * the replacement at the same positions (the portable-hash check on
    * the scrubbed text). Replacement order matters and is part of the
    * contract: email first (its local part contains digits a later
    * numeric class must not see), then IP, SSN, phone.
    *
    * Scale shape: four chained row-local regexes + counts — zero
    * shuffle before the output sort, a pure scan pass like chunking
    * and blocklist scrubbing; 100 TB redaction is embarrassingly
    * parallel. */
  val qScrubPii = Q("q_scrub_pii",
    (spark, sfDir) => {
      import spark.implicits._
      val pii = docs(spark, sfDir).select($"doc_id", concat(
        $"text",
        lit(" contact user"), $"doc_id".cast("string"),
        lit("@example.com ip "),
        ($"doc_id" % 256).cast("string"), lit("."),
        ($"doc_id" * 7 % 256).cast("string"), lit(".0.1 ssn "),
        lpad(($"doc_id" % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(($"doc_id" % 100).cast("string"), 2, "0"), lit("-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
        lit(" tel 555-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0")).as("t"))
      pii.select($"doc_id",
        regexp_count($"t", lit(piiEmail)).as("n_email"),
        regexp_count($"t", lit(piiIp)).as("n_ip"),
        regexp_count($"t", lit(piiSsn)).as("n_ssn"),
        regexp_count($"t", lit(piiPhone)).as("n_phone"),
        charFold(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace($"t", piiEmail, "[EMAIL]"),
                piiIp, "[IP]"),
              piiSsn, "[SSN]"),
            piiPhone, "[PHONE]")).as("scrubbed_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH pii AS (
            |  SELECT doc_id, text || ' contact user' ||
            |    CAST(doc_id AS VARCHAR) || '@example.com ip ' ||
            |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
            |    CAST(doc_id * 7 % 256 AS VARCHAR) || '.0.1 ssn ' ||
            |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
            |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
            |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
            |    ' tel 555-' ||
            |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
            |  FROM documents
            |)
            |SELECT doc_id,
            |  CAST(len(regexp_extract_all(t, '$piiEmail')) AS INT)
            |    AS n_email,
            |  CAST(len(regexp_extract_all(t, '$piiIp')) AS INT)
            |    AS n_ip,
            |  CAST(len(regexp_extract_all(t, '$piiSsn')) AS INT)
            |    AS n_ssn,
            |  CAST(len(regexp_extract_all(t, '$piiPhone')) AS INT)
            |    AS n_phone,
            |  ${charFoldSql(
                 s"regexp_replace(regexp_replace(regexp_replace(" +
                 s"regexp_replace(t, '$piiEmail', '[EMAIL]', 'g'), " +
                 s"'$piiIp', '[IP]', 'g'), " +
                 s"'$piiSsn', '[SSN]', 'g'), " +
                 s"'$piiPhone', '[PHONE]', 'g')")}
            |    AS scrubbed_hash
            |FROM pii ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- eval decontamination
  /** Benchmark/eval-set decontamination — the standard corpus step of
    * finding training documents that overlap an evaluation set before
    * they leak benchmark answers into the training data. The probe
    * ("benchmark") set here is docs 0–19; the corpus is everything
    * else. Overlap is n-gram CONTAINMENT: the fraction of a corpus
    * doc's distinct bigram shingles that also appear anywhere in the
    * probe set (the asymmetric measure decontamination wants — a long
    * doc quoting a whole benchmark item must score high even though
    * the symmetric Jaccard would be diluted). Output is the removal
    * manifest: every corpus doc at ≥ 0.8 containment, with its counts
    * (the fixture's tiny vocabulary puts baseline bigram sharing near
    * 0.65, so 0.8 is the discriminating threshold — ~15% of the corpus
    * flags at every sf, not 99%).
    *
    * Scale shape (100 TB): the probe side is DISTINCT eval shingles —
    * bounded by the benchmark suite size (≤ ~1e6 rows for every public
    * eval combined), the one side of this family that genuinely IS
    * broadcast-safe by construction, so the hint is explicit and the
    * corpus-side scan never shuffles: semi-join against the broadcast
    * probe, then a groupBy(doc_id) whose partial aggregation is
    * map-side. Reuses the memoized shingle table (same CTE as the
    * dedup family). OperatorSuite asserts clean docs stay untouched. */
  val qDecontaminate = Q("q_decontaminate",
    (spark, sfDir) => {
      import spark.implicits._
      val sh = shingles(spark, sfDir)
      val probe = sh.filter($"doc_id" < 20).select($"s").distinct()
      val corpus = sh.filter($"doc_id" >= 20)
      val sizes = corpus.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"))
      val overlap = corpus.join(broadcast(probe), Seq("s"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_overlap"))
      // inner join: a doc with zero probe overlap cannot clear the
      // threshold, so the unmatched side is dropped by construction
      sizes.join(overlap, Seq("doc_id"))
        .select($"doc_id", $"n_shingles", $"n_overlap",
          round($"n_overlap" / $"n_shingles".cast("double"), 6)
            .as("contamination"))
        .filter($"contamination" >= 0.8)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $shCte, probe AS (
            |  SELECT DISTINCT s FROM sh WHERE doc_id < 20
            |), corpus AS (
            |  SELECT doc_id, s FROM sh WHERE doc_id >= 20
            |), sizes AS (
            |  SELECT doc_id, count(*) AS n_shingles FROM corpus
            |  GROUP BY 1
            |), ov AS (
            |  SELECT doc_id, count(*) AS n_overlap FROM corpus
            |  WHERE s IN (SELECT s FROM probe) GROUP BY 1
            |)
            |SELECT doc_id, n_shingles, n_overlap,
            |       round(n_overlap * 1.0 / n_shingles, 6)
            |         AS contamination
            |FROM sizes JOIN ov USING (doc_id)
            |WHERE round(n_overlap * 1.0 / n_shingles, 6) >= 0.8
            |ORDER BY doc_id""".stripMargin))

  /** E134: **asymmetric containment scoring** — decontamination's
    * (E48) sharper sibling: E48 flags corpus docs whose OWN shingles
    * are mostly probe material; containment |A∩B|/|A| instead asks,
    * per EVAL doc A, how much of it appears inside some single corpus
    * doc B — the quote/inclusion detector (a 50-word eval question
    * pasted into a 10k-word crawl page scores ~1.0 here but near 0 on
    * Jaccard or E48's per-corpus-doc ratio). Execution is the
    * inverted-index discipline of the dedup family: distinct bigram
    * shingles, a max-df drop-list (df > 100) broadcast-anti-joined
    * off BOTH sides — the join's fan-out is then bounded by df·|probe|
    * instead of df² (the stop-shingle blowup), and the cap is applied
    * identically in the oracle so parity is exact by construction —
    * then ONE shuffle join on the shingle, a hash agg to (eval,
    * candidate) pairs, and a per-eval top-1 window with (n_match
    * DESC, c_doc) total order. Denominator contract: the CAPPED probe
    * shingle count (both engines, pinned). */
  val qContainScore = Q("q_contain_score",
    (spark, sfDir) => {
      import spark.implicits._
      val sh = shingles(spark, sfDir)
      val probe = sh.filter($"doc_id" < 20)
        .select($"doc_id".as("e_doc"), $"s")
      val corpus0 = sh.filter($"doc_id" >= 20)
        .select($"doc_id".as("c_doc"), $"s")
      val hot = corpus0.groupBy($"s").agg(count(lit(1)).as("df"))
        .filter($"df" > 100).select($"s")
      val probeC = probe.join(broadcast(hot), Seq("s"), "left_anti")
      val corpus = corpus0.join(broadcast(hot), Seq("s"), "left_anti")
      val nE = probeC.groupBy($"e_doc").agg(count(lit(1)).as("n_e"))
      val w = Window.partitionBy($"e_doc")
        .orderBy($"n_match".desc, $"c_doc")
      probeC.join(corpus, "s")
        .groupBy($"e_doc", $"c_doc")
        .agg(count(lit(1)).as("n_match"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .join(broadcast(nE), "e_doc")
        .select($"e_doc", $"c_doc", $"n_e", $"n_match",
          round($"n_match" / $"n_e".cast("double"), 6)
            .as("containment"))
        .orderBy($"e_doc")
    },
    Some(s"""WITH $shCte, probe AS (
            |  SELECT doc_id AS e_doc, s FROM sh WHERE doc_id < 20
            |), corpus0 AS (
            |  SELECT doc_id AS c_doc, s FROM sh WHERE doc_id >= 20
            |), hot AS (
            |  SELECT s FROM corpus0 GROUP BY s HAVING count(*) > 100
            |), probec AS (
            |  SELECT * FROM probe
            |  WHERE s NOT IN (SELECT s FROM hot)
            |), corpus AS (
            |  SELECT * FROM corpus0
            |  WHERE s NOT IN (SELECT s FROM hot)
            |), ne AS (
            |  SELECT e_doc, count(*) AS n_e FROM probec GROUP BY 1
            |), m AS (
            |  SELECT e_doc, c_doc, count(*) AS n_match
            |  FROM probec JOIN corpus USING (s) GROUP BY 1, 2
            |), ranked AS (
            |  SELECT e_doc, c_doc, n_match,
            |    row_number() OVER (PARTITION BY e_doc
            |      ORDER BY n_match DESC, c_doc) AS rk
            |  FROM m
            |)
            |SELECT e_doc, c_doc, n_e, n_match,
            |       round(n_match * 1.0 / n_e, 6) AS containment
            |FROM ranked JOIN ne USING (e_doc)
            |WHERE rk = 1 ORDER BY e_doc""".stripMargin))

  /** E144: **k-means assignment step (one Lloyd iteration)** — the
    * clustering primitive under IVF cell construction (the E-family
    * ANN rows consume exactly this): assign every embedding to its
    * nearest of k=8 fixed centroids (the embeddings with vec_id 0..7
    * — deterministic seeding, the k-means‖ oversampling being the
    * production variant) and report per-cluster size and inertia.
    * Distance parity rides the established vec_dot machinery:
    * d² = ‖e‖² + ‖c‖² − 2·e·c from double-accumulated dots (the same
    * list_sum/CAST-DOUBLE oracle form the cosine family pins), the
    * argmin decided on round(d², 6) with a centroid-id tiebreak so a
    * sub-rounding float disagreement cannot flip an assignment, and
    * inertia summed as round-then-DECIMAL (order-independent). Shape:
    * the centroid frame (k rows) broadcasts across the embedding scan
    * — a k-fan-out cross (allowlisted BNLJ, the cosine-family
    * pattern), one row_number window per point, one hash agg. At
    * 100 TB: identical plan, centroids always broadcast; the FULL
    * Lloyd loop is this query iterated with localCheckpoint (the E5/
    * E117 discipline). */
  val qKmeansStep = Q("q_kmeans_step",
    (spark, sfDir) => {
      import spark.implicits._
      val e = emb(spark, sfDir)
        .withColumn("n2", Vectors.normSq($"embedding"))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("cv"),
          $"n2".as("cn2"))
      val d2 = round($"n2" + $"cn2" -
        lit(2.0) * Vectors.dot($"embedding", $"cv"), 6)
      val w = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      e.crossJoin(broadcast(c))
        .withColumn("d2", d2)
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .groupBy($"cid")
        .agg(count(lit(1)).as("n_assigned"),
          sum($"d2".cast("decimal(18,6)")).cast("double")
            .as("inertia"))
        .orderBy($"cid")
    },
    Some("""WITH e AS (
           |  SELECT vec_id, embedding,
           |    list_sum(list_transform(list_zip(embedding, embedding),
           |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |      AS n2
           |  FROM embeddings
           |), c AS (
           |  SELECT vec_id AS cid, embedding AS cv, n2 AS cn2
           |  FROM e WHERE vec_id < 8
           |), scored AS (
           |  SELECT e.vec_id, c.cid,
           |    round(e.n2 + c.cn2 - 2.0 *
           |      list_sum(list_transform(list_zip(e.embedding, c.cv),
           |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
           |      6) AS d2
           |  FROM e CROSS JOIN c
           |), assigned AS (
           |  SELECT vec_id, cid, d2,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY d2, cid) AS rk
           |  FROM scored
           |)
           |SELECT cid, count(*) AS n_assigned,
           |       CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE)
           |         AS inertia
           |FROM assigned WHERE rk = 1
           |GROUP BY cid ORDER BY cid""".stripMargin))

  /** E168: **head+tail truncation** — the context-budget policy
    * between chunking (E45: keep everything, split) and plain
    * truncate (drop the tail): over-budget documents keep the first
    * HEAD and last TAIL tokens with an ellipsis marker — the policy
    * long-document benchmarks standardized on, because endings carry
    * conclusions. Pure row-local array ops (slice, concat, join) in
    * whole-stage codegen — zero shuffles; the output carries the
    * truncated TEXT itself, so the hash gate proves byte-identical
    * policy application, not just matching counts. Budget 60 =
    * head 40 + tail 20, pinned; token counts exclude the marker. */
  val qTruncateDocs = Q("q_truncate_docs",
    (spark, sfDir) => {
      import spark.implicits._
      val (head, tail) = (40, 20)
      docs(spark, sfDir)
        .select($"doc_id", split(trim($"text"), " ").as("ws"))
        .select($"doc_id", size($"ws").as("n_in"),
          when(size($"ws") <= head + tail,
            array_join($"ws", " "))
            .otherwise(concat_ws(" ",
              array_join(slice($"ws", 1, head), " "),
              lit("..."),
              array_join(slice($"ws", -tail, tail), " ")))
            .as("text_out"),
          least(size($"ws"), lit(head + tail)).as("n_out"),
          (size($"ws") > head + tail).as("truncated"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(trim(text), ' ') AS ws
           |  FROM documents
           |)
           |SELECT doc_id,
           |  CAST(len(ws) AS INTEGER) AS n_in,
           |  CASE WHEN len(ws) <= 60 THEN array_to_string(ws, ' ')
           |       ELSE array_to_string(ws[1:40], ' ') || ' ... ' ||
           |            array_to_string(ws[-20:], ' ') END AS text_out,
           |  CAST(least(len(ws), 60) AS INTEGER) AS n_out,
           |  len(ws) > 60 AS truncated
           |FROM toks ORDER BY doc_id""".stripMargin))

  /** E170: **embedding dimension statistics** — the embedding-space
    * health monitor: per-dimension mean/std/min/max across the
    * corpus, the screen that catches collapsed dimensions (std≈0),
    * un-normalized batches (drifting means) and dead ReLU-style axes
    * before they poison ANN recall. One posexplode (64-way bounded
    * fan-out) then ONE hash agg to 64 rows — floats cast to exact
    * doubles first (float→decimal conversion is engine-formatted;
    * float→double is exact by construction), std assembled from raw
    * sums with one sqrt, everything 6dp at the edge. At 100 TB the
    * same two-op plan stands: the fan-out is the dimension count,
    * not the corpus. */
  val qEmbedDimStats = Q("q_embed_dim_stats",
    (spark, sfDir) => {
      import spark.implicits._
      emb(spark, sfDir)
        .select(posexplode($"embedding").as(Seq("dim", "xf")))
        .select($"dim", $"xf".cast("double").as("x"))
        .groupBy($"dim")
        .agg(count(lit(1)).as("n"),
          round(sum($"x") / count(lit(1)), 6).as("mean"),
          round(sqrt((count(lit(1)) * sum($"x" * $"x") -
            sum($"x") * sum($"x")) /
            (count(lit(1)) * (count(lit(1)) - 1))), 6).as("std"),
          round(min($"x"), 6).as("min_x"),
          round(max($"x"), 6).as("max_x"))
        .orderBy($"dim")
    },
    Some("""WITH flat AS (
           |  SELECT unnest(range(0, len(embedding))) AS dim,
           |         CAST(unnest(embedding) AS DOUBLE) AS x
           |  FROM embeddings
           |)
           |SELECT CAST(dim AS INTEGER) AS dim, count(*) AS n,
           |  round(sum(x) / count(*), 6) AS mean,
           |  round(sqrt((count(*) * sum(x * x) - sum(x) * sum(x)) /
           |    (count(*) * (count(*) - 1))), 6) AS std,
           |  round(min(x), 6) AS min_x,
           |  round(max(x), 6) AS max_x
           |FROM flat GROUP BY dim ORDER BY dim""".stripMargin))

  /** E171: **class-balance report (inverse-frequency weights)** — the
    * one-pass preamble of every classifier training run: per-label
    * counts, shares, the imbalance ratio vs the majority class, and
    * the sklearn-convention balanced weight N/(k·n_c) — computed from
    * exact integer counts with the two divisions at the edge. The
    * 1-row (N, k) totals frame broadcasts back over the ≤k-row label
    * frame; nothing here ever rescans the corpus. */
  val qClassWeights = Q("q_class_weights",
    (spark, sfDir) => {
      import spark.implicits._
      val counts = emb(spark, sfDir)
        .groupBy($"label").agg(count(lit(1)).as("n_c"))
      val tot = counts.agg(sum($"n_c").as("n"),
        count(lit(1)).as("k"), max($"n_c").as("n_max"))
      counts.crossJoin(broadcast(tot))
        .select($"label", $"n_c".cast("long").as("n_c"),
          round($"n_c".cast("double") / $"n", 6).as("share"),
          round($"n_max".cast("double") / $"n_c", 6)
            .as("imbalance_vs_max"),
          round($"n".cast("double") / ($"k" * $"n_c"), 6)
            .as("balanced_weight"))
        .orderBy($"label")
    },
    Some("""WITH counts AS (
           |  SELECT label, count(*) AS n_c FROM embeddings
           |  GROUP BY label
           |), tot AS (
           |  SELECT CAST(sum(n_c) AS BIGINT) AS n, count(*) AS k,
           |         max(n_c) AS n_max
           |  FROM counts
           |)
           |SELECT label, CAST(n_c AS BIGINT) AS n_c,
           |  round(CAST(n_c AS DOUBLE) / n, 6) AS share,
           |  round(CAST(n_max AS DOUBLE) / n_c, 6) AS imbalance_vs_max,
           |  round(CAST(n AS DOUBLE) / (k * n_c), 6)
           |    AS balanced_weight
           |FROM counts, tot ORDER BY label""".stripMargin))

  /** E172: **normalization dedup** — exact dedup (X1) after text
    * CANONICALIZATION (lowercase, strip non-alphanumerics, collapse
    * whitespace): the stage that catches trivially-perturbed
    * duplicates raw hashing misses (double spaces, case flips,
    * punctuation drift — the most common near-dup class in crawled
    * corpora, far cheaper than MinHash when the perturbation is
    * mechanical). Because the fixture is already clean, the query
    * PLANTS a perturbed variant of every doc (doubled spaces +
    * uppercased text, ids offset by 10⁶) via a deterministic union
    * both engines construct identically — so the expected answer is
    * sharp: every variant MUST merge with its original (groups = docs,
    * merged pairs = docs), and a normalization that misses a rule
    * breaks the hash. One normalize pass + one hash-groupBy; the
    * group key is sha2 over the canonical form, exactly X1's shuffle
    * discipline. */
  val qDedupNormalized = Q("q_dedup_normalized",
    (spark, sfDir) => {
      import spark.implicits._
      val base = docs(spark, sfDir).select($"doc_id", $"text")
      val variants = base.select(($"doc_id" + 1000000L).as("doc_id"),
        upper(regexp_replace($"text", " ", "  ")).as("text"))
      val norm = lower(trim(regexp_replace(
        regexp_replace($"text", "[^A-Za-z0-9 ]", ""), " +", " ")))
      base.unionByName(variants)
        .withColumn("canon_hash", sha2(norm, 256))
        .groupBy($"canon_hash")
        .agg(count(lit(1)).as("n_in_group"),
          min($"doc_id").as("keeper_id"))
        .groupBy()
        .agg(count(lit(1)).as("n_groups"),
          sum($"n_in_group").cast("long").as("n_docs_in"),
          count(when($"n_in_group" >= 2, 1)).as("n_merged_groups"),
          sum(when($"n_in_group" >= 2, $"n_in_group" - 1))
            .cast("long").as("n_dropped"))
    },
    Some("""WITH unioned AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000,
           |         upper(replace(text, ' ', '  '))
           |  FROM documents
           |), canon AS (
           |  SELECT sha256(lower(trim(regexp_replace(
           |    regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'),
           |    ' +', ' ', 'g')))) AS canon_hash
           |  FROM unioned
           |), groups AS (
           |  SELECT canon_hash, count(*) AS n_in_group
           |  FROM canon GROUP BY canon_hash
           |)
           |SELECT count(*) AS n_groups,
           |  CAST(sum(n_in_group) AS BIGINT) AS n_docs_in,
           |  count(CASE WHEN n_in_group >= 2 THEN 1 END)
           |    AS n_merged_groups,
           |  CAST(sum(CASE WHEN n_in_group >= 2 THEN n_in_group - 1
           |    END) AS BIGINT) AS n_dropped
           |FROM groups""".stripMargin))

  /** E177: **degree distribution of the near-dup graph** — the third
    * graph-analytics member (E5 components, E117 centrality; this is
    * the STRUCTURE summary): how many docs have 1, 2, 4… near-dup
    * neighbors, the histogram that distinguishes template boilerplate
    * (a few huge hubs) from organic duplication (a long thin tail) —
    * and the first thing to inspect before running any iterative
    * algorithm, because max degree bounds the skew every per-node
    * join will see. Shape: symmetrize the memoized pair table, one
    * hash agg to degrees, one ≤max-degree-row histogram rollup with
    * the E140 integer log2 bucketing. Zero new fact scans — the pair
    * table is the dedup family's shared artifact. */
  val qDegreeDistribution = Q("q_degree_distribution",
    (spark, sfDir) => {
      import spark.implicits._
      val p = ngramPairs(spark, sfDir).select($"d1", $"d2")
      p.select($"d1".as("id")).unionAll(p.select($"d2".as("id")))
        .groupBy($"id").agg(count(lit(1)).as("deg"))
        .groupBy(length(bin($"deg")).as("deg_bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min($"deg").as("min_deg"), max($"deg").as("max_deg"))
        .orderBy($"deg_bucket")
    },
    Some(s"""WITH $pairsCte, sym AS (
            |  SELECT d1 AS id FROM pairs
            |  UNION ALL
            |  SELECT d2 FROM pairs
            |), degs AS (
            |  SELECT id, count(*) AS deg FROM sym GROUP BY id
            |)
            |SELECT CAST(length(bin(deg)) AS INTEGER) AS deg_bucket,
            |       count(*) AS n_nodes,
            |       min(deg) AS min_deg, max(deg) AS max_deg
            |FROM degs GROUP BY deg_bucket
            |ORDER BY deg_bucket""".stripMargin))

  /** E179: **composite quality policy** — what production filters
    * actually ship: not one signal but a WEIGHTED COMBINATION with a
    * keep threshold (here: token count, mean word length, type-token
    * ratio — three orthogonal signals, fixed weights 0.4/0.3/0.3,
    * each min-max normalized over the corpus so the weights are
    * comparable). Normalization bounds come from one 1-row corpus
    * aggregate broadcast back (the E135 shape); every signal is
    * computed row-locally from the token array; the keep decision is
    * made on the ROUNDED score (the E147 1-ulp discipline). Output
    * reports the policy's aggregate effect (kept/dropped counts,
    * score quartiles) — the numbers a curation review actually
    * reads. */
  val qQualityPolicy = Q("q_quality_policy",
    (spark, sfDir) => {
      import spark.implicits._
      val sig = docs(spark, sfDir)
        .select($"doc_id", split(trim($"text"), " ").as("ws"))
        .select($"doc_id",
          size($"ws").cast("double").as("n_tok"),
          (length(array_join($"ws", "")).cast("double") /
            size($"ws")).as("mean_wlen"),
          (size(array_distinct($"ws")).cast("double") / size($"ws"))
            .as("ttr"))
      val bounds = sig.agg(
        min($"n_tok").as("lo1"), max($"n_tok").as("hi1"),
        min($"mean_wlen").as("lo2"), max($"mean_wlen").as("hi2"),
        min($"ttr").as("lo3"), max($"ttr").as("hi3"))
      val score = round(
        lit(0.4) * ($"n_tok" - $"lo1") / ($"hi1" - $"lo1") +
          lit(0.3) * ($"mean_wlen" - $"lo2") / ($"hi2" - $"lo2") +
          lit(0.3) * ($"ttr" - $"lo3") / ($"hi3" - $"lo3"), 6)
      sig.crossJoin(broadcast(bounds))
        .withColumn("score", score)
        .withColumn("keep", $"score" >= 0.35)
        .agg(count(lit(1)).as("n_docs"),
          count(when($"keep", 1)).as("n_kept"),
          round(expr("percentile(score, 0.25D)"), 6).as("score_p25"),
          round(expr("percentile(score, 0.5D)"), 6).as("score_p50"),
          round(expr("percentile(score, 0.75D)"), 6).as("score_p75"))
    },
    Some("""WITH sig AS (
           |  SELECT doc_id,
           |    CAST(len(ws) AS DOUBLE) AS n_tok,
           |    CAST(length(array_to_string(ws, '')) AS DOUBLE) /
           |      len(ws) AS mean_wlen,
           |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr
           |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws
           |        FROM documents) t
           |), bounds AS (
           |  SELECT min(n_tok) AS lo1, max(n_tok) AS hi1,
           |         min(mean_wlen) AS lo2, max(mean_wlen) AS hi2,
           |         min(ttr) AS lo3, max(ttr) AS hi3
           |  FROM sig
           |), scored AS (
           |  SELECT round(
           |    CAST('0.4' AS DOUBLE) * (n_tok - lo1) / (hi1 - lo1) +
           |    CAST('0.3' AS DOUBLE) * (mean_wlen - lo2) / (hi2 - lo2) +
           |    CAST('0.3' AS DOUBLE) * (ttr - lo3) / (hi3 - lo3), 6)
           |    AS score
           |  FROM sig, bounds
           |)
           |SELECT count(*) AS n_docs,
           |  count(CASE WHEN score >= CAST('0.35' AS DOUBLE)
           |        THEN 1 END) AS n_kept,
           |  round(quantile_cont(score, 0.25), 6) AS score_p25,
           |  round(quantile_cont(score, 0.5), 6) AS score_p50,
           |  round(quantile_cont(score, 0.75), 6) AS score_p75
           |FROM scored""".stripMargin))

  /** E180: **deterministic bootstrap confidence interval** — interval
    * estimation WITHOUT distributional assumptions, made
    * cluster-reproducible: the classic bootstrap draws random
    * resamples; this one derives each document's weight in resample
    * b from the portable char_fold hash of (doc_id, b) — integer
    * weights h mod 4 ∈ {0..3} (a generalized/weighted bootstrap,
    * mean weight 1.5, renormalized per resample), so every engine,
    * cluster and retry produces THE SAME B=50 resamples — the same
    * rand()-ban discipline as the sampling family (E36/E49/E113).
    * Shape: a bounded ×B explode (the E129 rule), one hash agg per
    * (resample) to weighted means in exact DECIMAL×integer
    * arithmetic, then the CI is the exact percentile of the 50-row
    * resample-mean frame. */
  val qBootstrapCi = Q("q_bootstrap_ci",
    (spark, sfDir) => {
      import spark.implicits._
      val B = 50
      val weighted = docs(spark, sfDir)
        .select($"doc_id", $"n_chars".cast("decimal(18,6)").as("x"))
        .select($"doc_id", $"x",
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("w", pmod(graft.functions.PortableHash.charFold(
          concat($"doc_id".cast("string"), lit("#"),
            $"b".cast("string"))), lit(4)))
      val means = weighted.groupBy($"b")
        .agg((sum($"x" * $"w").cast("double") /
          sum($"w")).as("boot_mean"))
      means.agg(count(lit(1)).as("n_resamples"),
        round(expr("percentile(boot_mean, 0.025D)"), 4).as("ci_lo"),
        round(expr("percentile(boot_mean, 0.5D)"), 4).as("ci_mid"),
        round(expr("percentile(boot_mean, 0.975D)"), 4).as("ci_hi"))
    },
    Some(s"""WITH expanded AS (
            |  SELECT doc_id, CAST(n_chars AS DECIMAL(18,6)) AS x,
            |         unnest(range(0, 50)) AS b
            |  FROM documents
            |), weighted AS (
            |  SELECT x, b,
            |    ${graft.functions.PortableHash.charFoldSql(
              "CAST(doc_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)")}
            |      % 4 AS w
            |  FROM expanded
            |), means AS (
            |  SELECT b, CAST(sum(x * w) AS DOUBLE) / sum(w)
            |    AS boot_mean
            |  FROM weighted GROUP BY b
            |)
            |SELECT count(*) AS n_resamples,
            |  round(quantile_cont(boot_mean, 0.025), 4) AS ci_lo,
            |  round(quantile_cont(boot_mean, 0.5), 4) AS ci_mid,
            |  round(quantile_cont(boot_mean, 0.975), 4) AS ci_hi
            |FROM means""".stripMargin))

  /** E181: **systematic sampling** — the fourth sampling verb beside
    * rates (E36), caps (E49) and weights (E113): every k-th row under
    * a TOTAL order, the stratified-by-position scheme auditors and
    * QA reviews use because its coverage is provably even across the
    * sort dimension. k=20 with a fixed offset; the order is
    * (doc_id) — deterministic by primary key, so the sample is
    * identical on any engine/cluster/retry.
    *
    * The global rank is DISTRIBUTED (round 16 — the partition-less
    * window lock caught the original `row_number() OVER (ORDER BY
    * doc_id)` moving the whole fact table to one task): rows bucket
    * into ≤4097 doc_id ranges, per-bucket counts get cumulative
    * OFFSETS (the only partition-less window left — over the
    * 4k-row bucket table, bounded at any corpus size), offsets
    * broadcast back, and rank = offset + row_number within the
    * bucket (a PARTITIONED window). Identical rank values, so the
    * oracle — which still writes the naive global window — pins
    * sample membership bit-for-bit; the output aggregates the
    * sample so the hash pins membership, not just size. */
  /** The distributed global rank behind q_sample_systematic, exposed
    * so the suite can pin BOTH its value (rn == the naive global
    * row_number) and its scale shape (≤4097 distinct buckets — the
    * r16 double-division regression produced a unique bucket per row,
    * a fact-sized offset table, while rank VALUES stayed correct, so
    * a value gate alone cannot catch it). */
  private[graft] def systematicRanked(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val d = docs(spark, sfDir)
    val bounds = broadcast(d.agg(min($"doc_id").as("lo"),
      max($"doc_id").as("hi")))
    // integer width so bkt ∈ [0, 4096]: `div`, never `/` (double)
    val bucketed = d.crossJoin(bounds)
      .withColumn("w",
        expr("greatest(1L, ((hi - lo) div 4096) + 1)"))
      .withColumn("bkt", expr("(doc_id - lo) div w"))
    val offsets = bucketed.groupBy($"bkt")
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum($"n").over(
        Window.orderBy($"bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"bkt", $"off")
    bucketed.join(broadcast(offsets), Seq("bkt"))
      .withColumn("rn", $"off" + row_number().over(
        Window.partitionBy($"bkt").orderBy($"doc_id")))
  }

  val qSampleSystematic = Q("q_sample_systematic",
    (spark, sfDir) => {
      import spark.implicits._
      systematicRanked(spark, sfDir)
        .filter(pmod($"rn", lit(20)) === 7)
        .agg(count(lit(1)).as("n_sampled"),
          sum($"doc_id").cast("long").as("id_sum"),
          round(sum($"n_chars".cast("decimal(18,6)")), 6)
            .cast("double").as("chars_sum"))
    },
    Some("""WITH ranked AS (
           |  SELECT doc_id, n_chars,
           |    row_number() OVER (ORDER BY doc_id) AS rn
           |  FROM documents
           |)
           |SELECT count(*) AS n_sampled,
           |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
           |       CAST(round(sum(CAST(n_chars AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS chars_sum
           |FROM ranked WHERE rn % 20 = 7""".stripMargin))

  /** E190: **per-source duplication telemetry** — the curation QA
    * report over exact dedup (X1): which SOURCES are dirty — per
    * source, document count, distinct content count, the dup rate,
    * and how many of the source's contents also appear in OTHER
    * sources (cross-source duplication — syndication/mirror
    * detection, a different failure mode than internal repetition).
    * One hash pass to (content, source) grain; the cross-source flag
    * is a count-distinct over the content's source set — everything
    * after the first agg is content-cardinality-sized. */
  val qDedupRateBySource = Q("q_dedup_rate_by_source",
    (spark, sfDir) => {
      import spark.implicits._
      val contents = docs(spark, sfDir)
        .select($"source", sha2($"text", 256).as("h"))
        .groupBy($"source", $"h").agg(count(lit(1)).as("n"))
        .withColumn("n_sources",
          count(lit(1)).over(Window.partitionBy($"h")))
      contents.groupBy($"source")
        .agg(sum($"n").cast("long").as("n_docs"),
          count(lit(1)).as("n_unique"),
          round(lit(1.0) - count(lit(1)).cast("double") /
            sum($"n"), 6).as("dup_rate"),
          count(when($"n_sources" > 1, 1)).as("n_cross_source"))
        .orderBy($"source")
    },
    Some("""WITH contents AS (
           |  SELECT source, sha256(text) AS h, count(*) AS n
           |  FROM documents GROUP BY source, sha256(text)
           |), flagged AS (
           |  SELECT source, n,
           |    count(*) OVER (PARTITION BY h) AS n_sources
           |  FROM contents
           |)
           |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
           |  count(*) AS n_unique,
           |  round(CAST(1 AS DOUBLE) - CAST(count(*) AS DOUBLE) /
           |    sum(n), 6) AS dup_rate,
           |  count(CASE WHEN n_sources > 1 THEN 1 END)
           |    AS n_cross_source
           |FROM flagged GROUP BY source ORDER BY source"""
      .stripMargin))

  /** E191: **corpus length profile** — the token-count distribution
    * every training-data readme leads with: per log2 length bucket
    * (the E140 integer-exact trick — never libm log on the bucket
    * boundary), document counts and token mass, plus each bucket's
    * share of the corpus token budget — the numbers that decide
    * chunking (E45) and packing (E42) parameters. One tokenize pass,
    * one hash agg to ≤32 buckets. */
  val qLengthProfile = Q("q_length_profile",
    (spark, sfDir) => {
      import spark.implicits._
      val tot = Window.partitionBy()
      docs(spark, sfDir)
        .select(size(split(trim($"text"), " ")).cast("long")
          .as("n_tok"))
        .withColumn("bucket", length(bin($"n_tok")))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").cast("long").as("n_tokens"),
          min($"n_tok").as("min_tok"), max($"n_tok").as("max_tok"))
        .withColumn("token_share", round($"n_tokens".cast("double") /
          sum($"n_tokens").over(tot), 6))
        .orderBy($"bucket")
    },
    Some("""WITH lens AS (
           |  SELECT CAST(len(string_split(trim(text), ' ')) AS BIGINT)
           |    AS n_tok
           |  FROM documents
           |), bucketed AS (
           |  SELECT CAST(length(bin(n_tok)) AS INTEGER) AS bucket,
           |         n_tok
           |  FROM lens
           |), agg AS (
           |  SELECT bucket, count(*) AS n_docs,
           |         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           |         min(n_tok) AS min_tok, max(n_tok) AS max_tok
           |  FROM bucketed GROUP BY bucket
           |)
           |SELECT bucket, n_docs, n_tokens, min_tok, max_tok,
           |  round(CAST(n_tokens AS DOUBLE) /
           |    sum(n_tokens) OVER (), 6) AS token_share
           |FROM agg ORDER BY bucket""".stripMargin))

  // ------------------------------------------------ sequence packing
  /** Greedy sequence packing: documents fill fixed token-budget bins —
    * the training-batch construction step that turns a corpus into
    * dense context windows.
    *
    * Determinism contract: the result is a pure function of
    * (corpus, budget, range count) — NEVER of task scheduling,
    * physical partition placement, or sampling. Docs are assigned a
    * range id by EXPLICIT arithmetic on doc_id (equal-width slices of
    * the observed [min, max] id span), not `repartitionByRange`, whose
    * boundaries come from reservoir sampling with an RDD-id-dependent
    * seed and can shift between runs once a partition exceeds the
    * sample size (ADVICE r6 item 1). Within a range the docs are
    * processed in doc_id order and ONE sequential pass fills bins
    * greedily; `mapPartitions` is the honest tool here (the running
    * bin fill is inherently sequential state), the documented
    * last-resort case. The per-range bin counter resets when the
    * range id changes, and bin ids encode (range << 32 | local bin) —
    * so results are identical even if the hash partitioner co-locates
    * several ranges in one task.
    *
    * The range count is a PARAMETER (the determinism contract pins it
    * per corpus build): callers size it to the cluster; unspecified it
    * derives from the corpus size (~50k docs per range, min 8) instead
    * of a hard-coded literal — a 100 TB corpus must not pack through 8
    * tasks (VERDICT r6 item 2). The engine query keeps the fixture
    * default 8 so recorded results stay comparable across rounds.
    *
    * Running-capacity state is not SQL-expressible, so the public
    * query is the driver-gated bounded form (the E44/E51/E61 pattern,
    * VERDICT r10 item 1): one row of exact corpus totals the oracle
    * recomputes (n_docs, sum_tokens — any dropped/duplicated doc or
    * token breaks the hash) plus engine-checked invariant booleans the
    * oracle expects TRUE (per-bin budget, conservation, fill bound,
    * layout invariance); OperatorSuite still asserts the sharper
    * doc-level greedy invariant on [[packSequencesDocs]] directly. At
    * 100 TB: packing is embarrassingly parallel per range, one pass,
    * O(1) state; the id-range shuffle is the only exchange, plus one
    * tiny (min,max,count) pre-agg to size ranges. */
  /** Doc-level packing assignment (doc_id, n_tokens, bin_id) —
    * [[packSequences]] aggregates this to bins; OperatorSuite reads it
    * directly to assert the TRUE greedy invariant (a bin closes only
    * because the next doc would overflow it — checkable only with the
    * first doc of the following bin in hand, ADVICE r7 item 3). */
  private[graft] def packSequencesDocs(spark: SparkSession, sfDir: String,
      budget: Long = 256L, ranges: Option[Int] = None,
      parts: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val toks = docs(spark, sfDir)
      .select($"doc_id",
        size(split(trim($"text"), " ")).cast("long").as("n_tokens"))
    // one scalar pre-pass sizes the ranges — the same one-row agg the
    // cluster query's convergence loop reads; never a full collect
    val stat = toks.agg(min($"doc_id"), max($"doc_id"), count(lit(1)))
      .first()
    if (stat.isNullAt(0)) {
      // empty corpus: keep the output schema, zero rows
      return toks.select($"doc_id", $"n_tokens", lit(0L).as("bin_id"))
    }
    val (lo, hi, nDocs) = (stat.getLong(0), stat.getLong(1), stat.getLong(2))
    val nRanges = ranges.getOrElse(
      math.max(8L, nDocs / 50000L).min(1 << 20).toInt)
    // range id via MONOTONE double binning: long→double conversion,
    // constant subtraction, division and floor are all monotone
    // non-decreasing, so ranges stay contiguous in doc_id order, and
    // double arithmetic cannot overflow for ANY id pair — a raw
    // `(doc_id - lo) div width` wraps for 64-bit-spread (e.g. hashed
    // or negative) ids, which would both destroy the equal-width
    // slicing AND leak sign bits into the `(rid << 32) | bin` encoding.
    // FP rounding may shift a boundary doc by one range — still the
    // SAME range on every run/cluster (identical FP ops per row), so
    // the determinism contract is unaffected; the greatest/least clamp
    // pins rid into [0, nRanges).
    val widthD = math.max(1.0,
      (BigDecimal(hi) - BigDecimal(lo)).toDouble / nRanges)
    val ranged = toks.withColumn("rid",
      least(lit(nRanges - 1L), greatest(lit(0L),
        floor(($"doc_id".cast("double") - lit(lo.toDouble)) / widthD)
          .cast("long"))))
    // `parts` decouples TASK layout from RANGE layout: the bin state
    // machine below resets whenever rid changes, so packing through 3
    // tasks or 1024 must emit the identical assignment — the gate query
    // proves exactly that by hashing two different-layout runs.
    val packed = ranged
      .repartition(parts.getOrElse(nRanges), $"rid")
      .sortWithinPartitions($"rid", $"doc_id")
      .select($"rid", $"doc_id", $"n_tokens")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var rid = -1L
        var bin = 0L
        var used = 0L
        it.map { case (r, id, n) =>
          if (r != rid) { rid = r; bin = 0L; used = 0L }
          if (used > 0L && used + n > budget) { bin += 1L; used = 0L }
          used += n
          // (range << 32 | local) — collision-free for any realistic
          // per-range bin count (< 2^32)
          (id, n, (rid << 32) | bin)
        }
      }
    packed.toDF("doc_id", "n_tokens", "bin_id")
  }

  private[graft] def packSequences(spark: SparkSession, sfDir: String,
      budget: Long = 256L, ranges: Option[Int] = None): DataFrame = {
    import spark.implicits._
    packSequencesDocs(spark, sfDir, budget, ranges)
      .groupBy($"bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"))
      .orderBy($"bin_id")
  }

  val qPackSequences = Q("q_pack_sequences",
    (spark, sfDir) => {
      import spark.implicits._
      val budget = 256L
      val nRanges = 8
      val assign = packSequencesDocs(spark, sfDir, budget,
        ranges = Some(nRanges))
      // per-bin rollup → one row of totals + the budget invariant: a
      // bin may exceed the budget only as a singleton oversize doc
      val binStats = assign
        .groupBy($"bin_id")
        .agg(count(lit(1)).as("b_docs"), sum($"n_tokens").as("b_tok"))
        .agg(count(lit(1)).as("n_bins"),
          sum($"b_docs").as("n_docs"),
          sum($"b_tok").as("sum_tokens"),
          min($"b_tok" <= budget || $"b_docs" === 1L).as("budget_ok"))
      // conservation needs the distinct-doc count (a doc packed twice
      // inflates n_docs AND n_distinct differently) and an
      // order-independent assignment hash for the layout check
      // bit_xor, not sum: order-independent like sum but cannot
      // overflow a long under ANSI mode
      val docStats = assign.agg(
        countDistinct($"doc_id").as("n_distinct"),
        bit_xor(xxhash64($"doc_id", $"bin_id")).as("h_a"))
      // the SAME packing forced through 3 hash-partitioned tasks (rids
      // co-located) must emit a bit-identical assignment — this is the
      // determinism contract made machine-checked, and the different
      // partition count keeps Catalyst from reusing run A's exchange
      val hB = packSequencesDocs(spark, sfDir, budget,
          ranges = Some(nRanges), parts = Some(3))
        .agg(bit_xor(xxhash64($"doc_id", $"bin_id")).as("h_b"))
      val nSrc = docs(spark, sfDir).agg(count(lit(1)).as("n_source"))
      binStats
        .crossJoin(broadcast(docStats))
        .crossJoin(broadcast(hB))
        .crossJoin(broadcast(nSrc))
        .select(
          $"n_docs", $"sum_tokens", $"budget_ok",
          ($"n_docs" === $"n_distinct" && $"n_docs" === $"n_source")
            .as("conservation_ok"),
          // greedy ⇒ consecutive bins in a range overflow pairwise:
          // n_bins < 2·Σtok/budget + 2·ranges (+1 covers int division)
          ($"n_bins" <= lit(2L) * $"sum_tokens" / lit(budget) +
            lit(2L * nRanges + 1L)).as("fill_ok"),
          ($"h_a" === $"h_b").as("layout_ok"))
    },
    Some("""SELECT count(*) AS n_docs,
           |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
           |    AS sum_tokens,
           |  TRUE AS budget_ok, TRUE AS conservation_ok,
           |  TRUE AS fill_ok, TRUE AS layout_ok
           |FROM documents""".stripMargin))

  // ---------------------------------------------------------------- X6
  /** UDF surface: L2 norm via a Scala UDF (oracle: SQL equivalent). */
  val qUdfNorm = Q("q_udf_norm",
    (spark, sfDir) => {
      import spark.implicits._
      emb(spark, sfDir)
        .select($"vec_id",
          round(Vectors.l2NormUdf($"embedding"), 6).as("l2_norm"))
        .orderBy($"vec_id")
    },
    Some("""SELECT vec_id,
           |  round(sqrt(list_sum(list_transform(list_zip(embedding, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))), 6)
           |    AS l2_norm
           |FROM embeddings ORDER BY vec_id""".stripMargin))

  // ---------------------------------------------------------------- X7
  /** UDAF surface: per-label centroid via the custom Aggregator,
    * exploded to (label, dim, value) rows for engine-stable compare. */
  val qUdafCentroid = Q("q_udaf_centroid",
    (spark, sfDir) => {
      import spark.implicits._
      emb(spark, sfDir)
        .groupBy($"label")
        .agg(Vectors.centroidUdaf($"embedding").as("centroid"))
        .select($"label", posexplode($"centroid").as(Seq("dim", "v")))
        .select($"label", $"dim", round($"v", 6).as("centroid_val"))
        .orderBy($"label", $"dim")
    },
    Some("""SELECT label, i - 1 AS dim,
           |       round(avg(CAST(v AS DOUBLE)), 6) AS centroid_val
           |FROM (SELECT label, unnest(embedding) AS v,
           |        generate_subscripts(embedding, 1) AS i
           |      FROM embeddings) u
           |GROUP BY label, i ORDER BY label, dim""".stripMargin))

  // ------------------------------------- end-to-end corpus pipeline
  /** The training-data pipeline COMPOSED: quality-filter → exact-dedup
    * (keep the min-doc_id representative per identical text) →
    * leakage-safe fold assignment, in one declarative plan — the
    * shape a real corpus build runs nightly, proving the stages
    * compose without materialization barriers. One shuffle for the
    * dedup window (partitioned by the text hash at scale — here the
    * fixture's text column directly mirrors the oracle's GROUP BY) and
    * everything else row-local. The 0.5 quality threshold keeps ~55%
    * and drops ~45% at every sf, so the filter is never vacuous; both
    * engines compute the score with identical double operand order, so
    * the boundary comparison agrees bit-for-bit. */
  val qPipelineCorpus = Q("q_pipeline_corpus",
    (spark, sfDir) => {
      import spark.implicits._
      val scored = docs(spark, sfDir)
        .select($"doc_id", $"source", $"text",
          split(trim($"text"), " ").as("ws"))
        .select($"doc_id", $"source", $"text",
          (size(array_distinct($"ws")) / size($"ws").cast("double")
            * 0.5 +
            least(size($"ws").cast("double") / 100.0, lit(1.0)) * 0.5)
            .as("quality"))
        .filter($"quality" >= 0.5)
      val wDedup = Window.partitionBy(sha2($"text", 256))
        .orderBy($"doc_id")
      scored
        .withColumn("rn", row_number().over(wDedup))
        .filter($"rn" === 1)
        .select($"doc_id", $"source",
          when(charFold($"source") * 2654435761L % 2147483648L % 100L
            < 80, "train").otherwise("test").as("fold"),
          round($"quality", 6).as("quality"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH b AS (
            |  SELECT doc_id, source, text,
            |    (len(list_distinct(string_split(trim(text), ' ')))
            |       * 1.0 / len(string_split(trim(text), ' '))) * 0.5 +
            |    least(len(string_split(trim(text), ' ')) * 1.0 / 100,
            |      1.0) * 0.5 AS quality
            |  FROM documents
            |), q AS (
            |  SELECT * FROM b WHERE quality >= 0.5
            |), k AS (
            |  SELECT *, row_number() OVER (PARTITION BY text
            |    ORDER BY doc_id) AS rn FROM q
            |)
            |SELECT doc_id, source,
            |  CASE WHEN ${charFoldSql("source")}
            |      * 2654435761 % 2147483648 % 100 < 80
            |    THEN 'train' ELSE 'test' END AS fold,
            |  round(quality, 6) AS quality
            |FROM k WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- ingest pipeline
  /** Composed INGEST pipeline — the arrival-side sibling of
    * q_pipeline_corpus (which composes the curation side): one
    * declarative plan chains admit → scrub → quality-gate → cap for a
    * daily batch. Stages: (1) arrivals (the E64 fixture derivation:
    * re-keyed docs, every third an exact re-crawl), (2) exact digest
    * anti-join vs yesterday's corpus (the tier-2 admit; the Bloom
    * routing tier is E64's own row — composition is the point here),
    * (3) blocklist scrub, (4) repetition + length quality gate on the
    * SCRUBBED text (gates must see what training would see), (5) a
    * deterministic ≤5-docs-per-source cap through the custom
    * TopKPerKey operator (its fourth consumer), ordered by the shared
    * sampling hash. Row-level output: every admit/gate/cap decision is
    * hash-checked per doc. The whole pipeline is ONE Catalyst plan —
    * digest shuffle, scan-side scrub/gate projections, bounded-heap
    * cap — with no materialization barrier anywhere. */
  val qPipelineIngest = Q("q_pipeline_ingest",
    (spark, sfDir) => {
      import spark.implicits._
      val d = docs(spark, sfDir)
      val today = d.select(($"doc_id" + 1000000L).as("doc_id"),
        $"source",
        when($"doc_id" % 3 === 0, $"text")
          .otherwise(concat($"text", lit(" fresh "),
            ($"doc_id" % 5).cast("string"))).as("text"))
      val seen = d.select(sha2($"text", 256).as("h"))
      val admitted = today.withColumn("h", sha2($"text", 256))
        .join(seen, Seq("h"), "left_anti")
      val gated = admitted
        .withColumn("ws", split(trim(
          regexp_replace($"text", "(customer|key)", "#")), " "))
        .filter(size($"ws") >= 20)
        // zip_with over two slices, NOT the index-transform form the
        // standalone repetition query uses: filtering on the derived
        // dup_frac makes predicate pushdown INLINE the whole
        // scrub+split chain into the gate predicate, and the
        // index-transform references `ws` inside the lambda body —
        // once per ELEMENT — turning the inlined gate into O(n²)
        // string work per row (measured ~40× on this query; pushdown
        // has no duplication guard for lambda-nested references).
        // zip_with references the array once per ROW in each slice,
        // so the same inlining stays O(n). The oracle keeps the
        // index form — the bigram VALUES are identical.
        .withColumn("bg", zip_with(
          slice($"ws", lit(1), size($"ws") - 1),
          slice($"ws", lit(2), size($"ws") - 1),
          (a, b) => concat_ws(" ", a, b)))
        .withColumn("dup_frac", lit(1.0) -
          size(array_distinct($"bg")) /
            (size($"ws") - 1).cast("double"))
        .filter($"dup_frac" <= 0.04)
        .withColumn("ord", knuthSpread($"doc_id"))
        .select($"doc_id", $"source", size($"ws").as("n_tokens"),
          $"dup_frac", $"ord")
      graft.plans.TopKPerKey.of(gated, partitionCols = Seq("source"),
          orderCol = "ord", desc = false, tiebreak = "doc_id", k = 5)
        .select($"doc_id", $"source", $"n_tokens",
          round($"dup_frac", 6).as("dup_frac"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH today AS (
            |  SELECT doc_id + 1000000 AS doc_id, source,
            |         CASE WHEN doc_id % 3 = 0 THEN text
            |              ELSE text || ' fresh ' ||
            |                CAST(doc_id % 5 AS VARCHAR) END AS text
            |  FROM documents
            |), admitted AS (
            |  SELECT t.* FROM today t
            |  WHERE NOT EXISTS (SELECT 1 FROM documents p
            |                    WHERE p.text = t.text)
            |), gated AS (
            |  SELECT doc_id, source, len(ws) AS n_tokens,
            |         1.0 - len(list_distinct(bg)) * 1.0 / len(bg)
            |           AS dup_frac
            |  FROM (
            |    SELECT doc_id, source, ws,
            |           list_transform(generate_series(1, len(ws) - 1),
            |             i -> ws[i] || ' ' || ws[i + 1]) AS bg
            |    FROM (
            |      SELECT doc_id, source,
            |        string_split(trim(regexp_replace(text,
            |          '(customer|key)', '#', 'g')), ' ') AS ws
            |      FROM admitted)
            |    WHERE len(ws) >= 20)
            |  WHERE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg)
            |        <= 0.04
            |), capped AS (
            |  SELECT *, row_number() OVER (PARTITION BY source
            |    ORDER BY ${knuthSpreadSql("doc_id")}, doc_id) AS rn
            |  FROM gated
            |)
            |SELECT doc_id, source, n_tokens,
            |       round(dup_frac, 6) AS dup_frac
            |FROM capped WHERE rn <= 5 ORDER BY doc_id""".stripMargin))

  /** E227: **MinHash accuracy audit** — does the sketch actually
    * estimate what it claims? For every LSH candidate pair, the
    * 8-band signature agreement fraction (each one-hash band minimum
    * matches with probability ≈ J) is compared against EXACT bigram
    * Jaccard, rolled up per exact-Jaccard decile: pair counts, mean
    * estimate, mean exact, and mean absolute error — the
    * sketch-quality readout a dedup pipeline consults before trusting
    * E X2's thresholds. The audit is engine-exact end to end: both
    * similarities live in integer MICRO-UNITS (estimate = matches ×
    * 125000; exact = ⌊10⁶·c/(n1+n2−c)⌋ by integer floor division —
    * never a rounded double), so per-decile sums are order-free and
    * the only doubles are the three output-edge divisions. Candidate
    * generation mirrors X2's capped buckets; the shingle/band tables
    * are the memoized ones the dedup family already shares. */
  val qMinhashAccuracy = Q("q_minhash_accuracy",
    (spark, sfDir) => {
      import spark.implicits._
      val bands = minhashBands(spark, sfDir)
      val hot = bands.groupBy($"band", $"mv")
        .agg(count(lit(1)).as("bn")).filter($"bn" > 50)
        .select($"band", $"mv")
      val kept = bands.join(hot, Seq("band", "mv"), "left_anti")
      // PAIR-BUDGET-ADAPTIVE SAMPLING (round 17, found by the sf100gk
      // rung, not by reading the code): the exact-Jaccard leg below
      // joins candidate pairs against the FULL shingle corpus — at
      // ×1000 rows that shuffle exceeded the host's disk (~45 GB of
      // spill, java.io.IOException: No space left on device). An
      // audit's cost must be bounded by the AUDIT BUDGET, not the
      // corpus: sample left endpoints at rate ceil(nDocs/20k) so the
      // audited pair count stays ~constant as the corpus grows, and
      // semi-join the shingle/band legs down to the sampled docs (a
      // broadcast-sized set, so the corpus is SCANNED once, never
      // shuffled). rate == 1 at every driver scale (≤ 20k docs):
      // results and plans there are bit-identical to the unsampled
      // audit, and the DuckDB oracle applies the same rate formula.
      val nDocs = docCount(spark, sfDir)
      val rate = math.max(1L, math.ceil(nDocs / 20000.0).toLong)
      val keptA =
        if (rate == 1L) kept else kept.filter($"doc_id" % rate === 0)
      // materialized ONCE (round 20, guide §2.4/§3.3): cand feeds
      // BOTH the signature-agreement leg (matches) and the exact-
      // Jaccard leg (common) — un-checkpointed, each leg re-ran the
      // whole bucket self-join + distinct, and the plan re-scanned
      // the cached band/shingle tables 39 times (audit plan,
      // plans/r20). The pair set is audit-budget-bounded (~20k rows)
      // by the sampling rate above, so the materialization is tiny.
      val cand = keptA.as("a")
        .join(kept.as("b"), $"a.band" === $"b.band" &&
          $"a.mv" === $"b.mv" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
        .distinct()
        .localCheckpoint()
      // The exact-Jaccard leg rides the 64-BIT IDENTITY HASH, not the
      // shingle string (round 21 — the verify family's r17 hash-ride
      // applied to the audit): the common-shingle join keys 8-byte
      // longs instead of bigram strings. The DuckDB oracle joins the
      // shingle STRINGS, so strict parity proves the fold collided on
      // no audited pair. Per-doc sizes count rows, so they are
      // hash-invariant.
      val sh0 = shingles(spark, sfDir)
        .select($"doc_id", charFold64($"s").as("s"))
      val (bandsJ, sh) =
        if (rate == 1L) (bands, sh0)
        else {
          val sampled = cand.select($"d1".as("doc_id"))
            .union(cand.select($"d2".as("doc_id"))).distinct()
          (bands.join(broadcast(sampled), Seq("doc_id"), "left_semi"),
            sh0.join(broadcast(sampled), Seq("doc_id"), "left_semi"))
        }
      val matches = cand
        .join(bandsJ.as("x"), $"d1" === $"x.doc_id")
        .join(bandsJ.as("y"),
          $"d2" === $"y.doc_id" && $"x.band" === $"y.band")
        .groupBy($"d1", $"d2")
        .agg(sum(($"x.mv" === $"y.mv").cast("long")).as("n_match"))
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val common = cand.join(sh.as("p"), $"d1" === $"p.doc_id")
        .join(sh.as("q"), $"d2" === $"q.doc_id" && $"p.s" === $"q.s")
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("c"))
      val scored = matches
        .join(common, Seq("d1", "d2"), "left")
        .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")),
          Seq("d1"))
        .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")),
          Seq("d2"))
        .withColumn("c0", coalesce($"c", lit(0L)))
        .select($"n_match",
          ($"n_match" * 125000L).as("je_mic"),
          expr("(1000000 * c0) div (n1 + n2 - c0)").as("jx_mic"))
      scored
        .withColumn("decile", ($"jx_mic" / 100000L).cast("long"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum($"je_mic").cast("double") /
            (count(lit(1)) * 1000000L).cast("double"), 6)
            .as("mean_est"),
          round(sum($"jx_mic").cast("double") /
            (count(lit(1)) * 1000000L).cast("double"), 6)
            .as("mean_exact"),
          round(sum(abs($"je_mic" - $"jx_mic")).cast("double") /
            (count(lit(1)) * 1000000L).cast("double"), 6).as("mae"))
        .orderBy($"decile")
    },
    Some(s"""WITH $shCte, hs AS (
            |  SELECT doc_id, s, ${charFoldSql("s")} AS h FROM sh
            |), bm AS (
            |  SELECT doc_id, band,
            |         min(((band*31 + 7) * h + band*97 + 13) % $P) AS mv
            |  FROM hs, (SELECT unnest(range(0, 8)) AS band) b
            |  GROUP BY 1, 2
            |), kept AS (
            |  SELECT bm.* FROM bm
            |  JOIN (SELECT band, mv FROM bm GROUP BY 1, 2
            |        HAVING count(*) BETWEEN 2 AND 50) ok
            |    USING (band, mv)
            |), cand AS (
            |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            |  FROM kept a JOIN kept b
            |    ON a.band = b.band AND a.mv = b.mv
            |   AND a.doc_id < b.doc_id
            |  WHERE a.doc_id % (SELECT greatest(1,
            |    CAST(ceil(count(*) / 20000.0) AS BIGINT))
            |    FROM documents) = 0
            |), matches AS (
            |  SELECT d1, d2,
            |    sum(CASE WHEN x.mv = y.mv THEN 1 ELSE 0 END)
            |      AS n_match
            |  FROM cand
            |  JOIN bm x ON x.doc_id = d1
            |  JOIN bm y ON y.doc_id = d2 AND y.band = x.band
            |  GROUP BY 1, 2
            |), sizes AS (
            |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
            |), common AS (
            |  SELECT d1, d2, count(*) AS c
            |  FROM cand
            |  JOIN sh p ON p.doc_id = d1
            |  JOIN sh q ON q.doc_id = d2 AND q.s = p.s
            |  GROUP BY 1, 2
            |), scored AS (
            |  SELECT m.n_match * 125000 AS je_mic,
            |    (1000000 * coalesce(c.c, 0))
            |      // (s1.n + s2.n - coalesce(c.c, 0)) AS jx_mic
            |  FROM matches m
            |  LEFT JOIN common c ON c.d1 = m.d1 AND c.d2 = m.d2
            |  JOIN sizes s1 ON s1.doc_id = m.d1
            |  JOIN sizes s2 ON s2.doc_id = m.d2
            |)
            |SELECT CAST(jx_mic // 100000 AS BIGINT) AS decile,
            |  count(*) AS n_pairs,
            |  round(CAST(sum(je_mic) AS DOUBLE) /
            |    CAST(count(*) * 1000000 AS DOUBLE), 6) AS mean_est,
            |  round(CAST(sum(jx_mic) AS DOUBLE) /
            |    CAST(count(*) * 1000000 AS DOUBLE), 6) AS mean_exact,
            |  round(CAST(sum(abs(je_mic - jx_mic)) AS DOUBLE) /
            |    CAST(count(*) * 1000000 AS DOUBLE), 6) AS mae
            |FROM scored GROUP BY 1 ORDER BY decile""".stripMargin))

  /** E307: **inverted-index build** — the posting-list transpose
    * every search/retrieval stack sits on: token → (document
    * frequency, doc-id range, ordered posting prefix). The structure
    * splits into the two plans a 100 TB index build actually runs:
    * (a) the per-token STATISTICS (df, min/max doc) are a plain
    * map-side-combined aggregation — no list materialization; (b) the
    * posting LIST is bounded BEFORE collection by the TopKPerKey
    * operator (per-token k=5 lowest doc ids in a fixed-size heap —
    * the same bounded-heap discipline as E27/E49), so no executor
    * ever holds an unbounded hot-token posting list; real engines
    * write postings in doc-id-sorted blocks exactly this way. The
    * prefix string is the deterministic join of the k ids — array
    * columns would hash differently across engines; a '-'-joined
    * string is canonical. One shuffle on token for each branch, one
    * broadcast-or-hash join to stitch (token cardinality is
    * vocabulary-sized). */
  val qTextPostings = Q("q_text_postings",
    (spark, sfDir) => {
      import spark.implicits._
      val toks = Tables.read(spark, sfDir, "documents")
        .select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("token"))
        .filter(length($"token") > 0)
      val stats = toks.groupBy($"token")
        .agg(count(lit(1)).as("df"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      val prefix = graft.plans.TopKPerKey.of(toks,
          partitionCols = Seq("token"), orderCol = "doc_id",
          desc = false, tiebreak = "doc_id", k = 5)
        .groupBy($"token")
        .agg(array_join(transform(sort_array(collect_list($"doc_id")),
          _.cast("string")), "-").as("postings_prefix"))
      stats.join(prefix, Seq("token"))
        .select($"token", $"df", $"min_doc", $"max_doc",
          $"postings_prefix")
        .orderBy($"token")
    },
    Some("""WITH toks AS (
           |  SELECT DISTINCT doc_id, t.token
           |  FROM documents,
           |    unnest(string_split(text, ' ')) AS t(token)
           |  WHERE len(t.token) > 0
           |), stats AS (
           |  SELECT token, count(*) AS df,
           |    min(doc_id) AS min_doc, max(doc_id) AS max_doc
           |  FROM toks GROUP BY token
           |), ranked AS (
           |  SELECT token, doc_id,
           |    row_number() OVER (PARTITION BY token
           |      ORDER BY doc_id) AS rn
           |  FROM toks
           |), prefix AS (
           |  SELECT token,
           |    array_to_string(list_sort(list(doc_id)), '-')
           |      AS postings_prefix
           |  FROM ranked WHERE rn <= 5 GROUP BY token
           |)
           |SELECT token, df, min_doc, max_doc, postings_prefix
           |FROM stats JOIN prefix USING (token)
           |ORDER BY token""".stripMargin))

  /** E312: **deterministic negative sampling** — the contrastive-
    * training companion to the positive-pair mining rows: every
    * anchor document draws k=4 pseudo-uniform negatives from the
    * corpus by a hash ring over doc ids (anchor·Knuth + j·1000003
    * mod N), self-collisions deflected to the next slot. The hash
    * form is the production-correct one for the same reason as the
    * sampling family (E36/E49): stable under task retry, reproducible
    * across re-exports, and — unlike rand() — joinable against a
    * previous epoch's draws. The corpus size enters as the one-row
    * broadcast cross (allowlisted tiny-stats shape). The drawn ids
    * JOIN BACK to the corpus (one hash join on doc id — negatives
    * need their features) and the output reports, per anchor, the
    * hard-negative count (same language as the anchor — the signal a
    * curriculum uses to temperature-mix easy vs hard) plus the
    * deterministic id list. Zero data-sized shuffles beyond the one
    * feature-fetch join at any scale. */
  val qNegativeSampling = Q("q_negative_sampling",
    (spark, sfDir) => {
      import spark.implicits._
      val docs = Tables.read(spark, sfDir, "documents")
        .select($"doc_id", $"lang")
      val n = docs.agg(count(lit(1)).as("corpus_n"))
      val cand = docs.crossJoin(broadcast(n))
        .select($"doc_id".as("anchor_id"), $"lang".as("anchor_lang"),
          explode(array((1 to 4).map(lit(_)): _*)).as("j"),
          $"corpus_n")
        .withColumn("neg_raw",
          ($"anchor_id" * 2654435761L + $"j" * 1000003L) % $"corpus_n")
        .withColumn("neg_id",
          when($"neg_raw" === $"anchor_id",
            ($"neg_raw" + 1) % $"corpus_n").otherwise($"neg_raw"))
      cand
        .join(docs.select($"doc_id".as("neg_id"),
          $"lang".as("neg_lang")), Seq("neg_id"))
        .groupBy($"anchor_id")
        .agg(count(lit(1)).as("n_negs"),
          sum(($"neg_lang" === $"anchor_lang").cast("long"))
            .as("n_same_lang"),
          array_join(transform(sort_array(collect_list($"neg_id")),
            _.cast("string")), "-").as("neg_ids"))
        .orderBy($"anchor_id")
    },
    Some("""WITH n AS (
           |  SELECT count(*) AS corpus_n FROM documents
           |), cand AS (
           |  SELECT d.doc_id AS anchor_id, d.lang AS anchor_lang,
           |    (d.doc_id * 2654435761 + j * 1000003) % corpus_n
           |      AS neg_raw,
           |    d.doc_id, corpus_n
           |  FROM documents d, n,
           |    (SELECT unnest([1, 2, 3, 4]) AS j) js
           |), fixed AS (
           |  SELECT anchor_id, anchor_lang,
           |    CASE WHEN neg_raw = anchor_id
           |      THEN (neg_raw + 1) % corpus_n
           |      ELSE neg_raw END AS neg_id
           |  FROM cand
           |)
           |SELECT anchor_id, count(*) AS n_negs,
           |  CAST(sum(CASE WHEN d.lang = anchor_lang THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_same_lang,
           |  array_to_string(list_sort(list(neg_id)), '-') AS neg_ids
           |FROM fixed JOIN documents d ON d.doc_id = neg_id
           |GROUP BY anchor_id ORDER BY anchor_id""".stripMargin))

  /** E370: **LSH recall gate** — the round-18 banding fix exists
    * because a ONE-OFF audit measured the candidate generator's recall
    * against exact ground truth (0.73 under one-hash bands; the r=2
    * two-hash fix measured 1.0); this row makes that audit a PERMANENT
    * gated query so a banding regression can never land silently
    * (VERDICT r18 item 3). Fixture: the first 250 docs replicated ×4
    * under shifted ids — every shingle's document frequency multiplies
    * by 4 (the corpus-common-shingle density that made one-hash
    * buckets blow the 2..50 cap and drop true pairs: base one-hash
    * band buckets run past 12 docs here, so ×4 puts them over the
    * cap, while the two-hash buckets stay near-dup-cluster-sized ≤
    * ~24) and every doc gains 3 exact duplicates, so truth is dense
    * and cap pressure is real at EVERY sf; the slice keeps the
    * fixture — and this row's cost — constant across scales (a
    * 500×8 first cut measured 14 s at sf0.1: the exact-truth
    * inverted-index self-join is Σ df², ∝ copies²·docs, and 250×4
    * buys the same cap pressure at 1/8 the pair mass).
    * Truth = exact J ≥ 0.5 pairs from
    * the inverted-index self-join; found = the SAME two-hash banded
    * candidate pipeline q_dedup_minhash ships, exactly verified
    * (precision ≡ 1 by construction, so found ⊆ truth and
    * recall = |found|/|truth| — emitted in integer micro-units).
    * OperatorSuite locks recall_micro ≥ 990000. */
  val qLshRecall = Q("q_lsh_recall",
    (spark, sfDir) => {
      import spark.implicits._
      val rep = docs(spark, sfDir).filter($"doc_id" < 250)
        .select($"doc_id", $"text",
          explode(typedLit((0L until 4L).toSeq)).as("cp"))
        .select(($"doc_id" + $"cp" * 1000000L).as("doc_id"), $"text")
      val sh = rep
        .select($"doc_id", split(trim($"text"), " ").as("ws"))
        .filter(size($"ws") >= 2)
        .select($"doc_id", explode(array_distinct(
          transform(sequence(lit(1), size($"ws") - 1),
            i => concat_ws(" ", element_at($"ws", i),
              element_at($"ws", i + 1))))).as("s"))
      // candidate generator: LITERALLY the q_dedup_minhash pipeline —
      // the same shared functions ([[bandPairsOf]] →
      // [[candidatePairsOf]]) the shipped path composes, applied to
      // the replicated-fixture shingles (ADVICE r19: an inline copy
      // would let a banding change land unexercised by this gate)
      val cand = candidatePairsOf(bandPairsOf(sh))
      // exact side: 64-bit identity hashes (the verify discipline).
      // NOT checkpointed (round 20, measured): vh feeds six subtrees,
      // but the fixture is 250×4 docs at every sf — the eager
      // materialization measured 1.68 → 1.85 s against the duplicated
      // (cheap, exchange-reused) recomputes
      val vh = sh.select($"doc_id", charFold64($"s").as("h")).distinct()
      val sizes = vh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      def jaccardGe(pairsWithC: DataFrame): DataFrame = pairsWithC
        .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), Seq("d1"))
        .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), Seq("d2"))
        .filter(round($"c" / ($"n1" + $"n2" - $"c"), 6) >= 0.5)
        .select($"d1", $"d2")
      val truth = jaccardGe(
        vh.as("x").join(vh.as("y"),
            $"x.h" === $"y.h" && $"x.doc_id" < $"y.doc_id")
          .groupBy($"x.doc_id".as("d1"), $"y.doc_id".as("d2"))
          .agg(count(lit(1)).as("c")))
      val found = jaccardGe(cand
        .join(vh.as("x"), $"d1" === $"x.doc_id")
        .join(vh.as("y"), $"d2" === $"y.doc_id" && $"x.h" === $"y.h")
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("c")))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select($"n_truth", $"n_found",
          expr("n_found * 1000000 div n_truth").as("recall_micro"))
    },
    Some(s"""WITH rep AS (
            |  SELECT doc_id + cp * 1000000 AS doc_id, text
            |  FROM documents, (SELECT unnest(range(0, 4)) AS cp) c
            |  WHERE doc_id < 250
            |), rtoks AS (
            |  SELECT doc_id, string_split(trim(text), ' ') AS ws
            |  FROM rep
            |), rsh AS MATERIALIZED (
            |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s
            |  FROM rtoks, LATERAL (SELECT unnest(generate_series(1,
            |    len(ws) - 1)) AS i) t
            |  WHERE len(ws) >= 2
            |), hs AS (
            |  SELECT doc_id, s, ${charFoldSql("s")} AS h FROM rsh
            |), m AS (
            |  SELECT doc_id, k,
            |         min(((k*31 + 7) * h + k*97 + 13) % $P) AS mv
            |  FROM hs, (SELECT unnest(range(0, 16)) AS k) kk
            |  GROUP BY 1, 2
            |), bm AS (
            |  SELECT doc_id, k // 2 AS band,
            |         min(CASE WHEN k % 2 = 0 THEN mv END) AS mv1,
            |         min(CASE WHEN k % 2 = 1 THEN mv END) AS mv2
            |  FROM m GROUP BY 1, 2
            |), kept AS (
            |  SELECT bm.* FROM bm
            |  JOIN (SELECT band, mv1, mv2 FROM bm GROUP BY 1, 2, 3
            |        HAVING count(*) BETWEEN 2 AND 50) ok
            |    USING (band, mv1, mv2)
            |), cand AS (
            |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            |  FROM kept a JOIN kept b
            |    ON a.band = b.band AND a.mv1 = b.mv1
            |   AND a.mv2 = b.mv2 AND a.doc_id < b.doc_id
            |), vh AS MATERIALIZED (
            |  SELECT DISTINCT doc_id, s AS h
            |  FROM rsh
            |), sizes AS (
            |  SELECT doc_id, count(*) AS n FROM vh GROUP BY 1
            |), tc AS (
            |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
            |  FROM vh x JOIN vh y ON y.h = x.h AND x.doc_id < y.doc_id
            |  GROUP BY 1, 2
            |), truth AS (
            |  SELECT d1, d2 FROM tc
            |  JOIN sizes s1 ON s1.doc_id = tc.d1
            |  JOIN sizes s2 ON s2.doc_id = tc.d2
            |  WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= 0.5
            |), fc AS (
            |  SELECT cand.d1, cand.d2, count(*) AS c
            |  FROM cand
            |  JOIN vh x ON x.doc_id = cand.d1
            |  JOIN vh y ON y.doc_id = cand.d2 AND y.h = x.h
            |  GROUP BY 1, 2
            |), found AS (
            |  SELECT d1, d2 FROM fc
            |  JOIN sizes s1 ON s1.doc_id = fc.d1
            |  JOIN sizes s2 ON s2.doc_id = fc.d2
            |  WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= 0.5
            |)
            |SELECT CAST(t.n AS BIGINT) AS n_truth,
            |  CAST(f.n AS BIGINT) AS n_found,
            |  CAST(f.n * 1000000 // t.n AS BIGINT) AS recall_micro
            |FROM (SELECT count(*) AS n FROM truth) t,
            |     (SELECT count(*) AS n FROM found) f""".stripMargin))

  val all: Seq[Q] = Seq(qDedupExact, qDedupIncremental, qDedupMinhash,
    qDedupSimhash,
    qDedupNgramJaccard, qDedupCluster, qDedupCanonical, qDedupEmbed,
    qPagerank,
    qQuantizeEmbed,
    qSimCosineTopk,
    qSimAnnIvf, qSimAnnLsh, qMultimodalJoin, qMultimodalMeta,
    qMultimodalFrames, qMmFeatures, qMmResize, qTextTf, qNgramFreq,
    qTextTfidf,
    qTextBm25,
    qLangId, qQualityScore, qQualityRepetition, qQualityLm,
    qQualityBigramLm, qSampleDsir, qTokenCount,
    qFingerprint, qGenPosexplode, qSplitGroup,
    qSampleStratified, qSampleMixture, qSamplePerSource, qSampleWeighted,
    qChunkDocs,
    qScrubBlocklist,
    qScrubPii,
    qDecontaminate, qContainScore, qKmeansStep, qTruncateDocs,
    qEmbedDimStats, qClassWeights, qDedupNormalized,
    qDegreeDistribution, qQualityPolicy, qBootstrapCi,
    qSampleSystematic, qDedupRateBySource, qLengthProfile,
    qPackSequences, qUdfNorm,
    qUdafCentroid,
    qPipelineCorpus, qPipelineIngest, qMinhashAccuracy,
    qSimAnnRecall, qTextPostings, qNegativeSampling, qLshRecall)
}
