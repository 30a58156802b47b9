package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over co-occurrence graphs derived from the fixture
  * tables (SURVEY.md §2.12 E192–E193 and E244, round 12; E248–E249
  * and E253, round 13).
  *
  * The repo already has the *clustering* side of graph work — connected
  * components by pointer-jumping (E5), PageRank (round 11), near-dup
  * degree distributions (E177). This module adds the two classic
  * *structure* queries a relationship-heavy corpus needs: exact triangle
  * counting (the clustering-coefficient / community-density primitive)
  * and bounded-depth BFS (the "what can this node reach in k hops"
  * primitive behind blast-radius and recommendation-expansion queries).
  *
  * Graph construction is shared ([[supportEdges]]): parts are connected
  * when they co-occur in ≥2 distinct orders. The min-support threshold
  * is the standard market-basket trick that keeps a co-occurrence graph
  * SPARSE — measured on the fixtures: support-1 gives the complete graph
  * at small sf (every pair co-occurs once somewhere, C(n,2) edges),
  * support-2 gives 3.4k edges on 2k parts at sf0.01 and 3.6k edges on
  * 20k parts at sf0.1. At 100 TB the same shape holds: the support
  * filter is a HAVING on the first aggregation, so the dense raw pair
  * explosion never materializes past the partial agg, and the surviving
  * edge set is orders of magnitude smaller than the input — small enough
  * that AQE broadcasts it through the triangle self-joins.
  */
object Graphs {

  /** Support-2 co-order part graph: per order, the sorted distinct
    * part list expands to canonical s1<s2 pairs ROW-LOCALLY (nested
    * transform + slice HOFs — each order's k parts yield its k(k−1)/2
    * pairs with no join), then one pair-key aggregation applies the
    * ≥2-order support filter. Two shuffles total (order grouping,
    * pair counting) versus the self-join form's three, and the
    * order-key shuffle moves each (order, part) row once instead of
    * feeding both legs of a join — measured 2.3× faster at sf1
    * (25.5 s → 9.4–12.0 s cold in the A/B console run). Skew note:
    * per-order pair count is quadratic in basket size, so a
    * pathological giant basket needs a size cap before the expansion
    * (the fixture's baskets are ~4 items; the E3/E47 salting and AQE
    * guards are the tools if a real corpus breaks this).
    *
    * The edge set is Memo-cached per (session, sfDir) — SEVEN queries
    * (E192/E193/E244/E248/E249/E253/E281) start from the same edges, and
    * rebuilding the two-shuffle pair expansion per query was the
    * graph family's dominant bench cost (round-13 measurement:
    * ~1.7–2.0 s each, mostly edge building). Same contract as the
    * cohort/shingle intermediates: built once, persisted
    * MEMORY_AND_DISK, evicted with the session's context. Callers
    * still localCheckpoint where they need plan truncation. */
  private def supportEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.cached(spark, s"support_edges:$sfDir") {
      import spark.implicits._
      Tables.read(spark, sfDir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
        .groupBy($"o").agg(sort_array(collect_set($"p")).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  transform(slice(ps, i + 2, size(ps)),
            |    y -> struct(x AS s1, y AS s2))))""".stripMargin))
          .as("pr"))
        .select($"pr.s1", $"pr.s2")
        .groupBy($"s1", $"s2")
        .agg(count(lit(1)).as("w"))
        .filter($"w" >= 2)
        .select($"s1", $"s2")
    }

  /** E192: **exact triangle counting** — per-vertex triangle
    * participation over the support-2 co-purchase graph, the local
    * clustering primitive (a part in many triangles sits inside a
    * tightly bundled product community).
    *
    * The enumeration is the canonical a<b<c ordered 3-way self-join:
    * because [[supportEdges]] stores each edge once in canonical
    * direction, joining e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) finds every
    * triangle EXACTLY once — no /6 correction, no duplicate paths.
    * The edge set is localCheckpointed first so the three join legs
    * read one materialization instead of recomputing the base
    * aggregation three times. Scale: the classic refinement when the
    * support filter alone is not enough is degree-ordering (direct
    * each edge low-degree → high-degree before the wedge join), which
    * bounds wedge counts by arboricity; the scaladoc records it as the
    * 100 TB path, and the support threshold already removes the dense
    * core the fixtures can produce. */
  val qGraphTriangles = Q("q_graph_triangles",
    (spark, sfDir) => {
      import spark.implicits._
      // localCheckpoint strips size stats, so AQE would SMJ the tiny
      // edge set (measured: 3 exchanges at sf0.1 for 3.5k edges) —
      // the explicit broadcast on the probe legs restores the plan the
      // support-cap design implies: edges are orders of magnitude
      // smaller than the input by construction, and when a graph's
      // support-filtered edges DON'T fit a broadcast, degree-ordering
      // (the documented 100 TB refinement) is mandatory anyway.
      val e = supportEdges(spark, sfDir).localCheckpoint()
      val tri = e.as("e1")
        .join(broadcast(e.as("e2")), $"e1.s2" === $"e2.s1")
        .join(broadcast(e.as("e3")),
          $"e3.s1" === $"e1.s1" && $"e3.s2" === $"e2.s2")
        .select($"e1.s1".as("a"), $"e1.s2".as("b"), $"e2.s2".as("c"))
      tri.select(explode(array($"a", $"b", $"c")).as("part_key"))
        .groupBy($"part_key")
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy($"part_key")
    },
    Some("""WITH pairs AS (
           |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem
           |), e AS (
           |  SELECT a.p AS s1, b.p AS s2
           |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(*) >= 2
           |), tri AS (
           |  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
           |  FROM e e1
           |  JOIN e e2 ON e1.s2 = e2.s1
           |  JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
           |), verts AS (
           |  SELECT a AS part_key FROM tri
           |  UNION ALL SELECT b FROM tri
           |  UNION ALL SELECT c FROM tri
           |)
           |SELECT part_key, count(*) AS n_triangles
           |FROM verts GROUP BY part_key ORDER BY part_key"""
      .stripMargin))

  /** E193: **bounded-depth BFS** — minimum hop count from a
    * deterministic seed (the smallest part id in the edge set) to every
    * node reachable in ≤3 hops over the undirected support-2 graph.
    *
    * The Spark side is LEVEL-SYNCHRONOUS BFS, the shape that scales:
    * each round joins only the CURRENT frontier against the edge list,
    * unions into the visited set, re-minimizes, and CHECKPOINTS —
    * each round reads `visited` twice, so skipping the checkpoint
    * duplicates the plan prefix 2^k-fold (measured: faster at sf0.1,
    * ×5.8 slower at sf1 — see the inline note). Three static rounds
    * keep the query deterministic; unbounded reachability is E5's
    * job. The DuckDB oracle is the same semantics via
    * WITH RECURSIVE path enumeration with a hop<3 bound and a final
    * min(hop) — path enumeration is exponential in general, fine at
    * oracle scale, and the level-synchronous engine side is the form
    * that survives 100 TB (frontier ⋈ edges is one shuffle per round,
    * and the visited-set min is a hash agg on node id). */
  val qGraphBfs = Q("q_graph_bfs",
    (spark, sfDir) => {
      import spark.implicits._
      // Checkpoint EVERY round, not just the edges. The no-checkpoint
      // form is faster at small scale (2.1 s vs 2.8 s warm at sf0.1 —
      // four fewer materialization jobs) but each round references
      // `visited` TWICE (frontier filter + union), so the unmaterialized
      // plan duplicates the whole prefix 2^k times — measured 22.5 s
      // vs 3.9 s at sf1, a ×5.8 blowup for ×10 data. The fixed
      // per-round job floor is the price of linear scaling; this is
      // the same lesson E5's pointer jumping encodes, re-proven here
      // by measuring BOTH forms at BOTH scales (round-12 close).
      val e = supportEdges(spark, sfDir).localCheckpoint()
      val und = e.select($"s1".as("u"), $"s2".as("v"))
        .union(e.select($"s2".as("u"), $"s1".as("v")))
      var visited = e.agg(min($"s1").as("part_key"))
        .select($"part_key", lit(0L).as("hops"))
        .localCheckpoint()
      for (k <- 1 to 3) {
        val frontier = visited.filter($"hops" === (k - 1))
          .join(und, $"part_key" === $"u")
          .select($"v".as("part_key"), lit(k.toLong).as("hops"))
        visited = visited.union(frontier)
          .groupBy($"part_key").agg(min($"hops").as("hops"))
          .localCheckpoint()
      }
      visited.orderBy($"part_key")
    },
    Some("""WITH RECURSIVE pairs AS (
           |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem
           |), e AS (
           |  SELECT a.p AS s1, b.p AS s2
           |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(*) >= 2
           |), und AS (
           |  SELECT s1 AS u, s2 AS v FROM e
           |  UNION ALL SELECT s2, s1 FROM e
           |), walk AS (
           |  SELECT (SELECT min(s1) FROM e) AS node, 0 AS hop
           |  UNION ALL
           |  SELECT und.v, walk.hop + 1
           |  FROM walk JOIN und ON und.u = walk.node
           |  WHERE walk.hop < 3
           |)
           |SELECT node AS part_key, CAST(min(hop) AS BIGINT) AS hops
           |FROM walk GROUP BY node ORDER BY part_key""".stripMargin))

  /** E244: **neighbor-set similarity (link prediction)** — for part
    * pairs sharing ≥2 common neighbors in the support graph, the
    * Jaccard of their neighbor sets: the classic "products bought
    * alongside the same things" similarity that predicts missing
    * edges (and powers co-purchase recommendations) — structural
    * similarity, where the triangle count (E192) measures local
    * density. Wedges enumerate through the broadcast undirected edge
    * list exactly as E192's join legs do; degrees come from one
    * aggregation; Jaccard is inclusion–exclusion on exact integer
    * counts with the one edge division, and the top 20 export is
    * totally ordered (jaccard 6dp desc, then the pair). */
  val qGraphNeighborSim = Q("q_graph_neighbor_sim",
    (spark, sfDir) => {
      import spark.implicits._
      val e = supportEdges(spark, sfDir).localCheckpoint()
      val und = e.select($"s1".as("u"), $"s2".as("v"))
        .union(e.select($"s2".as("u"), $"s1".as("v")))
      val deg = und.groupBy($"u").agg(count(lit(1)).as("d"))
      val shared = und.as("x")
        .join(broadcast(und.as("y")),
          $"x.v" === $"y.v" && $"x.u" < $"y.u")
        .groupBy($"x.u".as("a"), $"y.u".as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 2)
      shared
        .join(broadcast(deg.select($"u".as("a"), $"d".as("da"))),
          Seq("a"))
        .join(broadcast(deg.select($"u".as("b"), $"d".as("db"))),
          Seq("b"))
        .select($"a", $"b", $"n_shared",
          round($"n_shared".cast("double") /
            ($"da" + $"db" - $"n_shared").cast("double"), 6)
            .as("jaccard"))
        .orderBy($"jaccard".desc, $"a", $"b")
        .limit(20)
    },
    Some("""WITH pairs AS (
           |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem
           |), bags AS (
           |  SELECT o, list_sort(list(p)) AS ps
           |  FROM pairs GROUP BY o
           |), expanded AS (
           |  SELECT unnest(ps) AS s1, o FROM bags
           |), e AS (
           |  SELECT a.s1, b.s1 AS s2
           |  FROM expanded a JOIN expanded b
           |    ON a.o = b.o AND a.s1 < b.s1
           |  GROUP BY 1, 2 HAVING count(*) >= 2
           |), und AS (
           |  SELECT s1 AS u, s2 AS v FROM e
           |  UNION ALL SELECT s2, s1 FROM e
           |), deg AS (
           |  SELECT u, count(*) AS d FROM und GROUP BY u
           |), shared AS (
           |  SELECT x.u AS a, y.u AS b, count(*) AS n_shared
           |  FROM und x JOIN und y ON x.v = y.v AND x.u < y.u
           |  GROUP BY 1, 2 HAVING count(*) >= 2
           |)
           |SELECT s.a, s.b, s.n_shared,
           |  round(CAST(s.n_shared AS DOUBLE) /
           |    CAST(d1.d + d2.d - s.n_shared AS DOUBLE), 6)
           |    AS jaccard
           |FROM shared s
           |JOIN deg d1 ON d1.u = s.a
           |JOIN deg d2 ON d2.u = s.b
           |ORDER BY jaccard DESC, s.a, s.b LIMIT 20""".stripMargin))

  /** E248: **local clustering coefficient** — per vertex with degree
    * ≥ 2, the fraction of its neighbor pairs that are themselves
    * connected: c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the standard
    * "how clique-like is this node's neighborhood" readout that turns
    * E192's raw triangle counts into a normalized density (a hub in
    * 50 triangles can still be LESS clustered than a leafy node in
    * 3). Triangle participation reuses E192's canonical a<b<c
    * enumeration verbatim; degrees are one aggregation over the
    * doubled edge list; vertices in no triangle appear with c = 0 via
    * the left join (dropping them would bias every average-clustering
    * readout upward). All counting is integer-exact; the one division
    * is the 6dp double edge. Scale shape is E192's: the support-capped
    * edge set broadcasts through the wedge join, and degree-ordering
    * is the recorded refinement when it can't. */
  val qGraphClustering = Q("q_graph_clustering",
    (spark, sfDir) => {
      import spark.implicits._
      val e = supportEdges(spark, sfDir).localCheckpoint()
      val und = e.select($"s1".as("u"), $"s2".as("v"))
        .union(e.select($"s2".as("u"), $"s1".as("v")))
      val deg = und.groupBy($"u").agg(count(lit(1)).as("degree"))
      val tri = e.as("e1")
        .join(broadcast(e.as("e2")), $"e1.s2" === $"e2.s1")
        .join(broadcast(e.as("e3")),
          $"e3.s1" === $"e1.s1" && $"e3.s2" === $"e2.s2")
        .select($"e1.s1".as("a"), $"e1.s2".as("b"), $"e2.s2".as("c"))
        .select(explode(array($"a", $"b", $"c")).as("u"))
        .groupBy($"u").agg(count(lit(1)).as("n_tri"))
      deg.filter($"degree" >= 2)
        .join(broadcast(tri), Seq("u"), "left")
        .select($"u".as("part_key"), $"degree",
          coalesce($"n_tri", lit(0L)).as("n_triangles"),
          round(lit(2.0) * coalesce($"n_tri", lit(0L)).cast("double") /
            ($"degree" * ($"degree" - 1)).cast("double"), 6)
            .as("clustering"))
        .orderBy($"part_key")
    },
    Some("""WITH pairs AS (
           |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem
           |), e AS (
           |  SELECT a.p AS s1, b.p AS s2
           |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(*) >= 2
           |), und AS (
           |  SELECT s1 AS u, s2 AS v FROM e
           |  UNION ALL SELECT s2, s1 FROM e
           |), deg AS (
           |  SELECT u, count(*) AS degree FROM und GROUP BY u
           |), tri AS (
           |  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
           |  FROM e e1
           |  JOIN e e2 ON e1.s2 = e2.s1
           |  JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
           |), tcnt AS (
           |  SELECT u, count(*) AS n_tri FROM (
           |    SELECT a AS u FROM tri
           |    UNION ALL SELECT b FROM tri
           |    UNION ALL SELECT c FROM tri
           |  ) GROUP BY u
           |)
           |SELECT d.u AS part_key, d.degree,
           |  coalesce(t.n_tri, 0) AS n_triangles,
           |  round(2.0 * CAST(coalesce(t.n_tri, 0) AS DOUBLE) /
           |    CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
           |    AS clustering
           |FROM deg d LEFT JOIN tcnt t ON t.u = d.u
           |WHERE d.degree >= 2
           |ORDER BY part_key""".stripMargin))

  /** E249: **degree assortativity** — the Pearson correlation of
    * endpoint degrees over every directed edge of the support graph:
    * positive means hubs link to hubs (social-network shape), negative
    * means hubs link to leaves (hub-and-spoke / infrastructure shape)
    * — the one-number structural fingerprint used to sanity-check
    * whether a generated or deduped graph still "looks like" its
    * domain. Both directions of each edge contribute, so the x and y
    * marginals are identical and r is symmetric by construction. All
    * five sums (M, Σx, Σxy, Σx², and the shared Σy=Σx) are exact
    * integers (degree products of a support-capped sparse graph stay
    * far inside BIGINT; the oracle's HUGEINT sums cast down at the
    * edge); the closed form r = (M·Σxy − Σx·Σy) / (M·Σx² − (Σx)²)
    * (denominators equal for x and y because the marginals coincide)
    * happens once in double, rounded 6dp. One aggregation after a
    * broadcast degree
    * join — no per-vertex iteration, so the shape is 100 TB-safe. */
  val qGraphAssortativity = Q("q_graph_assortativity",
    (spark, sfDir) => {
      import spark.implicits._
      val e = supportEdges(spark, sfDir).localCheckpoint()
      val und = e.select($"s1".as("u"), $"s2".as("v"))
        .union(e.select($"s2".as("u"), $"s1".as("v")))
      val deg = und.groupBy($"u").agg(count(lit(1)).as("d"))
      val xy = und
        .join(broadcast(deg.select($"u", $"d".as("dx"))), Seq("u"))
        .join(broadcast(deg.select($"u".as("v"), $"d".as("dy"))),
          Seq("v"))
      xy.agg(count(lit(1)).as("m"),
          sum($"dx").as("sx"), sum($"dy").as("sy"),
          sum($"dx" * $"dy").as("sxy"),
          sum($"dx" * $"dx").as("sx2"))
        .select($"m".as("n_directed_edges"),
          round(($"m" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"m" * $"sx2" - $"sx" * $"sx").cast("double"), 6)
            .as("assortativity"))
    },
    Some("""WITH pairs AS (
           |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem
           |), e AS (
           |  SELECT a.p AS s1, b.p AS s2
           |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(*) >= 2
           |), und AS (
           |  SELECT s1 AS u, s2 AS v FROM e
           |  UNION ALL SELECT s2, s1 FROM e
           |), deg AS (
           |  SELECT u, count(*) AS d FROM und GROUP BY u
           |), xy AS (
           |  SELECT dx.d AS x, dy.d AS y
           |  FROM und
           |  JOIN deg dx ON dx.u = und.u
           |  JOIN deg dy ON dy.u = und.v
           |), sums AS (
           |  SELECT CAST(count(*) AS BIGINT) AS m,
           |    CAST(sum(x) AS BIGINT) AS sx,
           |    CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(x * x) AS BIGINT) AS sx2
           |  FROM xy
           |)
           |SELECT m AS n_directed_edges,
           |  round(CAST(m * sxy - sx * sy AS DOUBLE) /
           |    CAST(m * sx2 - sx * sx AS DOUBLE), 6) AS assortativity
           |FROM sums""".stripMargin))

  /** E253: **k-core decomposition (3-core)** — the maximal subgraph
    * where every vertex keeps degree ≥ 3, the standard "dense
    * backbone" extraction that separates structurally embedded nodes
    * from peripheral ones (fraud rings, community cores, influence
    * seeds). Semantics are BOUNDED-PEEL: exactly 10 rounds of
    * remove-degree-<3-vertices, a fixpoint at fixture scale
    * (OperatorSuite asserts min remaining degree ≥ 3 — degree ≥ k
    * everywhere IS the convergence certificate) and, crucially,
    * parity-proof even if a future fixture needed more rounds: the
    * oracle UNROLLS the same 10 rounds (generated by the same loop
    * that would change the engine's), so both sides always compute
    * the identical bounded semantics. Each round is one degree
    * aggregation + two semi-joins against the survivor set
    * (broadcast here — survivor sets only shrink; hash semi-join at
    * 100 TB), checkpointed per round for the E193 linear-plan
    * lesson. */
  val qGraphKcore = Q("q_graph_kcore",
    (spark, sfDir) => {
      import spark.implicits._
      val e = supportEdges(spark, sfDir).localCheckpoint()
      var und = e.select($"s1".as("u"), $"s2".as("v"))
        .union(e.select($"s2".as("u"), $"s1".as("v")))
        .localCheckpoint()
      for (_ <- 1 to 10) {
        val keep = und.groupBy($"u").agg(count(lit(1)).as("d"))
          .filter($"d" >= 3).select($"u")
        und = und
          .join(broadcast(keep), Seq("u"), "left_semi")
          .join(broadcast(keep.select($"u".as("v"))), Seq("v"),
            "left_semi")
          .localCheckpoint()
      }
      und.groupBy($"u").agg(count(lit(1)).as("core_degree"))
        .select($"u".as("part_key"), $"core_degree")
        .orderBy($"part_key")
    },
    Some {
      // Every CTE is MATERIALIZED: each round references its
      // predecessor three times, so DuckDB's default inlining would
      // expand the 10-round chain 3^10-fold (measured: it exhausts
      // file handles re-opening the base parquet).
      val base =
        """WITH pairs AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem
          |), e AS MATERIALIZED (
          |  SELECT a.p AS s1, b.p AS s2
          |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), r0 AS MATERIALIZED (
          |  SELECT s1 AS u, s2 AS v FROM e
          |  UNION ALL SELECT s2, s1 FROM e
          |)""".stripMargin
      val rounds = (1 to 10).map { i =>
        s""", r$i AS MATERIALIZED (
           |  SELECT u, v FROM r${i - 1}
           |  WHERE u IN (SELECT u FROM r${i - 1}
           |              GROUP BY u HAVING count(*) >= 3)
           |    AND v IN (SELECT u FROM r${i - 1}
           |              GROUP BY u HAVING count(*) >= 3)
           |)""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT u AS part_key, count(*) AS core_degree
          |FROM r10 GROUP BY u ORDER BY part_key""".stripMargin
    })

  /** E281: **label propagation communities** — synchronous LPA over
    * the support-2 co-purchase graph, the linear-time community
    * detector next to the connected-component / pointer-jumping family
    * (E5): each round every vertex adopts the label most frequent
    * among its neighbours. Plain LPA is notoriously nondeterministic
    * (random tie-breaks, async order); this row pins the DETERMINISTIC
    * variant — synchronous rounds, ties broken toward the SMALLEST
    * label — so both engines walk the identical trajectory, and bounds
    * it at 5 rounds (LPA's own literature stops at ~5 sweeps; the
    * fixpoint-vs-budget tradeoff is the same one the k-core row E248
    * documents). Labels start as vertex ids. Per round: one edge⋈label
    * equi-join, one (vertex, label) count, one per-vertex argmax
    * window — all on the sparse edge set, with the edge⋈label join
    * left UN-hinted so AQE broadcasts the label frame while it fits
    * and falls back to a shuffle join at scale (measurements at the
    * conf flag below). The oracle GENERATES the same
    * 5 unrolled rounds as MATERIALIZED CTEs (the k-core lesson:
    * DuckDB's default inlining would expand the multiply-referenced
    * round chain exponentially). */
  val qGraphLabelProp = Q("q_graph_label_prop",
    (spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val e = supportEdges(spark, sfDir).localCheckpoint()
      val und = e.select($"s1".as("u"), $"s2".as("v"))
        .union(e.select($"s2".as("u"), $"s1".as("v")))
        .localCheckpoint()
      var lab = und.select($"u".as("node")).distinct()
        .select($"node", $"node".as("lab"))
      // The per-round label frame is |V|-sized, so a broadcast hint is
      // a local-scale tactic only (VERDICT r13 item 4: at real scale
      // labels don't fit a broadcast and the forced hint OOMs the
      // driver). MEASURED both forms, min-of-2 warm seconds, two
      // independent pairs each: sf0.1 hint 3.07/3.37 vs un-hinted
      // 2.44/2.56 (un-hinted wins — AQE auto-broadcasts the small
      // label frame anyway, and skipping the explicit hint avoids
      // re-planning the broadcast each round); sf1 hint 5.70/7.56 vs
      // un-hinted 7.96/7.83 (inside the noise band). The un-hinted
      // form is therefore BOTH the local winner and the production
      // path — AQE chooses broadcast while labels fit and degrades to
      // a shuffle join past the threshold instead of failing (both
      // arms' numbers: BASELINE.md, round-14 records).
      // Round 21 experiments on this row's 8-core-faster anomaly
      // (VERDICT r20 item 2), ALL measured and rejected on
      // interleaved matched windows with an untouched control:
      // (a) de-checkpointing the fixed 5-round loop into one
      // pipelined plan (the qPagerank r20 argument — legal here
      // because each round references its predecessor once, no 3^k
      // blowup) was NEUTRAL: min 2.43 vs 2.44 s at sf0.1 over 5
      // pairs, and not separable from window noise at ×10;
      // (b) AQE parallelismFirst=false (data-sized partition
      // coalescing) regressed this row AND its whole restricted set
      // (control q_top_movers 1.97→3.92/4.88);
      // (c) forcing shuffle.partitions=4/8 at 32 cores: 3.01/2.71 vs
      // 2.43 — partitions are not the penalty. Both arms run ~35%
      // faster under SPARK_GRAFT_CPUS=8 (1.49–1.80 s), so the 32-core
      // penalty is per-task scheduling across ALL stages (scan splits
      // included) at fixture scale — "too small to parallelize", not
      // a fixable partition rule; a rule sized to please sf0.1 would
      // be the forbidden local tune. The checkpointed loop stands.
      for (_ <- 1 to 5) {
        // argmax by (count, lowest label) via max_by over the
        // (c, -lab) struct — one aggregation instead of the
        // groupBy+row_number window pair — each round saves a full
        // shuffle+sort (the window form benched 4.1 s at sf0.1; the
        // round-13 bench records this form). The ordering struct is
        // unique per (u, lab), so max_by is deterministic. A third
        // form — ONE exchange per round via collect_list(lab) +
        // row-local sorted run-length mode — was measured WORSE
        // (5.1 s vs 3.1–4.1 s at sf0.1: the per-row sort_array over
        // hub-vertex neighbor lists costs more than the second hash
        // exchange saves) and rejected; the two-agg form stands.
        lab = und
          .join(lab, $"v" === $"node")
          .groupBy($"u", $"lab").agg(count(lit(1)).as("c"))
          .groupBy($"u")
          .agg(max_by($"lab", struct($"c", -$"lab")).as("lab"))
          .select($"u".as("node"), $"lab")
          .localCheckpoint()
      }
      lab.groupBy($"lab".as("community"))
        .agg(count(lit(1)).as("n_members"),
          min($"node").as("min_member"), max($"node").as("max_member"))
        .orderBy($"community")
    },
    Some {
      val base =
        """WITH pairs AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem
          |), e AS MATERIALIZED (
          |  SELECT a.p AS s1, b.p AS s2
          |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), und AS MATERIALIZED (
          |  SELECT s1 AS u, s2 AS v FROM e
          |  UNION ALL SELECT s2, s1 FROM e
          |), l0 AS MATERIALIZED (
          |  SELECT DISTINCT u AS node, u AS lab FROM und
          |)""".stripMargin
      val rounds = (1 to 5).map { i =>
        s""", l$i AS MATERIALIZED (
           |  SELECT u AS node, lab FROM (
           |    SELECT und.u, l.lab, count(*) AS c,
           |      row_number() OVER (PARTITION BY und.u
           |        ORDER BY count(*) DESC, l.lab) AS rn
           |    FROM und JOIN l${i - 1} l ON und.v = l.node
           |    GROUP BY und.u, l.lab
           |  ) WHERE rn = 1
           |)""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT lab AS community, count(*) AS n_members,
          |  min(node) AS min_member, max(node) AS max_member
          |FROM l5 GROUP BY lab ORDER BY community""".stripMargin
    })

  val all: Seq[Q] = Seq(qGraphTriangles, qGraphBfs, qGraphNeighborSim,
    qGraphClustering, qGraphAssortativity, qGraphKcore,
    qGraphLabelProp)
}
