package graft

import graft.queries.LLMOps
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based checks (SURVEY.md §5.2.4) for the arithmetic that
  * correctness rests on. Each property evaluates one Spark job over a
  * generated batch (not one job per sample) to keep runtime sane. */
object HashProps extends Properties("graft") {

  // Spark-job-per-sample is the cost driver; 10 samples × batched rows
  // gives plenty of coverage.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val asciiWord: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  property("charFold lands in [0, P) and is deterministic") =
    forAll(Gen.nonEmptyListOf(asciiWord)) { words =>
      val out = words.toDF("s")
        .select(LLMOps.charFold(col("s")).as("h"))
        .collect().map(_.getLong(0))
      val again = words.toDF("s")
        .select(LLMOps.charFold(col("s")).as("h"))
        .collect().map(_.getLong(0))
      out.forall(h => h >= 0L && h < 1000003L) && out.sameElements(again)
    }

  property("obfuscation noise stays within ±blur for any epoch day") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 40000))) { days =>
      // same arithmetic as Cohort.qObfuscate (Knuth multiplicative)
      val noise = days.map(d => d.toLong * 2654435761L % 2147483648L % 5 - 2)
      noise.forall(n => n >= -2 && n <= 2)
    }

  property("blur-then-mask: output is -99 xor within blur") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 200L), Gen.choose(0, 40000)))) { rows =>
      val out = rows.toDF("n_true", "epoch_day")
        .select(col("n_true"),
          when(col("n_true") < 10, lit(-99L))
            .otherwise(col("n_true") +
              col("epoch_day").cast("long") * 2654435761L
                % 2147483648L % 5 - 2).as("obf"))
        .collect()
      out.forall { r =>
        val t = r.getLong(0); val o = r.getLong(1)
        if (t < 10) o == -99L else math.abs(o - t) <= 2
      }
    }

  property("binned range join equals the naive range join") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 6L * 3600L * 1000000L), // µs over a 6-hour span
      Gen.oneOf("signup", "purchase", "view")))) { evs =>
      // the §4.2(c) refinement: bin to the window width, probe {b, b+1},
      // refine exactly — pair set must equal the naive quadratic scan
      val winUs = 3600L * 1000000L
      val s = evs.filter(_._2 == "signup").map(_._1)
      val p = evs.filter(_._2 == "purchase").map(_._1)
      val naive = (for (a <- s; b <- p
        if b > a && b <= a + winUs) yield (a, b)).toSet
      val binned = (for {
        a <- s
        probe <- Seq(a / winUs, a / winUs + 1)
        b <- p
        if b / winUs == probe && b > a && b <= a + winUs
      } yield (a, b)).toSet
      naive == binned
    }

  property("TopKPerKey keeps exactly the window-rank top-k on random data") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.choose(-50, 50))),
      Gen.choose(1, 4)) { (rows, k) =>
      // unique id per row = total order, so the kept SET is unique
      val df = rows.zipWithIndex
        .map { case ((key, v), id) => (key.toLong, v.toLong, id.toLong) }
        .toDF("key", "v", "id")
      val custom = graft.plans.TopKPerKey
        .of(df, Seq("key"), "v", desc = true, tiebreak = "id", k = k)
        .select("id").collect().map(_.getLong(0)).toSet
      val expected = rows.zipWithIndex
        .map { case ((key, v), id) => (key, v, id) }
        .groupBy(_._1).values.flatMap(g =>
          g.sortBy(t => (-t._2, t._3)).take(k).map(_._3.toLong))
        .toSet
      custom == expected
    }

  property("portable-blur obfuscation: -99 xor within ±blur, mask wins") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 40L), asciiWord))) { rows =>
      import graft.pipeline.{FourCE, FourCEConfig}
      val cfg = FourCEConfig(blur = 2, maskThreshold = 10)
      val out = rows.toDF("n", "key")
        .select(col("n"),
          FourCE.obfuscate(col("n"), col("key"), cfg).as("o"))
        .collect()
      out.forall { r =>
        val (n, o) = (r.getLong(0), r.getLong(1))
        if (n < 10) o == -99L else math.abs(o - n) <= 2
      }
    }

  property("hilbert_index: bijection + unit-step walk at any order") =
    forAll(Gen.choose(1, 6)) { order =>
      // E311: at every curve order, the index is a bijection onto
      // [0, 4^order) and consecutive indices are grid neighbors —
      // the two properties that make it a clustering key. Pure JVM
      // arithmetic (no Spark job), so the full grid is cheap.
      val n = 1L << order
      val inv = new Array[(Long, Long)]((n * n).toInt)
      var ok = true
      var x = 0L
      while (x < n) {
        var y = 0L
        while (y < n) {
          val d = graft.functions.HilbertHelper.xy2d(order, x, y)
          ok &&= d >= 0 && d < n * n && inv(d.toInt) == null
          inv(d.toInt) = (x, y)
          y += 1
        }
        x += 1
      }
      var d = 0
      while (ok && d < n * n - 1) {
        val (x1, y1) = inv(d); val (x2, y2) = inv(d + 1)
        ok &&= (x1 - x2).abs + (y1 - y2).abs == 1
        d += 1
      }
      ok
    }

  property("cosine of a vector with itself is 1") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-10f, 10f))
      .suchThat(v => v.exists(x => math.abs(x) > 0.1f))) { v =>
      val c = Seq(Tuple1(v)).toDF("v")
        .select(graft.functions.Vectors.cosine(col("v"), col("v")))
        .head().getDouble(0)
      math.abs(c - 1.0) < 1e-9
    }

  property("unit probe: ns and µs event encodings read identically") =
    // arbitrary epoch-micros — INCLUDING pre-1970 negatives (ADVICE r10
    // item 4) — plus a per-row sub-µs nanos offset on the ns encoding:
    // the same events-shaped frame written as native timestamp[µs] AND
    // as raw int64 epoch-nanos must read back through Tables.read's
    // footer probe as exactly the µs values DuckDB's CAST produces,
    // which is truncation toward zero (measured: −1 ns → 0 µs,
    // −1001 ns → −1 µs) — Java long `/`, Spark `div`, same semantics
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(-2208988800000000L, 4102444800000000L), // 1900..2100
      Gen.choose(-999L, 999L)))) { rows =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-prop-ts")
      val (usDir, nsDir) =
        (dir.resolve("us").toString, dir.resolve("ns").toString)
      val base = rows.zipWithIndex.map { case ((m, d), i) =>
        (i.toLong, m, d, i.toLong, "t", 0.0, "{}")
      }.toDF("event_id", "m", "d", "user_id", "event_type", "value",
        "props")
      base
        .select(col("event_id"), timestamp_micros(col("m")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.parquet(s"$usDir/events.parquet")
      base
        .select(col("event_id"),
          (col("m") * 1000L + col("d")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.parquet(s"$nsDir/events.parquet")
      def readMicros(d: String): Seq[Long] =
        Tables.read(spark, d, "events")
          .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
          .toSeq.sorted
      readMicros(usDir) == rows.map(_._1).sorted &&
        readMicros(nsDir) ==
          rows.map { case (m, d) => (m * 1000L + d) / 1000L }.sorted
    }

  property("jaro_winkler: range, symmetry, identity, codegen==eval") =
    forAll(Gen.nonEmptyListOf(Gen.zip(asciiWord, asciiWord))) { pairs =>
      import graft.functions.JaroWinklerHelper
      import org.apache.spark.unsafe.types.UTF8String
      def u(s: String) = UTF8String.fromString(s)
      // via the interpreted helper (what doGenCode calls statically)
      val helperAB = pairs.map { case (a, b) =>
        JaroWinklerHelper.similarity(u(a), u(b)) }
      val helperBA = pairs.map { case (a, b) =>
        JaroWinklerHelper.similarity(u(b), u(a)) }
      // via the registered expression through a real Spark job
      val viaExpr = pairs.toDF("a", "b")
        .select(call_function("jaro_winkler", col("a"), col("b")))
        .collect().map(_.getDouble(0))
      val range = helperAB.forall(x => x >= 0.0 && x <= 1.0)
      val symmetric = helperAB.zip(helperBA)
        .forall { case (x, y) => x == y }
      val identity = pairs.forall { case (a, b) =>
        a != b || JaroWinklerHelper.similarity(u(a), u(b)) == 1.0 }
      val enginesAgree = helperAB.zip(viaExpr)
        .forall { case (x, y) => x == y }
      range && symmetric && identity && enginesAgree
    }

  property("business-day closed form equals the brute-force day walk") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(-8000, 20000), Gen.choose(-8000, 20000)))) {
      spans =>
        // the E204 arithmetic on days-since-Monday-1990-01-01, in
        // pure Scala: f(d) = 5·⌊d/7⌋ + min(d mod 7, 5), Euclidean
        def pmod(a: Long, m: Long) = ((a % m) + m) % m
        def f(d: Long) = 5L * ((d - pmod(d, 7)) / 7) + math.min(pmod(d, 7), 5)
        // brute force: count Mon–Fri days in [lo, hi), signed
        def brute(d0: Long, d1: Long): Long = {
          val (lo, hi) = (math.min(d0, d1), math.max(d0, d1))
          val n = (lo until hi).count(d => pmod(d, 7) < 5).toLong
          if (d1 >= d0) n else -n
        }
        spans.forall { case (a, b) =>
          f(b.toLong) - f(a.toLong) == brute(a.toLong, b.toLong)
        }
    }

  property("KMV: under-full is exact, full sketch lands near truth") =
    forAll(Gen.choose(1, 4000), Gen.choose(1L, Long.MaxValue)) {
      (n, seed) =>
        import graft.functions.KmvBuffer
        // deterministic pseudo-uniform 60-bit hashes from the seed
        var x = seed | 1L
        val vals = Array.fill(n) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          x & ((1L << 60) - 1)
        }.distinct
        val buf = new KmvBuffer(128)
        vals.foreach(buf.add)
        val est = KmvBuffer.estimate(buf.serialize())
        if (vals.length < 128) est == vals.length.toDouble
        else math.abs(est - vals.length) / vals.length < 0.8
    }

  property("floor-mean moment shift equals the naive double formula") =
    forAll(Gen.nonEmptyListOf(Gen.choose(1, 49002))) { centsRaw =>
      // E250's integer plumbing vs the textbook direct computation:
      // quantized centi-values, deviations from c = ⌊S/n⌋, binomial
      // dm-shift — must land on the plain Σ(v−μ)^k moments within
      // double tolerance for ANY value multiset (incl. n=1, where
      // both skew and kurtosis are NaN-family and excluded).
      val cents = centsRaw.map(_.toLong)
      val n = cents.length.toLong
      val s = cents.sum
      val c = s / n
      val r = s - n * c
      val d = cents.map(_ - c)
      val (e2, e3, e4) = (
        d.map(x => BigInt(x) * x).sum,
        d.map(x => BigInt(x) * x * x).sum,
        d.map(x => BigInt(x) * x * x * x).sum)
      val nd = n.toDouble
      val dm = r.toDouble / nd
      val m2 = e2.toDouble / nd - dm * dm
      val m3 = e3.toDouble / nd - 3.0 * dm * (e2.toDouble / nd) +
        2.0 * dm * dm * dm
      val m4 = e4.toDouble / nd - 4.0 * dm * (e3.toDouble / nd) +
        6.0 * dm * dm * (e2.toDouble / nd) -
        3.0 * dm * dm * dm * dm
      // naive reference on the same quantized values
      val mu = cents.map(_.toDouble).sum / nd
      def cm(k: Int) = cents.map(v => math.pow(v - mu, k)).sum / nd
      val tol = 1e-6 * math.max(1.0, cm(2)) // relative-ish
      math.abs(m2 - cm(2)) <= tol * 10 &&
        math.abs(m3 - cm(3)) <= 1e-6 * math.max(1.0,
          math.abs(cm(3))) * 100 &&
        math.abs(m4 - cm(4)) <= 1e-6 * math.max(1.0, cm(4)) * 100
    }

  // --- kmeans kernel properties (round 19): the hand-written
  // early-exit scan and the dual ranking paths are exactly the kind
  // of code a property suite exists for — one subtle branch (strict
  // vs non-strict excess, tie direction) silently changes
  // assignments at scale while every fixture happens to pass.
  private val microVec: Gen[List[Long]] =
    Gen.listOfN(6, Gen.choose(-1000000L, 1000000L))
      .map(_.map(_ + 16777216L))

  private def refNearest(cents: Seq[(Long, Seq[Long])],
      q: Seq[Long]): Seq[Long] = {
    def d(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    cents.map { case (id, v) => (d(q, v), id) }.sorted.map(_._2)
  }

  property("kmeans_cell early-exit equals the naive argmin; " +
    "nearest_cells selection and sort paths equal the reference") =
    forAll(Gen.choose(2, 9).flatMap(c =>
      Gen.zip(Gen.listOfN(c, microVec), Gen.listOfN(8, microVec)))) {
      case (centVecs, qs) =>
        // duplicate one centroid vector under two ids when possible so
        // distance TIES actually occur and the id tiebreak is exercised
        val base = centVecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v: Seq[Long]) }
        val cents = if (base.size >= 2)
          base.updated(1, (1L, base.head._2)) else base
        val centArr = typedLit(cents)
        val df = qs.map(q => Tuple1(q)).toDF("q")
        val rows = df.select(
          call_function("kmeans_cell", centArr, col("q")).as("c1"),
          call_function("kmeans_nearest_cells", centArr, col("q"),
            lit(cents.size)).as("ks"),
          col("q")).collect()
        rows.forall { r =>
          val ref = refNearest(cents, r.getSeq[Long](2))
          r.getLong(0) == ref.head &&
            r.getSeq[Long](1) == ref
        }
    }

  property("kmeans ranking: sort path (k>64) matches the reference " +
    "order on large centroid sets") =
    forAll(Gen.listOfN(4, microVec)) { qs =>
      // 70 centroids forces the comparator-sort branch; ids are
      // shuffled (non-contiguous) to catch any index/id conflation
      val rnd = new scala.util.Random(qs.hashCode)
      val cents = (0 until 70).map { i =>
        ((i * 37L + 5L) % 997L,
          List.fill(6)(rnd.nextLong() % 1000000L + 16777216L): Seq[Long])
      }
      val centArr = typedLit(cents)
      val rows = qs.map(q => Tuple1(q)).toDF("q")
        .select(call_function("kmeans_nearest_cells", centArr,
          col("q"), lit(70)).as("ks"), col("q")).collect()
      rows.forall { r =>
        r.getSeq[Long](0) == refNearest(cents, r.getSeq[Long](1))
      }
    }

  property("SES fold equals the closed-form weighted sum") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 100000))) { ysInt =>
      // E255's first-element-init left fold vs the closed form
      // sₙ = (1−α)ⁿ⁻¹y₁ + Σ α(1−α)ⁿ⁻ⁱ yᵢ — same number, two routes.
      val ys = ysInt.map(_.toDouble)
      val fold = ys.tail.foldLeft(ys.head)((a, y) => 0.3 * y + 0.7 * a)
      val n = ys.length
      val closed = math.pow(0.7, n - 1) * ys.head +
        ys.tail.zipWithIndex.map { case (y, i) =>
          0.3 * math.pow(0.7, n - 2 - i) * y
        }.sum
      math.abs(fold - closed) <=
        1e-9 * math.max(1.0, math.abs(closed))
    }
}
