package graft

/** The sf100gk rung (VERDICT r16 item 6): the 10 slowest non-stream
  * queries from BENCH_FULL, executed once each against a ~16 GB
  * grow-keys ×1000 fixture at a 64 g driver. Protocol notes, recorded
  * here because they differ from Bench deliberately:
  *  - ONE run per query (cold: includes memo builds and first-plan
  *    codegen). At this scale the shuffle families run for minutes —
  *    min-of-2 would double a multi-hour rung for a second sample the
  *    alternation analysis (BASELINE round-17) shows is noise-bounded
  *    by host drift anyway. Judge these as COLD numbers.
  *  - PER-QUERY PROCESS ISOLATION (round 19, VERDICT r18 item 2):
  *    each query runs in its own FORKED JVM, serialized. Round 18's
  *    in-sequence single-JVM sweep ran 1.5–1.9× slower than solo and
  *    OOM'd q_join_setsim_topk as the 10th query ("GCLocker retried
  *    too often") — heap fragmentation and allocator state carry
  *    across a 75-minute sweep even with one SparkSession per query,
  *    while NOTHING useful is shared (Memo caches key on the session,
  *    so every query rebuilds its intermediates regardless). A fresh
  *    JVM per query removes the only cross-query coupling; this IS
  *    the declared protocol now — one rung table, no solo asterisks.
  *    The parent settles between children (sync + 3 s) and records
  *    /proc/meminfo (available/cached/dirty) before each, so host
  *    page-cache drift is in the record instead of the footnotes.
  *    G1 regions are sized 32 m in the children (humongous-allocation
  *    pressure from large shuffle buffers was the r18 OOM's proximate
  *    trigger).
  *  - per-query fault isolation: an OOM/spill kill in one child must
  *    not void the rung for the rest; failures print and the exit
  *    code is nonzero.
  *  - results stream one line per query as they finish, so a
  *    wall-clock cutoff still leaves a partial record.
  * Usage: `SPARK_GRAFT_SF_DIR=/tmp/sf100gk SPARK_DRIVER_MEM=64g sbt
  * "runMain graft.Rung100"` (optionally SPARK_GRAFT_ONLY to subset). */
object Rung100 {

  private val defaultTargets = Seq(
    // light first; the shuffle-heavy shingle/basket family last, so a
    // disk-exhaustion kill there cannot void the rest of the rung
    "q_top_movers", "q_sql_recursive", "q_write_audit_publish",
    "q_graph_label_prop", "q_pagerank", "q_basket_pairs",
    "q_minhash_accuracy", "q_dedup_minhash",
    "q_join_setsim_prefix", "q_join_setsim_topk")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf100gk")
    val targets = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultTargets)
    if (sys.env.contains("SPARK_GRAFT_RUNG_CHILD"))
      runInProc(sfDir, targets)
    else runForked(sfDir, targets)
  }

  /** (availableMb, cachedMb, dirtyMb) from /proc/meminfo; (-1,-1,-1)
    * where unreadable (non-Linux). */
  private def meminfoMb(): (Long, Long, Long) =
    try {
      val m = scala.io.Source.fromFile("/proc/meminfo").getLines()
        .map(_.split("\\s+")).collect {
          case Array(k, v, _*) => k.stripSuffix(":") -> v.toLong
        }.toMap
      def mb(k: String) = m.get(k).map(_ / 1024).getOrElse(-1L)
      (mb("MemAvailable"), mb("Cached"), mb("Dirty"))
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L) }

  /** Parent: serialized per-query child JVMs + settle + meminfo. */
  private def runForked(sfDir: String, targets: Seq[String]): Unit = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "64g")
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").filter(_.nonEmpty).toSeq
    val calibStart = Bench.calibMs()
    var anyErr = false
    val rows = targets.map { name =>
      // settle: drain dirty writeback from the previous child so its
      // flush IO is not billed to this query, then a short breath
      try {
        new ProcessBuilder("sync").start().waitFor()
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
      Thread.sleep(3000)
      val (availMb, cachedMb, dirtyMb) = meminfoMb()
      System.err.println(s"[rung100] pre $name availMB=$availMb " +
        s"cachedMB=$cachedMb dirtyMB=$dirtyMb")
      val cmd = Seq(javaBin, s"-Xmx$mem", "-XX:+UseG1GC",
        "-XX:G1HeapRegionSize=32m") ++ moduleOpts ++
        Seq("-cp", cp, "graft.Rung100")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_RUNG_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val t0 = System.nanoTime()
      val (ok, sec) = try {
        val p = pb.start()
        val out = scala.io.Source.fromInputStream(p.getInputStream)
          .getLines().toList
        val rc = p.waitFor()
        val pat = ("\"" + java.util.regex.Pattern.quote(name) +
          "\":([0-9.]+|\"err\")").r
        val parsed = out.reverseIterator
          .flatMap(l => pat.findFirstMatchIn(l)).toSeq.headOption
          .map(_.group(1))
        parsed match {
          case Some(s) if rc == 0 && !s.startsWith("\"") =>
            (true, s.toDouble)
          case _ => (false, (System.nanoTime() - t0) / 1e9)
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[rung100] fork ERR $name: ${e.getMessage}")
        (false, (System.nanoTime() - t0) / 1e9)
      }
      if (!ok) anyErr = true
      System.err.println(f"[rung100] $name%-28s ${if (ok) f"$sec%.1f s"
        else "ERR"}")
      (name, ok, sec, availMb)
    }
    val calibEnd = Bench.calibMs()
    def r(s: Double) = BigDecimal(s).setScale(1,
      BigDecimal.RoundingMode.HALF_UP).toString
    val qs = rows.map { case (n, ok, s, _) =>
      s""""$n":${if (ok) r(s) else "\"err\""}"""
    }.mkString("{", ",", "}")
    val mems = rows.map { case (n, _, _, m) => s""""$n":$m""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"rung100_cold_sec","protocol":"forked-per-query",""" +
      s""""calib_ms":[$calibStart,$calibEnd],"queries":$qs,""" +
      s""""pre_avail_mb":$mems,"sf":"$sfDir"}""")
    if (anyErr) sys.exit(4)
  }

  /** Child: runs its target (the parent passes one through
    * SPARK_GRAFT_ONLY) on a fresh SparkSession in THIS JVM and prints
    * the line the parent parses. */
  private def runInProc(sfDir: String, targets: Seq[String]): Unit = {
    var calibStart = -1L
    var anyErr = false
    val rows = targets.map { name =>
      if (calibStart < 0) calibStart = Bench.calibMs()
      val spark = Sessions.local("graft-rung100")
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[rung100] ERR $name: ${e.getMessage}")
          anyErr = true; false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[rung100] $name%-28s ${if (ok) f"$sec%.1f s"
        else "ERR"}")
      spark.stop()
      (name, ok, sec)
    }
    val calibEnd = Bench.calibMs()
    def r(s: Double) = BigDecimal(s).setScale(1,
      BigDecimal.RoundingMode.HALF_UP).toString
    val qs = rows.map { case (n, ok, s) =>
      s""""$n":${if (ok) r(s) else "\"err\""}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"rung100_cold_sec","calib_ms":[$calibStart,$calibEnd],"queries":$qs,"sf":"$sfDir"}""")
    if (anyErr) sys.exit(4)
  }
}
