package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter,
  NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  Exchange}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Workload driver: times registered `SparkEntry.queries` rows end to
  * end, fully materialized, on a warm context.
  *
  * Usage: PerfBench <spec file>. The spec (written by run.py) is one
  * `key value` pair per line plus one `op <name> <sink>` line per
  * operation, `sink` being `noop` (a `noop`-format write), `csv1`
  * (`FourCE.writeCsv`, single part) or `csvN` (`FourCE.writeCsv`,
  * partitioned).
  *
  * One run = `warm` warm-up passes, then timed passes until `seconds`
  * have elapsed (at least `min_passes`). The first warm-up pass is also
  * the check pass: it writes each `noop` operation's result as parquet
  * instead, for the DuckDB oracle compare. The others go through the
  * real sinks, so the timed passes never run a sink path for the first
  * time. CSV results are checked as the last timed pass wrote them,
  * read back with their schema. Every pass opens `spark.newSession()`,
  * so per-session memo builds land inside the pass, as in a user's run.
  * A pass ends (outside its timing) with a full GC, a live-heap
  * reading, `catalog.clearCache()` and a half-second settle, so each
  * pass starts from the same heap. The heap high-water mark of a pass
  * is the largest post-GC heap of any collection inside it, that
  * end-of-pass full GC included.
  *
  * With `trace 1` the timed passes alternate untraced/traced; traced
  * passes attach a SparkListener, a
  * QueryExecutionListener, a StreamingQueryListener and read the
  * codegen counters, and the run records per-layer totals plus one
  * span per operation. Results go to `<out>/result.json`, spans to
  * `<out>/trace.json`.
  */
object PerfBench {

  final case class Op(name: String, sink: String)

  final case class Spec(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, warm: Int, minPasses: Int,
      ops: Seq[Op])

  def readSpec(path: String): Spec = {
    val kv = scala.collection.mutable.Map[String, String]()
    val ops = ArrayBuffer[Op]()
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(_.nonEmpty).foreach { line =>
        // values (paths) may hold spaces; op lines never do
        if (line.startsWith("op ")) line.split("\\s+") match {
          case Array(_, n, s) => ops += Op(n, s)
          case _ => throw new IllegalArgumentException(s"bad spec: $line")
        } else line.split(" ", 2) match {
          case Array(k, v) => kv(k) = v
          case _ => throw new IllegalArgumentException(s"bad spec: $line")
        }
      }
    Spec(kv("workload"), kv("data"), kv("out"), kv("seconds").toDouble,
      kv("trace") == "1", kv("warm").toInt, kv("min_passes").toInt,
      ops.toSeq)
  }

  // ------------------------------------------------------------ JSON out
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  val MB: Double = 1024.0 * 1024.0

  // ------------------------------------------------------------- tracing
  final case class JobRec(id: Int, op: String, phase: String, start: Long,
      var end: Long, stageIds: Seq[Int])
  final class StageRec(val id: Int, val op: String, val phase: String,
      val submitted: Long) {
    var completed: Long = -1L
    val taskRun = ArrayBuffer[Long]()
    var cpuNs, gcMs, inBytes, inRows, shWrite, shRead, fetchWait,
      spill = 0L
  }

  /** Listener state for one traced pass. Events are tagged by the
    * `perfbench.op` / `perfbench.phase` local properties, which stream
    * and broadcast threads inherit from the calling thread. */
  final class Tracer {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages =
      new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    val progress =
      new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

    private def prop(p: java.util.Properties, k: String): String =
      Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

    val spark: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, JobRec(e.jobId, prop(e.properties, "perfbench.op"),
          prop(e.properties, "perfbench.phase"), e.time, -1L,
          e.stageInfos.map(_.stageId)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.put(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId,
          prop(e.properties, "perfbench.op"),
          prop(e.properties, "perfbench.phase"),
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stages.get(e.stageInfo.stageId)).foreach(s =>
          s.completed = e.stageInfo.completionTime
            .getOrElse(System.currentTimeMillis()))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stages.get(e.stageId)).foreach { s =>
          val m = e.taskMetrics
          if (m != null) s.synchronized {
            s.taskRun += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.inBytes += m.inputMetrics.bytesRead
            s.inRows += m.inputMetrics.recordsRead
            s.shWrite += m.shuffleWriteMetrics.bytesWritten
            s.shRead += m.shuffleReadMetrics.totalBytesRead
            s.fetchWait += m.shuffleReadMetrics.fetchWaitTime
            s.spill += m.diskBytesSpilled
          }
        }
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = qes.add(qe)
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
  }

  /** Largest post-GC heap (all heap pools) over the collections since
    * the last `take()`, from the collectors' GC notifications. */
  final class HeapPeak {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private var peak = 0L
    private var gcs = 0
    private val listener = new NotificationListener {
      override def handleNotification(n: Notification, h: Any): Unit =
        if (n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val used = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            .getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapPeak.this.synchronized {
            peak = math.max(peak, used)
            gcs += 1
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter]
        .addNotificationListener(listener, null, null))

    /** (peak MB, collections) since the last call; resets both. */
    def take(): (Double, Int) = synchronized {
      val r = (peak / MB, gcs)
      peak = 0L
      gcs = 0
      r
    }
  }

  /** Physical operators of a (final, AQE-unwrapped) plan, each paired
    * with whether it runs inside a whole-stage-codegen stage. AQE and
    * stage wrappers are looked through, not counted. */
  def operators(p: SparkPlan, inCodegen: Boolean = false)
      : Seq[(SparkPlan, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan, inCodegen)
    case q: QueryStageExec => operators(q.plan, inCodegen)
    case w: WholeStageCodegenExec => operators(w.child, inCodegen = true)
    case i: InputAdapter => operators(i.child, inCodegen = false)
    case other => (other, inCodegen) +:
      other.children.flatMap(operators(_, inCodegen))
  }

  // ------------------------------------------------------------ running
  /** `analysisMs`: the returned DataFrame's own analysis phase (Spark
    * analyses eagerly when a DataFrame is built, inside construction);
    * read on traced passes only. */
  final case class OpRun(pass: Int, name: String, wallStartMs: Long,
      t0: Long, t1: Long, t2: Long, builds: Long, error: Option[String],
      sinkBytes: Long, sinkFiles: Int, analysisMs: Double)

  final case class PassRec(index: Int, traced: Boolean, startNs: Long,
      endNs: Long, ops: Seq[OpRun], heapMb: Double, peakHeapMb: Double,
      gcs: Int, cachedMb: Double, layers: Map[String, Double],
      spans: Seq[Map[String, Any]]) {
    def runS: Double = (endNs - startNs) / 1e9
  }

  def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")).toSeq
      (fs.map(Files.size).sum, fs.size)
    }

  def main(args: Array[String]): Unit = {
    val spec = readSpec(args(0))
    val out = Paths.get(spec.out)
    Files.createDirectories(out)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wall0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def nanoToWallMs(n: Long): Long = wall0 + (n - nano0) / 1000000L

    // host-drift controls, bracketing the run; their own time is kept
    // out of setup_s
    val probe0 = System.nanoTime()
    graft.Bench.calibMs() // JIT warm-up of the probe loop itself
    val calibBefore = graft.Bench.calibMs()
    val ioBefore = graft.Bench.ioCalibMbs(out.resolve("io"))
    val probeNs = System.nanoTime() - probe0

    val spark = graft.Sessions.local(spec.workload)
    val sc = spark.sparkContext
    val fns = graft.SparkEntry.queries
    val missing = spec.ops.map(_.name).filterNot(fns.contains)
    require(missing.isEmpty, s"unknown operations: ${missing.mkString(",")}")
    val sinkDir = out.resolve("sink")
    val cores = graft.Sessions.cpuCount

    val heapPeak = new HeapPeak
    val checkDir = out.resolve("check")
    val schemas = scala.collection.mutable.Map[String,
      org.apache.spark.sql.types.StructType]()
    def materialize(df: DataFrame, op: Op, check: Boolean): Unit =
      op.sink match {
      case "noop" if check =>
        df.write.parquet(checkDir.resolve(op.name).toString)
      case "noop" => df.write.format("noop").mode("overwrite").save()
      case "csv1" => graft.pipeline.FourCE.writeCsv(df,
        sinkDir.resolve(op.name).toString, singlePart = true)
      case "csvN" => graft.pipeline.FourCE.writeCsv(df,
        sinkDir.resolve(op.name).toString, singlePart = false)
      case s => throw new IllegalArgumentException(s"unknown sink $s")
    }

    /** One pass over every operation on a fresh session. */
    def runPass(index: Int, tracer: Option[Tracer],
        check: Boolean = false): PassRec = {
      val s = spark.newSession()
      // stream checkpoints stay inside the run's directory
      s.conf.set("graft.stream.checkpointRoot", out.resolve("ck").toString)
      tracer.foreach { t =>
        sc.addSparkListener(t.spark)
        s.listenerManager.register(t.qeListener)
        s.streams.addListener(t.streamListener)
      }
      val cgClasses0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgNs0 = WholeStageCodegenExec.codeGenTime
      val runs = ArrayBuffer[OpRun]()
      var barrierNs = 0L
      val qeOf = scala.collection.mutable.Map[String, Seq[QueryExecution]]()
      heapPeak.take()
      val start = System.nanoTime()
      spec.ops.foreach { op =>
        sc.setJobGroup(s"pass$index:${op.name}", op.name)
        sc.setLocalProperty("perfbench.op", op.name)
        sc.setLocalProperty("perfbench.phase", "construct")
        val qeBefore = tracer.map(_.qes.size).getOrElse(0)
        val b0 = graft.Memo.buildCount
        val wallStart = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        var df: DataFrame = null
        val err =
          try {
            df = fns(op.name)(s, spec.data)
            t1 = System.nanoTime()
            sc.setLocalProperty("perfbench.phase", "exec")
            materialize(df, op, check)
            None
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] ERR ${op.name}: $e")
              Some(e.toString)
          }
        val t2 = System.nanoTime()
        val builds = graft.Memo.buildCount - b0
        if (df != null && !schemas.contains(op.name))
          schemas(op.name) = df.schema
        // reading the tracker forces nothing; a phase that started before
        // this call (a DataFrame kept from earlier) is not this op's
        val analysisMs = if (tracer.isEmpty || df == null) 0.0
          else df.queryExecution.tracker.phases.get("analysis")
            .filter(_.startTimeMs >= wallStart)
            .map(_.durationMs.toDouble).getOrElse(0.0)
        // traced only: wait for this op's materializing
        // QueryExecution callback, so every callback up to it is this
        // op's; the wait is outside the op's timing and is subtracted
        // from the pass time below
        tracer.foreach { t =>
          val w0 = System.nanoTime()
          val deadline = w0 + 3000000000L
          val t1Wall = nanoToWallMs(t1)
          def arrived = t.qes.asScala.drop(qeBefore)
            .exists(isSink(_, t1Wall))
          while (err.isEmpty && !arrived && System.nanoTime() < deadline)
            Thread.sleep(1)
          qeOf(op.name) = t.qes.asScala.drop(qeBefore).toSeq
          barrierNs += System.nanoTime() - w0
        }
        val (bytes, files) =
          if (op.sink == "noop") (0L, 0)
          else dirBytes(sinkDir.resolve(op.name))
        runs += OpRun(index, op.name, wallStart, t0, t1, t2, builds, err,
          bytes, files, analysisMs)
      }
      sc.clearJobGroup()
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.phase", null)
      val end = System.nanoTime() - barrierNs
      val (layers, spans) = tracer match {
        case Some(t) =>
          quiesce(t)
          sc.removeSparkListener(t.spark)
          s.listenerManager.unregister(t.qeListener)
          s.streams.removeListener(t.streamListener)
          val cg = Map(
            "codegen.classes" ->
              (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgClasses0)
                .toDouble,
            "codegen.compile_ms" ->
              (WholeStageCodegenExec.codeGenTime - cgNs0) / 1e6)
          val (l, sp) = layerTotals(t, runs.toSeq, qeOf.toMap, cores,
            nanoToWallMs)
          (l ++ cg + ("trace.barrier_s" -> barrierNs / 1e9), sp)
        case None => (Map.empty[String, Double], Seq.empty)
      }
      val cachedMb = sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / MB
      // two collections around a pause: the first queues the pass's
      // dead broadcasts/shuffles for the ContextCleaner, the second
      // collects what the cleaner released
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heapMb =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
      spark.catalog.clearCache()
      // settle before the next pass: JIT compiler threads and the
      // cleaner finish the last pass's backlog instead of competing
      // with the next pass's first operation; GC notifications of the
      // collections above arrive meanwhile
      Thread.sleep(500)
      val (peakMb, gcs) = heapPeak.take()
      PassRec(index, tracer.isDefined, start, end, runs.toSeq, heapMb,
        math.max(peakMb, heapMb), gcs, cachedMb,
        layers + ("memo.cached_mb" -> cachedMb), spans)
    }

    // warm-up: first-pass cold costs (JIT, codegen, side stores, first
    // reads of every input) land here, inside setup_s. The first pass
    // saves the noop results for the check; the later ones run the real
    // sinks and let the JIT finish the code the first one made hot, so
    // the timed passes start warm
    val warm = (1 to spec.warm).map(i =>
      runPass(i - 1 - spec.warm, None, check = i == 1))
    val setupS = (nanoToWallMs(System.nanoTime()) - jvmStartMs) / 1e3 -
      probeNs / 1e9

    val passes = ArrayBuffer[PassRec]()
    val timed0 = System.nanoTime()
    var p = 0
    // traced runs alternate untraced/traced passes, U,T,U,..., so the
    // untraced passes bracket the traced ones
    while (p < spec.minPasses ||
        (System.nanoTime() - timed0) / 1e9 < spec.seconds) {
      val tracer = if (spec.trace && p % 2 == 1) Some(new Tracer) else None
      passes += runPass(p, tracer)
      p += 1
    }

    // CSV outputs of the last timed pass, read back with the result's
    // schema into parquet for the oracle compare
    val cs = spark.newSession()
    val checks = spec.ops.map { op =>
      val err = if (op.sink == "noop")
        warm.head.ops.find(_.name == op.name).flatMap(_.error)
      else try {
        cs.read.schema(schemas(op.name)).option("header", "true")
          .csv(sinkDir.resolve(op.name).toString)
          .write.parquet(checkDir.resolve(op.name).toString)
        None
      } catch { case e: Throwable => Some(e.toString) }
      Map("name" -> op.name, "error" -> err)
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(checkDir.resolve("oracle_sql.json"), json(
      spec.ops.flatMap(o => oracle.get(o.name).map(o.name -> _)).toMap))

    val probe1 = System.nanoTime()
    val calibAfter = graft.Bench.calibMs()
    val ioAfter = graft.Bench.ioCalibMbs(out.resolve("io"))
    val probeEndNs = System.nanoTime() - probe1

    def opJson(r: OpRun): Map[String, Any] = Map(
      "pass" -> r.pass, "name" -> r.name,
      "construct_s" -> (r.t1 - r.t0) / 1e9, "total_s" -> (r.t2 - r.t0) / 1e9,
      "builds" -> r.builds, "error" -> r.error,
      "sink_bytes" -> r.sinkBytes, "sink_files" -> r.sinkFiles)
    def passJson(p: PassRec): Map[String, Any] = Map(
      "index" -> p.index, "traced" -> p.traced, "run_s" -> p.runS,
      "heap_mb" -> p.heapMb, "peak_heap_mb" -> p.peakHeapMb,
      "gcs" -> p.gcs, "cached_mb" -> p.cachedMb,
      "layers" -> p.layers, "ops" -> p.ops.map(opJson),
      "op_layers" -> p.spans.map(sp => Map("name" -> sp("name"),
        "wall_ms" -> sp("wall_ms"), "self_ms" -> sp("self_ms"))))
    val result = Map(
      "workload" -> spec.workload, "cores" -> cores,
      "setup_s" -> setupS,
      "spark_version" -> spark.version,
      "host" -> Map("calib_ms" -> Seq(calibBefore, calibAfter),
        "io_mbs" -> Seq(ioBefore, ioAfter),
        "probe_s" -> Seq(probeNs / 1e9, probeEndNs / 1e9)),
      "warm" -> warm.map(passJson), "passes" -> passes.map(passJson),
      "checks" -> checks)
    Files.writeString(out.resolve("result.json"), json(result))
    if (spec.trace)
      Files.writeString(out.resolve("trace.json"), json(Map(
        "workload" -> spec.workload,
        "passes" -> passes.filter(_.traced).map(p =>
          Map("index" -> p.index, "spans" -> p.spans)))))

    sc.setLogLevel("OFF")
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
    System.out.flush()
    sys.exit(0)
  }

  /** The materializing write's own QueryExecution: a write command
    * (V2 noop write or V1 file write) analysed after construction
    * returned at `t1Wall`. `DataFrameWriter` runs this new
    * QueryExecution, so phases come from it, not `df.queryExecution`. */
  def isSink(qe: QueryExecution, t1Wall: Long): Boolean = {
    val n = qe.logical.nodeName
    (n.contains("Append") || n.contains("Overwrite") ||
      n.contains("InsertInto") || n.contains("Write")) &&
      qe.tracker.phases.get("analysis").exists(_.startTimeMs >= t1Wall)
  }

  /** Wait until the listener bus has delivered every job end and the
    * stream progress queue has been still for 200 ms (max 5 s). */
  def quiesce(t: Tracer): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var lastP = -1
    var still = 0
    while (System.nanoTime() < deadline && still < 20) {
      val pending = t.jobs.values.asScala.count(_.end < 0)
      val np = t.progress.size
      if (pending == 0 && np == lastP) still += 1 else still = 0
      lastP = np
      Thread.sleep(10)
    }
  }

  /** Per-layer totals for one traced pass, plus one span per operation
    * with construct / catalyst / exec / sink children and per-job and
    * per-stage spans from listener timestamps. */
  def layerTotals(t: Tracer, runs: Seq[OpRun],
      qeOf: Map[String, Seq[QueryExecution]], cores: Int, toWall: Long => Long)
      : (Map[String, Double], Seq[Map[String, Any]]) = {
    val jobs = t.jobs.values.asScala.toSeq.sortBy(_.id)
    val stages = t.stages.values.asScala.toSeq.sortBy(_.id)
    val acc = scala.collection.mutable.Map[String, Double]()
      .withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    var skew = 1.0
    val spans = runs.map { r =>
      val opJobs = jobs.filter(_.op == r.name)
      val execJobs = opJobs.filter(_.phase == "exec")
      val execStages = stages.filter(s => s.op == r.name &&
        s.phase == "exec")
      // exec self-time: first materializing job start to last job end,
      // driver-side gaps between the plan's jobs (AQE stage
      // re-planning, broadcast waits) included
      val execMs =
        if (execJobs.isEmpty) 0.0
        else (execJobs.map(j => math.max(j.end, j.start)).max -
          execJobs.map(_.start).min).toDouble
      val writeQe = qeOf.getOrElse(r.name, Nil).reverse
        .find(isSink(_, toWall(r.t1)))
      val phases = writeQe.map(_.tracker.phases).getOrElse(Map.empty)
      def phase(n: String): Double =
        phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      // analysis: the DataFrame's own (inside construction) plus the
      // write command's; optimization and planning: the write's
      val analysisMs = r.analysisMs + phase("analysis")
      val catalystMs = analysisMs + phase("optimization") +
        phase("planning")
      val ops = writeQe.toSeq.flatMap(q => operators(q.executedPlan))
        .filterNot { case (o, _) =>
          o.nodeName.contains("Write") || o.nodeName.contains("Append") ||
            o.nodeName.contains("Overwrite") || o.nodeName.contains("Command")
        }
      val nonCodegen = ops.count { case (o, cg) => !cg &&
        !o.isInstanceOf[Exchange] && !o.nodeName.startsWith("Reused") &&
        !o.nodeName.startsWith("AQEShuffleRead") }
      val broadcastBytes = ops.collect {
        case (b: BroadcastExchangeLike, _) =>
          b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      val wallMs = (r.t2 - r.t0) / 1e6
      val constructMs = (r.t1 - r.t0) / 1e6 - r.analysisMs
      val t2Wall = toWall(r.t2)
      // sink self-time: after the last materializing job ends (commit,
      // rename), for file sinks only
      val lastExecEnd = (execJobs.map(_.end) :+ toWall(r.t1)).max
      val sinkMs =
        if (r.sinkFiles > 0) math.max(0L, t2Wall - lastExecEnd).toDouble
        else 0.0
      val otherMs = wallMs - constructMs - catalystMs - execMs - sinkMs
      add("construct.s", constructMs / 1e3)
      add("construct.jobs", opJobs.count(_.phase == "construct"))
      add("memo.builds", r.builds)
      add("catalyst.s", catalystMs / 1e3)
      add("catalyst.analysis_ms", analysisMs)
      add("catalyst.optimization_ms", phase("optimization"))
      add("catalyst.planning_ms", phase("planning"))
      add("catalyst.plan_nodes", ops.size)
      add("catalyst.non_codegen_ops", nonCodegen)
      add("exec.s", execMs / 1e3)
      add("exec.jobs", execJobs.size)
      add("exec.stages", execStages.size)
      val submitted = stages.map(_.id).toSet
      add("exec.skipped_stages",
        execJobs.flatMap(_.stageIds).distinct.count(!submitted(_)))
      execStages.foreach { s =>
        add("exec.tasks", s.taskRun.size)
        add("exec.task_run_ms", s.taskRun.sum)
        add("exec.task_cpu_ms", s.cpuNs / 1e6)
        add("exec.gc_ms", s.gcMs)
        add("exec.input_mb", s.inBytes / MB)
        add("exec.input_rows", s.inRows)
        add("exec.shuffle_write_mb", s.shWrite / MB)
        add("exec.shuffle_read_mb", s.shRead / MB)
        add("exec.shuffle_wait_ms", s.fetchWait)
        add("exec.spill_mb", s.spill / MB)
        if (s.taskRun.size >= 2) {
          val sorted = s.taskRun.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          skew = math.max(skew, sorted.last.toDouble / med)
        }
      }
      add("exec.broadcast_mb", broadcastBytes / MB)
      add("sink.s", sinkMs / 1e3)
      add("sink.output_mb", r.sinkBytes / MB)
      add("sink.files", r.sinkFiles)
      add("other.s", otherMs / 1e3)
      add("op.wall_s", wallMs / 1e3)
      val startWall = r.wallStartMs
      Map[String, Any](
        "name" -> r.name, "group" -> s"pass${r.pass}:${r.name}",
        "start_ms" -> startWall, "wall_ms" -> wallMs,
        "error" -> r.error,
        "self_ms" -> Map("construct" -> constructMs,
          "catalyst" -> catalystMs, "exec" -> execMs, "sink" -> sinkMs,
          "other" -> otherMs),
        "children" -> Seq(
          Map("layer" -> "construct", "ms" -> constructMs,
            "jobs" -> opJobs.filter(_.phase == "construct").map(jobSpan(
              _, stages))),
          Map("layer" -> "catalyst", "ms" -> catalystMs,
            "phases" -> (phases.map { case (k, v) => k -> v.durationMs } +
              ("analysis" -> analysisMs))),
          Map("layer" -> "exec", "ms" -> execMs,
            "jobs" -> execJobs.map(jobSpan(_, stages))),
          Map("layer" -> "sink", "ms" -> sinkMs,
            "bytes" -> r.sinkBytes, "files" -> r.sinkFiles)))
    }
    val execTaskMs = acc("exec.task_run_ms")
    acc("exec.task_skew") = skew
    acc("exec.idle_frac") =
      if (acc("exec.s") > 0)
        math.max(0.0, 1.0 - execTaskMs / (acc("exec.s") * 1e3 * cores))
      else 0.0
    // stream progress of every query the pass drained (all zero when
    // the pass ran no stream)
    Seq("batches", "input_rows", "trigger_ms", "add_batch_ms",
      "latest_offset_ms", "query_planning_ms", "wal_commit_ms",
      "commit_offsets_ms", "state_commit_ms", "state_rows", "state_mb")
      .foreach(k => add(s"stream.$k", 0.0))
    val progress = t.progress.asScala.toSeq.map(_.progress)
    progress.foreach { pr =>
      add("stream.batches", 1)
      add("stream.input_rows", pr.numInputRows.toDouble)
      val d = pr.durationMs.asScala
      def dur(k: String): Double = d.get(k).map(_.toDouble).getOrElse(0.0)
      add("stream.trigger_ms", dur("triggerExecution"))
      add("stream.add_batch_ms", dur("addBatch"))
      add("stream.latest_offset_ms", dur("latestOffset"))
      add("stream.query_planning_ms", dur("queryPlanning"))
      add("stream.wal_commit_ms", dur("walCommit"))
      add("stream.commit_offsets_ms", dur("commitOffsets"))
      pr.stateOperators.foreach(s => add("stream.state_commit_ms",
        s.commitTimeMs.toDouble))
    }
    // state size: the last progress of each query run
    progress.groupBy(_.runId).values.map(_.maxBy(_.batchId)).foreach { pr =>
      pr.stateOperators.foreach { s =>
        add("stream.state_rows", s.numRowsTotal.toDouble)
        add("stream.state_mb", s.memoryUsedBytes / MB)
      }
    }
    (acc.toMap, spans)
  }

  def jobSpan(j: JobRec, stages: Seq[StageRec]): Map[String, Any] = Map(
    "job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
    "stages" -> stages.filter(s => j.stageIds.contains(s.id)).map(s =>
      Map("stage" -> s.id, "start_ms" -> s.submitted,
        "end_ms" -> s.completed, "tasks" -> s.taskRun.size)))
}
