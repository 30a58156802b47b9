package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Per-user running state for q_stream_state (T6). */
case class UserAgg(user_id: Long, n_events: Long, ever_error: Boolean)

/** Open-session buffer for q_stream_timeout (timestamps in µs). */
case class SessionBuf(start_us: Long, last_us: Long, n: Long)

/** A closed session emitted by q_stream_timeout. */
case class SessionOut(user_id: Long, start_us: Long, n_events: Long)

/** T6b: the same per-user running aggregate as a Spark 4
  * `StatefulProcessor` for `transformWithState` — the successor API to
  * mapGroupsWithState (typed state handles, TTL support, timers), backed
  * by the RocksDB state store. */
class UserAggProcessor
    extends StatefulProcessor[Long, (Long, String), UserAgg] {
  @transient private var state: ValueState[UserAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserAgg]("agg",
      Encoders.product[UserAgg], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[UserAgg] = {
    var agg = if (state.exists()) state.get() else UserAgg(key, 0L, false)
    rows.foreach { case (_, et) =>
      agg = UserAgg(key, agg.n_events + 1, agg.ever_error || et == "error")
    }
    state.update(agg)
    Iterator.single(agg)
  }
}

/** E150: per-key KLL quantile sketch maintained incrementally in
  * `transformWithState` ValueState — the streaming member of the
  * mergeable-sketch family (E61 is the batch rollup): the state is the
  * serialized sketch itself (bounded ~KB per key regardless of stream
  * length — the whole point of sketch state vs buffering values), each
  * micro-batch folds its rows in and emits (key, n_seen, bytes); the
  * final batch-side step picks each key's last emission and extracts
  * quantiles with Spark's `kll_sketch_get_quantile_double`, the same
  * extraction batch uses (the bytes are a DataSketches
  * `KllDoublesSketch`, k = 200, the format Spark's KLL functions
  * read). */
class KllStateProcessor
    extends StatefulProcessor[String, (String, Double),
      (String, Long, Array[Byte])] {
  @transient private var state: ValueState[Array[Byte]] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[Array[Byte]]("kll",
      Encoders.BINARY, TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, Double)],
      timerValues: TimerValues): Iterator[(String, Long, Array[Byte])] = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val sk =
      if (state.exists())
        KllDoublesSketch.heapify(Memory.wrap(state.get()))
      else KllDoublesSketch.newHeapInstance(200)
    rows.foreach(r => sk.update(r._2))
    val bytes = sk.toByteArray
    state.update(bytes)
    Iterator.single((key, sk.getN, bytes))
  }
}

/** Structured Streaming operators (SURVEY.md §2.10, T1–T6). The
  * reference is pure batch re-run per refresh; Structured Streaming's
  * incremental-view model is the streaming equivalent of that refresh
  * (same query, incrementally maintained).
  *
  * Execution contract: each query runs the stream from the parquet file
  * source to completion into an in-memory sink (`processAllAvailable`)
  * and returns the materialized result as a batch DataFrame — so the
  * driver's Verify/Bench harness treats streaming queries exactly like
  * batch ones, and most get a full DuckDB oracle (the fixture is finite,
  * so the converged streaming result equals the batch answer).
  *
  * Scale notes: all aggregations are keyed (event_type / user_id /
  * window), so state is partitioned across executors by group key;
  * nothing accumulates unbounded per key. The memory sink is a harness
  * device — production sinks would be kafka/parquet with checkpoints.
  */
/** Shared harness runner: run a streaming DF to completion into a memory
  * sink and return the materialized table, or through a `foreachBatch`
  * writer (unique name per invocation — safe to re-run in one session). */
object StreamRun {
  private val runId = new AtomicInteger(0)

  /** State-store partition count for harness streams. Stateful
    * operators allocate one state-store instance per shuffle partition
    * per operator (×2 for stream-stream joins), and each instance pays
    * store lifecycle (init/commit/snapshot) every micro-batch — at 32
    * partitions that fixed cost dominates these single-batch fixture
    * streams. Measured knee at this state volume (round-9 sweep over
    * the 6 heaviest stateful queries, sf0.1, min-of-2): 8 parts →
    * 16.0 s, 4 → 11.8 s, 2 → 12.1 s (below 4 the aggregation work
    * itself serializes), so the default is 4. A second candidate —
    * disabling no-data micro-batches for immediate-emission queries —
    * was measured WORSE (q_stream_join 3.1→4.6 s, q_stream_dedup_wm
    * 1.3→3.9 s: `processAllAvailable` then stalls on watermark-commit
    * polling) and rejected. This is the standard sizing rule, not a
    * bench trick: state partitions should match state
    * volume/parallelism. Every harness stream carries the same small
    * fixture state, so one constant serves them all; a production
    * stream sizes `spark.sql.shuffle.partitions` to its own load before
    * its first start, which bakes the count into its checkpoint. */
  private[streaming] val stateParts = 4

  /** Checkpoint root for the harness's TRANSIENT streams: the JVM temp
    * dir, or `graft.stream.checkpointRoot` where set (perfbench points
    * it into its run directory). These checkpoints have no durability
    * contract BY CONSTRUCTION — the memory sink's results die with the
    * session — and are deleted in `finally`. Their per-batch cost is
    * not the disk: tmpfs and disk measured the same, both while Hadoop
    * forked a `chmod`/`readlink` per checkpoint file (`walCommit` 36 ms
    * on both) and after (see `Sessions`). A production job
    * with real resume semantics passes its own durable
    * `checkpointLocation` (q_stream_resume and the file-sink row do
    * exactly that and are untouched). */
  private def ckRoot(spark: SparkSession): String =
    spark.conf.getOption("graft.stream.checkpointRoot")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Runs `df` to completion through the sink `writer` configures and
    * returns when every available row is processed. NOTE: the
    * shuffle-partition override below mutates the session-global conf
    * for the duration of the stream (restored in `finally`) — the
    * streaming plan is built against `df`'s own session, so a cloned
    * `newSession` could not govern it. This assumes no concurrent
    * query planning on the same session (true for the sequential
    * Verify/Bench harness); a multi-tenant caller should pass a
    * dedicated session per stream. `name` keys the checkpoint, which
    * is transient and deleted on return.
    *
    * With `availableNow` the query runs under `Trigger.AvailableNow`:
    * it drains exactly the backlog present at start in bounded
    * micro-batches (the source's admission options cap each batch) and
    * TERMINATES ITSELF — `awaitTermination`, not
    * `processAllAvailable`, is then the completion contract. */
  private def drain(spark: SparkSession, df: DataFrame, name: String,
      availableNow: Boolean = false)(
      writer: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val ck = s"${ckRoot(spark)}/graft-ck-$name"
    spark.conf.set(key, stateParts.toString)
    // the query is stopped in FINALLY (ADVICE r19): if the completion
    // wait throws, the old code deleted the checkpoint while the query
    // thread was still live and writing to it — confusing secondary
    // failures plus a leaked running query. AvailableNow self-terminates
    // on success, but a failed awaitTermination must not leave a live
    // query either.
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      val w = writer(df.writeStream.option("checkpointLocation", ck))
      q = (if (availableNow)
        w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      else w).start()
      if (availableNow) q.awaitTermination() else q.processAllAvailable()
    } finally {
      if (q != null)
        try q.stop()
        catch { case scala.util.control.NonFatal(_) => () }
      spark.conf.set(key, prev)
      Tables.deleteTree(ck)
    }
  }

  /** Runs `df` to a memory-sink table and returns it (see `drain`). */
  def toTable(spark: SparkSession, df: DataFrame, base: String,
      mode: String, availableNow: Boolean = false): DataFrame = {
    val name = s"${base}_${runId.incrementAndGet()}"
    drain(spark, df, name, availableNow)(
      _.format("memory").queryName(name).outputMode(mode))
    spark.table(name)
  }

  /** Runs `df` to completion through `fn`, called once per micro-batch
    * with the batch and its id (see `drain`). */
  def foreachBatch(spark: SparkSession, df: DataFrame, base: String)(
      fn: (DataFrame, Long) => Unit): Unit =
    drain(spark, df, s"${base}_${runId.incrementAndGet()}")(
      _.foreachBatch(fn))

  /** The deterministic 50k-row series of `graft.sources.SeriesSource`
    * as a stream over four slices, admitted 10k rows per micro-batch
    * (five batches). */
  def series(spark: SparkSession): DataFrame =
    spark.readStream.format("graft.sources.SeriesSource")
      .option("rows", "50000").option("slices", "4")
      .option("maxRowsPerBatch", "10000").load()
}

object Streams {

  /** T1: tumbling 1-hour window counts per event_type. */
  val qStreamTumbling = Q("q_stream_tumbling",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "events")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select($"window.start".as("window_start"), $"event_type", $"n")
      StreamRun.toTable(spark, s, "t_tumbling", "complete")
        .orderBy($"window_start", $"event_type")
    },
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
           |         AS window_start,
           |       event_type, count(*) AS n
           |FROM events GROUP BY 1, 2
           |ORDER BY window_start, event_type""".stripMargin))

  /** T2: sliding window (1 hour, slide 15 min) — every event lands in 4
    * overlapping windows. */
  val qStreamSliding = Q("q_stream_sliding",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "events")
        .groupBy(window($"ts", "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"))
        .select($"window.start".as("window_start"), $"n")
      StreamRun.toTable(spark, s, "t_sliding", "complete")
        .orderBy($"window_start")
    },
    Some("""SELECT time_bucket(INTERVAL 15 MINUTE,
           |         CAST(ts AS TIMESTAMP))
           |         - k * INTERVAL 15 MINUTE AS window_start,
           |       count(*) AS n
           |FROM events, (SELECT unnest(range(0, 4)) AS k) kk
           |GROUP BY 1 ORDER BY window_start""".stripMargin))

  /** T3: session windows (30-minute gap) per user. */
  val qStreamSession = Q("q_stream_session",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"session_window.start".as("session_start"),
          $"user_id", $"n_events")
      StreamRun.toTable(spark, s, "t_session", "append")
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH marked AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
           |    CASE WHEN CAST(ts AS TIMESTAMP)
           |        - lag(CAST(ts AS TIMESTAMP)) OVER
           |          (PARTITION BY user_id ORDER BY ts, event_id)
           |        > INTERVAL 30 MINUTE OR
           |      lag(ts) OVER (PARTITION BY user_id
           |        ORDER BY ts, event_id) IS NULL
           |    THEN 1 ELSE 0 END AS new_s
           |  FROM events
           |), sess AS (
           |  SELECT user_id, ts,
           |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS sid
           |  FROM marked
           |)
           |SELECT min(ts) AS session_start, user_id,
           |       count(*) AS n_events
           |FROM sess GROUP BY user_id, sid
           |HAVING max(ts) + INTERVAL 30 MINUTE <=
           |  (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
           |   FROM events)
           |ORDER BY user_id, session_start""".stripMargin))

  /** T4: watermark + late-data semantics — append mode emits only
    * windows finalized below the final watermark (max ts − 1 hour);
    * the oracle reproduces exactly that subset. */
  val qStreamWatermark = Q("q_stream_watermark",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select($"window.start".as("window_start"), $"n")
      StreamRun.toTable(spark, s, "t_watermark", "append")
        .orderBy($"window_start")
    },
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
           |         AS window_start,
           |       count(*) AS n
           |FROM events
           |GROUP BY 1
           |HAVING window_start + INTERVAL 1 HOUR <=
           |  (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
           |   FROM events)
           |ORDER BY window_start""".stripMargin))

  /** T5: stateful exact dedup on event_id across the stream. */
  val qStreamDedup = Q("q_stream_dedup",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type")
        .dropDuplicates("event_id")
      StreamRun.toTable(spark, s, "t_dedup", "append")
        .orderBy($"event_id")
    },
    Some("""SELECT DISTINCT event_id, user_id, event_type
           |FROM events ORDER BY event_id""".stripMargin))

  /** T5b: `dropDuplicatesWithinWatermark` (Spark 3.5+) — the
    * BOUNDED-STATE dedup: a key's state is evicted once the watermark
    * passes its event time, so dedup is exact only within the
    * watermark horizon (the at-least-once sink-dedup contract — at
    * 100 TB/day the unbounded T5 state would grow forever; this is the
    * production variant). First occurrence per key emits immediately;
    * on the finite single-batch fixture no key recurs after eviction,
    * so the emitted set equals exact distinct-per-key firsts, which
    * the oracle computes. */
  val qStreamDedupWm = Q("q_stream_dedup_wm",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "events")
        .select($"user_id", $"event_type", $"ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      StreamRun.toTable(spark, s, "t_dedup_wm", "append")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
           |FROM events GROUP BY event_type
           |ORDER BY event_type""".stripMargin))

  /** T5c: CHAINED stateful operators in ONE streaming query —
    * `dropDuplicatesWithinWatermark` feeding a tumbling-window count,
    * the composition a real ingest topology runs (dedupe the at-least-
    * once feed, then aggregate it) and the one shape T1–T6 prove only
    * in isolation. Spark 3.5+ supports multiple stateful operators per
    * query when they share the event-time watermark. The dedup key
    * INCLUDES the event's day: which physical row survives dedup is
    * processing-order-dependent, so a bare (user, type) key would let
    * the survivor's timestamp — and thus its window — vary run to run;
    * keyed by (user, type, day), every candidate survivor lands in the
    * SAME day window and the downstream count ("distinct active
    * (user, type) pairs per day") is deterministic. Append mode emits
    * only windows finalized below the final watermark; the oracle
    * reproduces exactly that subset. On the finite single-file fixture
    * the stream converges in one batch, so no key recurs after state
    * eviction — the same argument as T5b. */
  val qStreamDedupAgg = Q("q_stream_dedup_agg",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "events")
        .select($"user_id", $"event_type", $"ts",
          to_date($"ts").as("day"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
        .groupBy(window($"ts", "1 day"))
        .agg(count(lit(1)).as("n_active"))
        .select($"window.start".as("window_start"), $"n_active")
      StreamRun.toTable(spark, s, "t_dedup_agg", "append")
        .orderBy($"window_start")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
           |         date_trunc('day', CAST(ts AS TIMESTAMP))
           |           AS window_start
           |  FROM events
           |), active AS (
           |  SELECT DISTINCT user_id, event_type, window_start FROM ev
           |)
           |SELECT window_start, count(*) AS n_active
           |FROM active
           |GROUP BY 1
           |HAVING window_start + INTERVAL 1 DAY <=
           |  (SELECT max(ts) - INTERVAL 1 HOUR FROM ev)
           |ORDER BY window_start""".stripMargin))

  /** T6: arbitrary stateful processing (mapGroupsWithState): per-user
    * running event count + ever-seen-error flag — the streaming version
    * of the cohort's severity state. */
  val qStreamState = Q("q_stream_state",
    (spark, sfDir) => {
      import spark.implicits._
      val updateFn: (Long, Iterator[(Long, String)],
          GroupState[UserAgg]) => UserAgg =
        (uid, rows, state) => {
          var agg = state.getOption.getOrElse(UserAgg(uid, 0L, false))
          rows.foreach { case (_, et) =>
            agg = UserAgg(uid, agg.n_events + 1,
              agg.ever_error || et == "error")
          }
          state.update(agg)
          agg
        }
      val s = Tables.readStream(spark, sfDir, "events")
        .select($"user_id", $"event_type").as[(Long, String)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateFn)
        .toDF()
      // update-mode emission: the last row per user is the final state
      StreamRun.toTable(spark, s, "t_state", "update")
        .groupBy($"user_id")
        .agg(max($"n_events").as("n_events"),
          max($"ever_error").as("ever_error"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, count(*) AS n_events,
           |       max(event_type = 'error') AS ever_error
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** T6b: q_stream_state's semantics through the Spark 4
    * `transformWithState` API (typed ValueState handle, RocksDB state
    * store — the provider the API requires). State is partitioned by
    * group key exactly like mapGroupsWithState; RocksDB keeps it
    * off-heap and spillable, which is the store you'd run at 100 TB/day
    * anyway. The provider override is scoped to this query and restored
    * after the stream finishes. */
  val qStreamTws = Q("q_stream_tws",
    (spark, sfDir) => {
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val s = Tables.readStream(spark, sfDir, "events")
          .select($"user_id", $"event_type").as[(Long, String)]
          .groupByKey(_._1)
          .transformWithState(new UserAggProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF()
        StreamRun.toTable(spark, s, "t_tws", "update")
          .groupBy($"user_id")
          .agg(max($"n_events").as("n_events"),
            max($"ever_error").as("ever_error"))
          .orderBy($"user_id")
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    },
    Some("""SELECT user_id, count(*) AS n_events,
           |       max(event_type = 'error') AS ever_error
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** T6c: event-time TIMEOUT state — the corner T6/T6b leave
    * unexercised: state that must EXPIRE and flush itself when the
    * watermark passes it, with no further input for its key (the
    * session-closing shape every streaming sessionizer needs;
    * `session_window` T3 proves the built-in form, this is the
    * arbitrary-state form with custom per-session payload).
    * Per user: sort the batch's events in-function (the iterator
    * carries no order guarantee), split on >1800 s gaps, emit every
    * intra-batch CLOSED session immediately (append mode), hold the
    * open tail session in state with
    * `setTimeoutTimestamp(last_event + gap)`; the no-data micro-batch
    * after the file batch fires `hasTimedOut` for every session whose
    * timeout fell behind the final watermark (max ts − 1 h) and
    * flushes it. Sessions still open at end-of-stream are correctly
    * ABSENT — the oracle replicates exactly that emission subset with
    * the sessionize SQL plus the watermark cutoff, at the engine's
    * millisecond timeout granularity (µs floor-divided by 1000, as
    * `setTimeoutTimestamp` truncates). Determinism rests on the
    * fixture's single-file single-data-batch execution, the same
    * contract the dedup/outer-join streams document.
    *
    * Scale notes: per-key per-batch events are buffered for the sort —
    * bounded by key×batch volume, the standard flatMapGroupsWithState
    * contract; state itself is one open session per user. */
  val qStreamTimeout = Q("q_stream_timeout",
    (spark, sfDir) => {
      import spark.implicits._
      val gapUs = 1800000000L
      // the tuple carries the raw ts column UNUSED: the event-time-
      // timeout validation requires the watermarked attribute to be
      // present in the flatMap child's output, and projecting it away
      // (keeping only unix_micros(ts)) strips the delay metadata
      val fn: (Long, Iterator[(Long, Long, Long, java.sql.Timestamp)],
          GroupState[SessionBuf]) => Iterator[SessionOut] =
        (uid, rows, state) => {
          if (state.hasTimedOut) {
            val b = state.get
            state.remove()
            Iterator.single(SessionOut(uid, b.start_us, b.n))
          } else {
            val evs = rows.map(r => (r._2, r._3)).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var buf = state.getOption.orNull
            evs.foreach { case (us, _) =>
              if (buf == null) buf = SessionBuf(us, us, 1)
              else if (us - buf.last_us > gapUs) {
                out += SessionOut(uid, buf.start_us, buf.n)
                buf = SessionBuf(us, us, 1)
              } else buf = SessionBuf(buf.start_us, us, buf.n + 1)
            }
            state.update(buf)
            state.setTimeoutTimestamp(buf.last_us / 1000 + 1800000L)
            out.iterator
          }
        }
      val s = Tables.readStream(spark, sfDir, "events")
        .withWatermark("ts", "1 hour")
        .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
          $"ts")
        .as[(Long, Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(fn)
        .toDF()
      StreamRun.toTable(spark, s, "t_timeout", "append")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_closed"),
          sum($"n_events").as("n_events"),
          min($"start_us").as("first_start_us"))
        .orderBy($"user_id")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           |         event_id
           |  FROM events
           |), mx AS (SELECT max(us) AS max_us FROM ev),
           |marked AS (
           |  SELECT user_id, us, event_id,
           |    CASE WHEN lag(us) OVER w IS NULL OR
           |      us - lag(us) OVER w > 1800000000
           |    THEN 1 ELSE 0 END AS new_s
           |  FROM ev
           |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
           |), sess AS (
           |  SELECT user_id, us,
           |    sum(new_s) OVER (PARTITION BY user_id
           |      ORDER BY us, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS sid
           |  FROM marked
           |), per AS (
           |  SELECT user_id, sid, min(us) AS start_us,
           |         max(us) AS last_us, count(*) AS n,
           |         max(sid) OVER (PARTITION BY user_id) AS max_sid
           |  FROM sess GROUP BY user_id, sid
           |), closed AS (
           |  SELECT p.* FROM per p, mx
           |  WHERE p.sid < p.max_sid
           |     OR (p.last_us // 1000) + 1800000 <
           |        (mx.max_us // 1000) - 3600000
           |)
           |SELECT user_id, count(*) AS n_closed,
           |       CAST(sum(n) AS BIGINT) AS n_events,
           |       min(start_us) AS first_start_us
           |FROM closed GROUP BY user_id
           |ORDER BY user_id""".stripMargin))

  /** T7 (extension): stream-stream interval join — the streaming form
    * of the cohort's entry join (purchase within 14 days after signup,
    * equi key user_id carried). Watermarks on both sides bound the join
    * state; on the finite fixture the converged result equals the batch
    * join, which the oracle computes. */
  /** T7b: stream-stream LEFT OUTER interval join — the "signup with no
    * purchase in the window" alerting shape. Matched pairs emit
    * immediately; a null-extended left row emits only when the global
    * watermark (min over both inputs' max(ts) − delay) passes the END
    * of its join window, i.e. the no-data micro-batch after the file
    * batch evicts closed-window state. The oracle replicates exactly
    * that emission subset: matched pairs plus unmatched signups whose
    * s_ts + window < least(max(signup ts), max(purchase ts)) − 1 h —
    * signups whose window is still open at end-of-stream are
    * correctly ABSENT from both sides. A 3-day window keeps the
    * expired-unmatched class non-empty at every sf (34/516/4754). */
  val qStreamJoinOuter = Q("q_stream_join_outer",
    (spark, sfDir) => {
      import spark.implicits._
      val ev = Tables.readStream(spark, sfDir, "events")
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id".as("s_user"), $"ts".as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = signups.join(purchases,
        $"s_user" === $"p_user" &&
          $"p_ts" > $"s_ts" &&
          $"p_ts" <= $"s_ts" + expr("INTERVAL 3 DAYS"),
        "left_outer")
      val out = StreamRun.toTable(spark, joined, "t_join_outer", "append")
      out.groupBy($"s_user".as("user_id"))
        .agg(count($"p_ts").as("n_matched"),
          count(when($"p_ts".isNull, 1)).as("n_expired"))
        .orderBy($"user_id")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
           |  FROM events
           |), s AS (
           |  SELECT user_id, ts FROM ev WHERE event_type = 'signup'
           |), p AS (
           |  SELECT user_id, ts FROM ev WHERE event_type = 'purchase'
           |), wm AS (
           |  SELECT least((SELECT max(ts) FROM s),
           |               (SELECT max(ts) FROM p))
           |         - INTERVAL 1 HOUR AS w
           |), m AS (
           |  SELECT s.user_id, 1 AS matched
           |  FROM s JOIN p ON p.user_id = s.user_id
           |   AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 3 DAY
           |), un AS (
           |  SELECT s.user_id, 0 AS matched FROM s, wm
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM p WHERE p.user_id = s.user_id
           |     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 3 DAY)
           |   AND s.ts + INTERVAL 3 DAY < wm.w
           |), allr AS (
           |  SELECT * FROM m UNION ALL SELECT * FROM un
           |)
           |SELECT user_id,
           |       count(CASE WHEN matched = 1 THEN 1 END) AS n_matched,
           |       count(CASE WHEN matched = 0 THEN 1 END) AS n_expired
           |FROM allr GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** T7c: stream-stream FULL OUTER interval join — completes the
    * streaming join family (inner T7, left-outer T7b). Emission is the
    * symmetric extension of T7b's rule: matched pairs immediately;
    * null-extended SIGNUPS when the global watermark passes the END of
    * their 3-day window (`s_ts + 3d < wm`); null-extended PURCHASES
    * when it passes the purchase itself (`p_ts < wm` — a purchase can
    * only match EARLIER signups, so its joinability closes at its own
    * timestamp, not timestamp+window). All three classes are non-empty
    * at every fixture sf (e.g. 2477/516/591 at sf0.01). */
  val qStreamJoinFull = Q("q_stream_join_full",
    (spark, sfDir) => {
      import spark.implicits._
      val ev = Tables.readStream(spark, sfDir, "events")
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id".as("s_user"), $"ts".as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = signups.join(purchases,
        $"s_user" === $"p_user" &&
          $"p_ts" > $"s_ts" &&
          $"p_ts" <= $"s_ts" + expr("INTERVAL 3 DAYS"),
        "full_outer")
      val out = StreamRun.toTable(spark, joined, "t_join_full", "append")
      out.groupBy(coalesce($"s_user", $"p_user").as("user_id"))
        .agg(
          count(when($"s_ts".isNotNull && $"p_ts".isNotNull, 1))
            .as("n_matched"),
          count(when($"p_ts".isNull, 1)).as("n_expired_signups"),
          count(when($"s_ts".isNull, 1)).as("n_expired_purchases"))
        .orderBy($"user_id")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
           |  FROM events
           |), s AS (
           |  SELECT user_id, ts FROM ev WHERE event_type = 'signup'
           |), p AS (
           |  SELECT user_id, ts FROM ev WHERE event_type = 'purchase'
           |), wm AS (
           |  SELECT least((SELECT max(ts) FROM s),
           |               (SELECT max(ts) FROM p))
           |         - INTERVAL 1 HOUR AS w
           |), m AS (
           |  SELECT s.user_id, 'm' AS cls
           |  FROM s JOIN p ON p.user_id = s.user_id
           |   AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 3 DAY
           |), un_s AS (
           |  SELECT s.user_id, 's' AS cls FROM s, wm
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM p WHERE p.user_id = s.user_id
           |     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 3 DAY)
           |   AND s.ts + INTERVAL 3 DAY < wm.w
           |), un_p AS (
           |  SELECT p.user_id, 'p' AS cls FROM p, wm
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM s WHERE s.user_id = p.user_id
           |     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 3 DAY)
           |   AND p.ts < wm.w
           |), allr AS (
           |  SELECT * FROM m
           |  UNION ALL SELECT * FROM un_s
           |  UNION ALL SELECT * FROM un_p
           |)
           |SELECT user_id,
           |       count(CASE WHEN cls = 'm' THEN 1 END) AS n_matched,
           |       count(CASE WHEN cls = 's' THEN 1 END)
           |         AS n_expired_signups,
           |       count(CASE WHEN cls = 'p' THEN 1 END)
           |         AS n_expired_purchases
           |FROM allr GROUP BY user_id ORDER BY user_id""".stripMargin))

  val qStreamJoin = Q("q_stream_join",
    (spark, sfDir) => {
      import spark.implicits._
      val ev = Tables.readStream(spark, sfDir, "events")
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id".as("s_user"), $"ts".as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = signups.join(purchases,
        $"s_user" === $"p_user" &&
          $"p_ts" > $"s_ts" &&
          $"p_ts" <= $"s_ts" + expr("INTERVAL 14 DAYS"))
      val out = StreamRun.toTable(spark, joined, "t_join", "append")
      out.groupBy($"s_user".as("user_id"))
        .agg(count(lit(1)).as("n_windowed_purchases"))
        .orderBy($"user_id")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
           |  FROM events
           |)
           |SELECT s.user_id, count(*) AS n_windowed_purchases
           |FROM ev s JOIN ev p
           |  ON s.event_type = 'signup' AND p.event_type = 'purchase'
           | AND p.user_id = s.user_id
           | AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 14 DAY
           |GROUP BY s.user_id ORDER BY s.user_id""".stripMargin))

  /** E101: **Trigger.AvailableNow incremental catch-up** — the batch
    * half of the lambda-free architecture: ONE streaming query
    * definition serves both the 24/7 low-latency deployment and the
    * scheduled catch-up job. AvailableNow processes exactly the
    * backlog present at start, in BOUNDED micro-batches (admission
    * control: `maxFilesPerTrigger` here caps each batch at 2 of the 8
    * backlog files, so state/memory never sees the whole 100 TB
    * backlog at once — the difference from a one-shot `Trigger.Once`,
    * which would), checkpoints between batches, then terminates on its
    * own. At scale this is how a nightly job drains a day of ingest
    * with streaming-exactly-once semantics and the same code as the
    * live stream. The aggregate is keyed (event_type), state is tiny
    * and partitioned; the finite fixture makes the converged result
    * equal the batch answer, which is the oracle. */
  val qStreamAvailableNow = Q("q_stream_available_now",
    (spark, sfDir) => {
      import spark.implicits._
      val dir = "target/stream/" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_") + "/avnow"
      graft.Memo.onceJvm(spark, s"load:avnow:$sfDir") {
        // 8-file backlog (one per hash partition) = 4 micro-batches
        Tables.read(spark, sfDir, "events")
          .repartition(8, $"event_id")
          .write.mode("overwrite").parquet(dir)
      }
      val src = spark.readStream.schema(Tables.events)
        .option("maxFilesPerTrigger", 2)
        .parquet(dir)
      val agg = src.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
      StreamRun.toTable(spark, agg, "t_avnow", "complete",
        availableNow = true)
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
           |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |         AS DOUBLE) AS sum_value
           |FROM events GROUP BY event_type ORDER BY event_type"""
      .stripMargin))

  /** E103: **exactly-once streaming file sink** — the production sink
    * the memory-sink harness queries deliberately avoid: a parquet
    * file sink whose `_spark_metadata` transaction log is the
    * exactly-once mechanism. Each committed micro-batch atomically
    * logs the files it wrote; a reader of the sink directory goes
    * THROUGH the log, so files from a failed/uncommitted batch are
    * invisible — at 100 TB this is what makes a crashed writer
    * restartable without dedup jobs downstream (the log + checkpoint
    * replay exactly the uncommitted batch, orphan files are ignored).
    * The query drains the fixture through the sink under AvailableNow,
    * then aggregates by READING BACK through the log; the oracle
    * aggregates the original fixture, so a lost batch, a doubled
    * batch, or a reader that picked up uncommitted files all fail the
    * hash. Dirs are wiped before the (memoized) run: checkpoint
    * offsets name source files by path, and a regenerated fixture at
    * the same path must never be silently skipped as already-read
    * (FIXTURES.md §1's drift caution, applied to sink state). */
  val qStreamFileSink = Q("q_stream_file_sink",
    (spark, sfDir) => {
      import spark.implicits._
      val base = "target/stream/" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_") + "/filesink"
      val outDir = s"$base/out"
      graft.Memo.onceJvm(spark, s"load:filesink:$sfDir") {
        Tables.deleteTree(base)
        val s = Tables.readStream(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
        val q = s.writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(outDir) // reads THROUGH _spark_metadata
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
           |FROM events GROUP BY event_type ORDER BY event_type"""
      .stripMargin))

  /** E150: **streaming quantile sketch** — per-type p50/p95 maintained
    * incrementally: the KLL sketch (E61's batch family) lives IN the
    * stream state, so state stays ~KB per key at any stream length
    * (buffering raw values for exact streaming quantiles is unbounded
    * state — the disallowed design). Runs under the RocksDB provider
    * like the T6b twin; the final emission per key (max n_seen) feeds
    * the same `kll_sketch_get_quantile_double` extraction batch uses,
    * and the oracle is the E61-style driver-gated bounded pass: the
    * engine checks its estimates against exact percentile BANDS (±3.5
    * rank points — the k=200 guarantee with margin) and ships booleans
    * the oracle expects TRUE, alongside exact values it recomputes. */
  val qStreamQuantile = Q("q_stream_quantile",
    (spark, sfDir) => {
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val s = Tables.readStream(spark, sfDir, "events")
          .select($"event_type", $"value").as[(String, Double)]
          .groupByKey(_._1)
          .transformWithState(new KllStateProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF("event_type", "n_seen", "sk")
        val emitted = StreamRun.toTable(spark, s, "t_kll", "update")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type").orderBy($"n_seen".desc)
        val finals = emitted
          .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .select($"event_type", $"n_seen",
            kll_sketch_get_quantile_double($"sk", lit(0.5)).as("p50"),
            kll_sketch_get_quantile_double($"sk", lit(0.95)).as("p95"))
        val exact = Tables.read(spark, sfDir, "events")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_exact"),
            round(expr("percentile(value, 0.5D)"), 6).as("exact_p50"),
            round(expr("percentile(value, 0.95D)"), 6).as("exact_p95"),
            expr("percentile(value, 0.465D)").as("p50_lo"),
            expr("percentile(value, 0.535D)").as("p50_hi"),
            expr("percentile(value, 0.915D)").as("p95_lo"),
            expr("percentile(value, 0.985D)").as("p95_hi"))
        finals.join(exact, Seq("event_type"))
          .select($"event_type", $"n_seen", $"n_exact",
            $"exact_p50", $"exact_p95",
            ($"n_seen" === $"n_exact").as("n_matches"),
            ($"p50" >= $"p50_lo" && $"p50" <= $"p50_hi")
              .as("p50_within_bound"),
            ($"p95" >= $"p95_lo" && $"p95" <= $"p95_hi")
              .as("p95_within_bound"))
          .orderBy($"event_type")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    },
    Some("""SELECT event_type,
           |       count(*) AS n_seen, count(*) AS n_exact,
           |       round(quantile_cont(value, 0.5), 6) AS exact_p50,
           |       round(quantile_cont(value, 0.95), 6) AS exact_p95,
           |       TRUE AS n_matches,
           |       TRUE AS p50_within_bound,
           |       TRUE AS p95_within_bound
           |FROM events GROUP BY event_type
           |ORDER BY event_type""".stripMargin))

  private val listenerRunId =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** E167: **streaming observability** — the stream twin of E87's
    * `df.observe`: production streams are monitored through progress
    * metadata (rows per batch, watermark advance, state size), not by
    * querying the sink. Two surfaces, with DIFFERENT delivery
    * guarantees, and the distinction is the operator's point:
    *  - the PUSH surface (`StreamingQueryListener`) rides Spark's
    *    async event bus, whose `AsyncEventQueue` DROPS events when
    *    the queue is full — on a contended host the listener total
    *    legitimately undercounts (measured this round: 150 of 10,000
    *    rows observed during a parallel full-suite sweep). A
    *    registered listener therefore demonstrates the wiring
    *    (latched on TERMINATED with a bounded wait, never assuming
    *    delivery order) but is NOT the gated value;
    *  - the PULL surface (`query.recentProgress`) is a synchronous
    *    snapshot the driver retains per query — nothing is dropped —
    *    so the gated total comes from it and must equal the table
    *    count exactly (any dropped or double-counted micro-batch
    *    breaks the hash). `numRecentProgressUpdates` is raised for
    *    the run so retention can never truncate the sum.
    * Per-batch counts are runtime-dependent and correctly NOT in the
    * output contract. */
  val qStreamListener = Q("q_stream_listener",
    (spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val done = new java.util.concurrent.CountDownLatch(1)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          done.countDown()
      }
      spark.streams.addListener(listener)
      val progKey = "spark.sql.streaming.numRecentProgressUpdates"
      val prevProg = spark.conf.get(progKey)
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = spark.conf.get(partsKey)
      spark.conf.set(progKey, "10000")
      spark.conf.set(partsKey, StreamRun.stateParts.toString)
      try {
        val s = Tables.readStream(spark, sfDir, "events")
          .groupBy($"event_type").agg(count(lit(1)).as("n"))
        val q = s.writeStream.format("memory")
          .queryName(s"t_listener_${listenerRunId.incrementAndGet()}")
          .outputMode("complete").start()
        q.processAllAvailable()
        val total = q.recentProgress.map(_.numInputRows).sum
        val sawData = q.recentProgress.exists(_.numInputRows > 0)
        q.stop()
        // termination rides the async bus; latch with a bounded wait
        // instead of assuming delivery order
        done.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Seq((total, sawData))
          .toDF("total_input_rows", "saw_data_batch")
      } finally {
        spark.streams.removeListener(listener)
        spark.conf.set(progKey, prevProg)
        spark.conf.set(partsKey, prevParts)
      }
    },
    Some("""SELECT count(*) AS total_input_rows,
           |       TRUE AS saw_data_batch
           |FROM events""".stripMargin))

  /** E225: **streaming KMV distinct sketch** — the custom
    * [[graft.functions.KmvSketchAgg]] `TypedImperativeAggregate`
    * running UNDER Structured Streaming: per-source sketches of
    * document content hashes in a complete-mode aggregation, buffer
    * bytes carried in the state store across micro-batches (the
    * serialize/merge path a custom aggregate must get right for
    * streaming, exercised here on top of E210's batch oracle
    * machinery). Because a KMV's state is deterministic, the
    * streaming result is hash-checked against the SAME exact SQL the
    * batch query uses — a streaming query with a bit-exact oracle,
    * which none of the library-backed sketches (E44/E51/E61) can
    * offer. */
  val qStreamKmv = Q("q_stream_kmv",
    (spark, sfDir) => {
      import spark.implicits._
      val s = Tables.readStream(spark, sfDir, "documents")
        .select($"source",
          conv(substring(md5($"text".cast("binary")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          call_function("kmv_sketch_agg", $"h", lit(128)).as("sk"))
        .select($"source", $"n_docs",
          call_function("kmv_kept", $"sk").as("n_kept"),
          round(call_function("kmv_estimate", $"sk"), 2)
            .as("kmv_estimate"))
      StreamRun.toTable(spark, s, "t_kmv", "complete")
        .orderBy($"source")
    },
    Some("""WITH hashed AS (
           |  SELECT source,
           |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
           |      AS h
           |  FROM documents
           |), counts AS (
           |  SELECT source, count(*) AS n_docs
           |  FROM documents GROUP BY source
           |), dist AS (
           |  SELECT source, h FROM hashed GROUP BY source, h
           |), ranked AS (
           |  SELECT source, h,
           |    row_number() OVER (PARTITION BY source ORDER BY h)
           |      AS rn,
           |    count(*) OVER (PARTITION BY source) AS nd
           |  FROM dist
           |), sel AS (
           |  SELECT source, max(CASE WHEN rn = 128 THEN h END) AS h128,
           |    max(nd) AS nd
           |  FROM ranked GROUP BY source
           |)
           |SELECT c.source, c.n_docs,
           |  CAST(least(s.nd, 128) AS INTEGER) AS n_kept,
           |  round(CASE WHEN s.nd < 128 THEN CAST(s.nd AS DOUBLE)
           |    ELSE 127.0 * power(2, 60) / CAST(s.h128 AS DOUBLE)
           |    END, 2) AS kmv_estimate
           |FROM counts c JOIN sel s ON c.source = s.source
           |ORDER BY c.source""".stripMargin))

  /** E267: **batch-backfill + streaming-forward union (the kappa
    * handoff)** — the one-architecture answer to "recompute history,
    * stream the rest": the SAME aggregation expression runs once as
    * a BATCH job over everything before a cutover day and once as an
    * AvailableNow STREAM over the files at-or-after it, and the
    * union of the two partial aggregates must equal the single
    * all-batch computation — the oracle. This is the migration
    * contract every lambda→kappa cutover needs hash-checked: the
    * split is by the data's own event time (a deterministic
    * date predicate on both paths, nothing wall-clock), the stream
    * side drains its backlog in bounded micro-batches with streaming
    * exactly-once semantics, and per-(type, side) partials merge by
    * ADDITION, the property that makes the handoff safe only for
    * decomposable aggregates (counts/sums here; a median would need
    * the sketch family). Grain keys carry a `side` column so the
    * result also PROVES both paths contributed. */
  val qStreamBackfillUnion = Q("q_stream_backfill_union",
    (spark, sfDir) => {
      import spark.implicits._
      val cutover = "2024-01-16"
      val dir = "target/stream/" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_") + "/backfill_fwd"
      graft.Memo.onceJvm(spark, s"load:backfill:$sfDir") {
        Tables.read(spark, sfDir, "events")
          .filter(to_date($"ts") >= lit(cutover))
          .repartition(4, $"event_id")
          .write.mode("overwrite").parquet(dir)
      }
      def shape(df: DataFrame, side: String) = df
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
        .withColumn("side", lit(side))
      val batchSide = shape(
        Tables.read(spark, sfDir, "events")
          .filter(to_date($"ts") < lit(cutover)), "backfill")
      val streamAgg = spark.readStream.schema(Tables.events)
        .option("maxFilesPerTrigger", 2).parquet(dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,6)")), 6)
            .cast("double").as("sum_value"))
      val streamSide = StreamRun
        .toTable(spark, streamAgg, "t_backfill", "complete",
          availableNow = true)
        .withColumn("side", lit("stream"))
      batchSide.unionByName(streamSide)
        .orderBy($"event_type", $"side")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, value,
           |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
           |  FROM events
           |), sided AS (
           |  SELECT event_type,
           |    CASE WHEN d < DATE '2024-01-16' THEN 'backfill'
           |         ELSE 'stream' END AS side,
           |    value
           |  FROM ev
           |)
           |SELECT event_type, count(*) AS n,
           |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6)
           |    AS DOUBLE) AS sum_value, side
           |FROM sided GROUP BY event_type, side
           |ORDER BY event_type, side""".stripMargin))

  /** E315: **checkpoint resume across restarts** — the operational
    * property every production stream depends on and no single-run
    * query can prove: a stopped query restarted against the SAME
    * checkpoint continues from its committed offsets, processing only
    * what landed since. Staged as two sequential `AvailableNow` runs
    * of one query definition sharing checkpoint + parquet sink: run 1
    * drains the even-id half of the fixture; the odd half then lands
    * in the source directory as NEW files; run 2 restarts from the
    * checkpoint and must admit exactly those new files. The sink is
    * the E103 `_spark_metadata`-logged parquet sink, so the final
    * read-back equals the full fixture ONLY under exactly-once
    * resume: re-reading run-1 files would double those rows (sink
    * appends), dropping the new files would lose them, and either
    * fails the hash against the batch oracle. At 100 TB this is the
    * nightly-drain restart contract: offsets (not data) are the
    * driver-side state, and a crashed job re-runs its uncommitted
    * batch idempotently. */
  val qStreamResume = Q("q_stream_resume",
    (spark, sfDir) => {
      import spark.implicits._
      val base = "target/stream/" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_") + "/resume"
      val srcDir = s"$base/src"
      val outDir = s"$base/out"
      graft.Memo.onceJvm(spark, s"load:resume:$sfDir") {
        Tables.deleteTree(base)
        val ev = Tables.read(spark, sfDir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
        def drain(): Unit = {
          val s = spark.readStream
            .schema("event_id BIGINT, user_id BIGINT, " +
              "event_type STRING, value DOUBLE")
            .parquet(srcDir)
          val q = s.writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", s"$base/ckpt")
            .trigger(
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        ev.filter($"event_id" % 2 === 0)
          .repartition(4).write.parquet(srcDir)
        drain() // run 1: even half, offsets committed
        ev.filter($"event_id" % 2 === 1)
          .repartition(4).write.mode("append").parquet(srcDir)
        drain() // run 2: resumes, admits only the new files
      }
      spark.read.parquet(outDir) // through _spark_metadata
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
           |FROM events GROUP BY event_type ORDER BY event_type"""
      .stripMargin))

  /** E320: **custom streaming source (MicroBatchStream)** — the
    * stream face of the E319 DSv2 connector: the row index IS the
    * offset (replaying [start, end) regenerates identical rows —
    * the determinism exactly-once rests on), and micro-batch size is
    * governed by Spark's own admission-control contract
    * (`SupportsAdmissionControl.latestOffset(start, ReadLimit)` with
    * `ReadLimit.maxRows` — the custom-source analogue of
    * maxFilesPerTrigger, E104's admission story without a file
    * listing). 50k rows drain in five bounded micro-batches into a
    * complete-mode aggregate; the oracle recomputes the buckets from
    * DuckDB `range()`, so a skipped batch, a replayed batch, or an
    * off-by-one in the offset arithmetic shifts a bucket count and
    * fails the hash. */
  val qStreamSeries = Q("q_stream_series",
    (spark, sfDir) => {
      import spark.implicits._
      val agg = StreamRun.series(spark)
        .groupBy(($"i" % 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum($"value"), 4).as("sum_value"))
      StreamRun.toTable(spark, agg, "t_series", "complete")
        .orderBy($"bucket")
    },
    Some("""WITH s AS (
           |  SELECT i,
           |    CAST(i * 2654435761 % 2147483648 % 10000 AS DOUBLE)
           |      / 100.0 AS value
           |  FROM range(0, 50000) t(i)
           |)
           |SELECT CAST(i % 10 AS INT) AS bucket, count(*) AS n,
           |  round(sum(value), 4) AS sum_value
           |FROM s GROUP BY 1 ORDER BY bucket""".stripMargin))

  val all: Seq[Q] = Seq(qStreamTumbling, qStreamSliding, qStreamSession,
    qStreamWatermark, qStreamDedup, qStreamDedupWm, qStreamDedupAgg,
    qStreamState, qStreamTws, qStreamTimeout, qStreamJoin,
    qStreamJoinOuter,
    qStreamJoinFull, qStreamAvailableNow, qStreamFileSink,
    qStreamQuantile, qStreamListener, qStreamKmv, qStreamBackfillUnion,
    qStreamResume, qStreamSeries)
}
