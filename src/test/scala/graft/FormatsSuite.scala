package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Malformed-record handling on the JSON ingest path — the production
  * concern the round-trip queries can't show (their input is clean by
  * construction). At 100 TB some fraction of a text-format drop is
  * always corrupt; the declared-schema readers must quarantine, not
  * silently null-fill or die, and the strict mode must be loud. */
class FormatsSuite extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val slim = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeFixture(): String = {
    val dir = Tables.scratchDir("fmt_bad_")
    val lines = Seq(
      """{"event_id":1,"user_id":10,"event_type":"click","value":1.5}""",
      """{"event_id":2,"user_id":11,"event_type":"view""", // truncated
      "not json at all",
      """{"event_id":3,"user_id":12,"event_type":"buy","value":2.0}""")
    Files.write(Paths.get(dir, "part.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("PERMISSIVE quarantines corrupt JSON rows into _corrupt_record") {
    val dir = writeFixture()
    try {
      val withCorrupt = slim.add(StructField("_corrupt_record", StringType))
      val df = spark.read.schema(withCorrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .cache() // Spark requires a materialized plan to filter on the
                 // corrupt column alone
      assert(df.count() === 4)
      assert(df.filter($"_corrupt_record".isNotNull).count() === 2)
      val good = df.filter($"_corrupt_record".isNull)
      assert(good.count() === 2)
      assert(good.agg(sum($"value")).head().getDouble(0) === 3.5)
      df.unpersist()
    } finally Tables.deleteTree(dir)
  }

  test("DROPMALFORMED keeps only parseable rows; FAILFAST is loud") {
    val dir = writeFixture()
    try {
      assert(spark.read.schema(slim)
        .option("mode", "DROPMALFORMED").json(dir).count() === 2)
      intercept[Exception] {
        spark.read.schema(slim)
          .option("mode", "FAILFAST").json(dir).count()
      }
    } finally Tables.deleteTree(dir)
  }

  test("rebalance hint collapses output files and plans RebalancePartitions") {
    import TestSpark.sf
    // the hinted logical plan must carry the rebalance node AQE re-packs
    val hinted = Tables.read(spark, sf, "events")
      .select($"event_id", $"event_type").hint("rebalance")
    assert(hinted.queryExecution.optimizedPlan.toString
      .contains("RebalancePartitions"))
    // running the query writes the re-packed output: the fixture's
    // sub-advisory-size data must land in a handful of files, not one
    // per task (32) — the small-files guard the hint exists for
    sources.Formats.qOutputRebalance.fn(spark, sf).collect()
    val dir = Paths.get(sources.Formats.fmtDir(sf, "rebalance_events"))
    import scala.jdk.CollectionConverters._
    val listing = Files.list(dir) // stream holds a dir handle — close it
    val parts =
      try listing.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      finally listing.close()
    assert(parts >= 1 && parts <= 4,
      s"rebalanced write produced $parts part files; expected a " +
        "handful, not one per task")
  }

  test("dynamic partition overwrite replaces only the emitted partition") {
    import TestSpark.sf
    import scala.jdk.CollectionConverters._
    // run the full query once: backfill all days, then dynamic-
    // overwrite the min day — afterwards inspect the on-disk layout
    sources.Formats.qSourcePartitionOverwrite.fn(spark, sf).collect()
    val root = Paths.get(sources.Formats.fmtDir(sf, "po_events"))
    def partDirs: Seq[java.nio.file.Path] = {
      val l = Files.list(root)
      try l.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("day="))
        .sortBy(_.getFileName.toString)
      finally l.close()
    }
    def filesOf(p: java.nio.file.Path): Set[String] = {
      val l = Files.list(p)
      try l.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally l.close()
    }
    val before = partDirs.map(p =>
      p.getFileName.toString -> filesOf(p)).toMap
    val d0 = before.keySet.min // min day = the refreshed partition
    // re-run ONLY the dynamic overwrite step by invoking the query
    // again: the backfill rewrites everything, so instead snapshot now
    // and drive one more dynamic write directly
    val ev = Tables.read(spark, sf, "events")
      .select($"event_id", $"user_id", $"event_type", $"value",
        to_date($"ts").as("day"))
    val minDay = ev.agg(min($"day")).first().getDate(0)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try ev.filter($"day" === lit(minDay))
      .withColumn("value", $"value" * 2)
      .write.mode("overwrite").partitionBy("day")
      .parquet(root.toString)
    finally spark.conf
      .unset("spark.sql.sources.partitionOverwriteMode")
    val after = partDirs.map(p =>
      p.getFileName.toString -> filesOf(p)).toMap
    assert(after.keySet === before.keySet,
      "dynamic overwrite must not add or drop partitions here")
    before.foreach { case (day, files) =>
      if (day == d0)
        assert(after(day) !== files,
          s"refreshed partition $day kept its old files")
      else
        assert(after(day) === files,
          s"untouched partition $day was rewritten")
    }
  }

  test("declared-schema scans absorb writer column drift (extra/missing)") {
    // The other two writer-drift modes beside unit changes (E95): a
    // newer writer ADDS a column the engine doesn't know yet, an older
    // file MISSES a column the schema declares. A pinned-schema scan
    // must ignore the former and null-fill the latter — never fail,
    // never misalign surviving columns.
    import TestSpark.sf
    val dir = Tables.scratchDir("graft-drift")
    val ev = Tables.read(spark, sf, "events")
    // "newer writer": extra column appended
    ev.withColumn("new_writer_col", lit("x"))
      .write.parquet(s"$dir/extra/events.parquet")
    val extra = Tables.read(spark, s"$dir/extra", "events")
    assert(extra.columns.toSeq === ev.columns.toSeq,
      "extra on-disk column must not leak into the declared schema")
    assert(extra.select(sum(length($"props"))).head ===
      ev.select(sum(length($"props"))).head)
    // "older writer": declared column absent from the file
    ev.drop("props").write.parquet(s"$dir/missing/events.parquet")
    val missing = Tables.read(spark, s"$dir/missing", "events")
    assert(missing.columns.toSeq === ev.columns.toSeq)
    assert(missing.filter($"props".isNotNull).count() === 0L,
      "missing column must null-fill")
    assert(missing.select(count($"event_id")).head ===
      ev.select(count($"event_id")).head)
  }

  test("mixed-unit stores exercise BOTH ts probe branches, one result") {
    // E95: the side stores must be PHYSICALLY different encodings —
    // otherwise the query proves nothing about the mixed-writer path.
    // Run the query once (builds the stores), then pin each store's
    // physical unit via the same inference signal Tables.read probes:
    // with nanosAsLong set, raw-int64 ts infers LongType, µs infers
    // TimestampType.
    import TestSpark.sf
    import graft.sources.Formats
    val unioned = Formats.qSourceMixedTsUnits.fn(spark, sf)
    val nsRoot = Formats.fmtDir(sf, "mixed_ns")
    val usRoot = Formats.fmtDir(sf, "mixed_us")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    val (nsT, usT) =
      try (spark.read.parquet(s"$nsRoot/events.parquet").schema("ts")
            .dataType.typeName,
           spark.read.parquet(s"$usRoot/events.parquet").schema("ts")
            .dataType.typeName)
      finally spark.conf.unset(key)
    assert(nsT === "long", "legacy store must be raw int64 nanos")
    assert(usT === "timestamp", "modern store must be timestamp[µs]")
    // and the union over both branches reproduces the single-unit
    // fixture aggregate exactly (day buckets catch any 1000× drift)
    val expected = Tables.read(spark, sf, "events")
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"),
        round(sum($"value".cast("decimal(18,6)")), 6)
          .cast("double").as("sum_value"))
      .orderBy($"day", $"event_type").collect().toSeq
    assert(unioned.collect().toSeq === expected)
  }

  test("ONE directory mixing ns and µs part files split-reads per group") {
    // E97: run the query once (builds the mixed root), then pin the
    // layout really is mixed INSIDE one directory and that Tables.read
    // adapts per file group rather than failing or taking one branch.
    import TestSpark.sf
    import graft.sources.Formats
    Formats.qSourceMixedUnitsOneDir.fn(spark, sf).collect()
    val dir = s"${Formats.fmtDir(sf, "mixed_onedir")}/events.parquet"
    // physical pin: the directory holds BOTH encodings (per-file footer
    // schemas differ on ts), which whole-path inference cannot merge
    val units = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map { f =>
        spark.read.parquet(f.getPath).schema("ts").dataType.typeName
      }.toSet
    assert(units === Set("long", "timestamp"),
      s"mixed root must hold both encodings, found $units")
    // row-level pin: every (event_id, epoch-µs) survives the split
    // read bit-identically vs the single-unit source
    val got = Tables.read(spark,
        Formats.fmtDir(sf, "mixed_onedir"), "events")
      .select($"event_id", unix_micros($"ts").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = Tables.read(spark, sf, "events")
      .select($"event_id", unix_micros($"ts").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === want)
    // streaming over a mixed directory must fail loudly, not corrupt
    val e = intercept[IllegalStateException] {
      Tables.readStream(spark, Formats.fmtDir(sf, "mixed_onedir"),
        "events")
    }
    assert(e.getMessage.contains("mixes timestamp units"))
  }

  test("compaction rewrites the 64-file debris store into sized bins") {
    // E99: run the query once (builds both stores), then pin the
    // physical outcome the audit booleans summarize: the debris store
    // really is 64 files, the compacted store is ceil(bytes/target)
    // files (1 at fixture scale), rows conserved exactly.
    import TestSpark.sf
    import graft.sources.Formats
    Formats.qLayoutCompact.fn(spark, sf).collect()
    val (nIn, inBytes) =
      Formats.listDataFiles(spark, Formats.fmtDir(sf, "compact_small"))
    val (nOut, _) =
      Formats.listDataFiles(spark, Formats.fmtDir(sf, "compact_out"))
    assert(nIn === 64, "debris store must be 64 small files")
    val target = 4L << 20
    val expectOut = math.max(1L, (inBytes + target - 1) / target).toInt
    assert(nOut === expectOut,
      s"compacted store must be ceil($inBytes/$target)=$expectOut files")
    val rowsIn = spark.read.schema(Tables.events)
      .parquet(Formats.fmtDir(sf, "compact_small")).count()
    val rowsOut = spark.read.schema(Tables.events)
      .parquet(Formats.fmtDir(sf, "compact_out")).count()
    assert(rowsIn === rowsOut, "compaction must conserve rows")
  }

  test("min/max skipping index prunes the range-clustered file list") {
    // E100: run the query once (builds the 16-file range layout), then
    // pin the skip ratio: the 3-day window of a 30-day span over 16
    // range-clustered files must keep at most 4 files (≥75% skipped).
    // Computed with the SAME envelope intersection the query uses, so
    // a layout regression (range clustering silently degrading to
    // overlap-everything) fails here rather than hiding behind the
    // residual filter.
    import TestSpark.sf
    import graft.sources.Formats
    Formats.qSourceSkippingIndex.fn(spark, sf).collect()
    val dir = Formats.fmtDir(sf, "skip_events")
    val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-13 00:00:00")
    val stats = spark.read.schema(Tables.events).parquet(dir)
      .select(col("_metadata.file_path").as("f"), $"ts")
      .groupBy($"f")
      .agg(min($"ts").as("lo"), max($"ts").as("hi"))
      .collect()
    assert(stats.length === 16, "range layout must be 16 files")
    val kept = stats.count { r =>
      val fLo = r.getAs[java.sql.Timestamp]("lo")
      val fHi = r.getAs[java.sql.Timestamp]("hi")
      !(fHi.before(lo) || !fLo.before(hi))
    }
    assert(kept >= 1 && kept <= 4,
      s"3/30-day window over 16 range files must keep ≤4, kept $kept")
  }

  test("maxRecordsPerFile rolls files at the cap and conserves rows") {
    // E252: run the query once (builds the capped store), then pin
    // the physical layout the audit booleans summarize: every file
    // holds ≤300 rows, the file count is at least ⌈rows/300⌉ (the
    // cap actually forced rolling — 2 tasks alone would give 2
    // files), and the booleans themselves came back true.
    import TestSpark.sf
    import graft.sources.Formats
    val res = Formats.qSinkMaxRecords.fn(spark, sf).collect()
    assert(res.forall(_.getBoolean(4)), "cap_respected must be true")
    assert(res.forall(_.getBoolean(5)), "file_count_ok must be true")
    val dir = Formats.fmtDir(sf, "maxrec_events")
    val perFile = spark.read.parquet(dir)
      .select(col("_metadata.file_path").as("f"))
      .groupBy($"f").agg(count(lit(1)).as("rows")).collect()
    val total = perFile.map(_.getLong(1)).sum
    assert(perFile.forall(_.getLong(1) <= 300L),
      "a file exceeds the record cap")
    assert(perFile.length >= ((total + 299) / 300).toInt,
      "cap did not force file rolling")
    assert(perFile.length > 2, "2 tasks must roll to >2 files")
  }

  test("csv dialect options are load-bearing: no multiLine, more rows") {
    // E277: run the query once (writes the hostile-content files),
    // then read the SAME files without multiLine — every payload
    // carries an embedded newline, so the naive line-per-record read
    // must parse MORE records than documents has rows. If this stops
    // holding, the fixture content stopped exercising the dialect and
    // the round-trip row proves nothing.
    import TestSpark.sf
    import graft.sources.Formats
    val res = Formats.qSourceCsvDialect.fn(spark, sf).collect()
    val nDocs = res.head.getLong(0)
    assert(nDocs === Tables.read(spark, sf, "documents").count())
    val dir = Formats.fmtDir(sf, "csv_dialect")
    val naive = spark.read
      .option("sep", "|").option("quote", "\"")
      .option("escape", "\"").option("header", "true")
      .schema("doc_id BIGINT, lang STRING, payload STRING")
      .csv(dir)
      .count()
    assert(naive > nDocs,
      s"embedded newlines must split naive reads: $naive vs $nDocs")
  }
}
