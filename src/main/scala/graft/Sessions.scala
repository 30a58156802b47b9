package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration so Verify, Bench and
  * the test suites run identical settings (SURVEY.md §4.2).
  *
  *  - `events.ts` unit handling lives in Tables.read (footer probe; the
  *    legacy nanosAsLong flag is set per-read only when the file really is
  *    int64-nanos) — NOT here, so a µs fixture reads natively.
  *  - AQE + skew-join: explicit, because skewed `user_id`/`concept_cd`-style
  *    keys are the expected hot spot at 100 TB (SURVEY.md §4.2).
  *  - shuffle.partitions = cores: local-mode right-sizing; a real cluster
  *    deployment would raise this (or rely on AQE coalescing, enabled).
  *
  * Three fixed values make generated code compile once per JVM instead
  * of once per session. Callers open a `newSession()` per query or per
  * pass (Bench, the suites, perfbench), and the 4CE site
  * job recompiled 137 generated classes in every `perfbench/run.py`
  * pass. With the three values it compiles 4, and its median pass
  * falls from 5.6 to 4.0 s (local[4], 4 cores):
  *  - `spark.sql.artifact.isolation.enabled=false`: Spark keys its
  *    generated-class cache by (context class loader, code), and with
  *    isolation on every session runs its tasks under its own class
  *    loader, so no session reuses the classes another session's tasks
  *    compiled. The engine adds no session artifacts (no `addArtifact`
  *    call), so isolation buys nothing here.
  *  - `spark.sql.codegen.cache.maxEntries=2000`: one 4CE pass fills 138
  *    cache entries (98 distinct classes, each cached under the
  *    driver's and the executors' class loader), past the default 100;
  *    with isolation off alone about 90 classes still compiled per
  *    pass. The entries grow slowly from pass to pass (170 after five),
  *    because a query planned on a new session can emit a class whose
  *    code differs (e.g. in the order of its distinct-aggregate
  *    groups); 2000 holds that and the working sets of other workloads
  *    in the same JVM.
  *  - `spark.buffer.pageSize=4m`: with the default 16 MB page every
  *    small broadcast relation, sort or aggregate buffer holds a whole
  *    page (the traced 4CE pass broadcasts 51.1 MB, three one-page
  *    relations; 15.1 MB with 4 MB pages). Once the collections stop
  *    landing in compile garbage they catch those live pages: with
  *    isolation off alone, peak heap per `query_mix` pass rose from 112
  *    to 142 MB; with 4 MB pages it is 102 MB.
  *
  * Two more fixed values keep local files from forking a process each.
  * Without libhadoop (`NativeIO` unavailable, as in tarball and pip
  * Spark installs) Hadoop's `file:` filesystem runs `chmod` for every
  * file and directory it creates and `readlink` for every FileContext
  * rename, about 3–4 ms a process start. JFR `jdk.ProcessStart`
  * counted 9 per 4CE CSV output and about 150 per `q_stream_tumbling`
  * drain; with the two values both are 0, and a full sf0.01 Verify or
  * test-suite run starts no `chmod` or `readlink` outside the
  * filesystem tests' own Hadoop comparisons. Traced `query_mix` (seed 4402, local[4], 4 cores):
  * `stream.trigger_ms` 645 → 290, `stream.state_commit_ms` 354 → 39,
  * `stream.wal_commit_ms` 37.5 → 3, `stream.commit_offsets_ms` 39 → 5,
  * `stream.query_planning_ms` 137 → 31 (planning writes the state
  * schema and metadata files):
  *  - `spark.hadoop.fs.file.impl`: the FileSystem API of the CSV and
  *    parquet sinks and sources, [[graft.sources.ForkFreeLocalFileSystem]];
  *  - `spark.hadoop.fs.AbstractFileSystem.file.impl`: the FileContext
  *    API of the stream checkpoints, [[graft.sources.ForkFreeLocalFs]].
  * Both keep Hadoop's checksummed wrappers (`.crc` files, verified
  * reads) and swap only the raw filesystem's `setPermission` (nio
  * `setPosixFilePermissions`) and `getFileLinkStatus` (no `readlink`
  * unless the path is a symlink). The `file:` FileSystem is cached per
  * JVM by scheme and user, so these must be set before anything in the
  * JVM asks Hadoop for it: opening the session first does that.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** [[cpus]] as a validated Int for ARITHMETIC consumers (repartition
    * counts, file-count gates). The master URL consumes the raw string
    * (so `local[*]` still works), but arithmetic on an unvalidated env
    * value would throw NumberFormatException inside a query (ADVICE r7
    * item 4) — a non-numeric setting falls back to the host's core
    * count, the same value `local[*]` resolves to. */
  def cpuCount: Int = scala.util.Try(cpus.trim.toInt).toOption
    .filter(_ > 0)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(graft.functions.GraftExtensions.register)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // each fixture table is ONE small parquet file; without a minimum
      // split count every scan is a single partition and the whole
      // pre-shuffle pipeline runs on one core (measured 1.5-5× slower).
      // On a real cluster with many files/row-groups this is a no-op.
      .config("spark.sql.files.minPartitionNum", cpus)
      // keep managed tables (bucketed-layout tests) out of the repo root
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      // compile generated code once per JVM (see the scaladoc above)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.buffer.pageSize", "4m")
      // no process per local file (see the scaladoc above)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.ForkFreeLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
