package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every query module's `Q` entries into the two maps the
  * driver consumes (`Verify` dumps results + oracle SQL; `Bench` times
  * them). Modules map 1:1 to SURVEY.md §2 sections.
  */
object SparkEntry {

  // private[graft] so the suite can assert no module ever registers a
  // name another module already owns (a duplicate would silently shadow
  // the earlier query in queryMap — the round-13 incident)
  private[graft] def modules: Seq[Q] =
    _root_.graft.queries.Cohort.all ++
      _root_.graft.queries.Relational.all ++
      _root_.graft.queries.Aggregates.all ++
      _root_.graft.queries.Scalars.all ++
      _root_.graft.queries.LLMOps.all ++
      _root_.graft.streaming.Streams.all ++
      _root_.graft.sources.Formats.all ++
      _root_.graft.queries.Extras.all ++
      _root_.graft.queries.Scale.all ++
      _root_.graft.queries.FourCEQueries.all ++
      _root_.graft.queries.Graphs.all ++
      _root_.graft.queries.Metrics.all ++
      _root_.graft.queries.Corpus.all ++
      _root_.graft.queries.Privacy.all ++
      _root_.graft.queries.Surface.all ++
      _root_.graft.queries.Rollups.all ++
      _root_.graft.queries.Ann.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Cohort.qCohortDailyCounts
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.queryMap(modules)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Q.oracleMap(modules)

  /** The row selector every main shares: `SPARK_GRAFT_ONLY` as a comma
    * list of names, trimmed, blanks dropped, first occurrence kept. None
    * when it is unset or names nothing, so a blank value means unset.
    * Names are not checked against the registry: a main reports an
    * unknown name as a failed row. */
  def only(env: Map[String, String] = sys.env): Option[Seq[String]] =
    env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).distinct)
      .filter(_.nonEmpty)

  /** The fixture directory the mains read: `SPARK_GRAFT_SF_DIR`, or
    * `default` when it is unset or blank. */
  def sfDir(default: String, env: Map[String, String] = sys.env): String =
    env.get("SPARK_GRAFT_SF_DIR").map(_.trim).filter(_.nonEmpty)
      .getOrElse(default)

  /** A JSON string literal. Escapes backslash, quote and every control
    * char (< 0x20): a tab or CR in hand-written oracle SQL would otherwise
    * make a reader's `json.load` fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `x` rounded half-up to `scale` decimals, as a JSON number. */
  def jsonNum(x: Double, scale: Int): String =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString

  /** A JSON object of (key, rendered value) fields, in the given order. */
  def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
}
