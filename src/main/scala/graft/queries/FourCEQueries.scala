package graft.queries

import graft.{Q, Tables}
import graft.pipeline.{FourCE, FourCEConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 4CE pipeline library itself under the DuckDB-oracle hash gate.
  *
  * `graft.pipeline.FourCE` was previously proven only by golden and
  * invariant tests (FourCESuite); these queries run the REAL library
  * functions over i2b2-CRC-shaped frames mapped from the harness
  * tables (the FIXTURES.md §3 mapping: events → observation_fact with
  * `EVT:`-prefixed concepts, one inpatient user-day per event day,
  * customer → patient_dimension) and hash-compare the full outputs
  * against independent DuckDB SQL that re-derives the same files from
  * the raw parquet. A library bug anywhere in the
  * cohort→demographics/labs/clinical-course dataflow now fails Verify,
  * not just a unit test.
  *
  * Obfuscation runs at blur=0/mask=0 (identity) so the oracle is
  * deterministic; nonzero-blur behavior is property-tested in
  * FourCESuite (oracle-expressible blur is covered by q_obfuscate). */
object FourCEQueries {

  private val cfg = FourCEConfig() // siteId "site", blur/mask off

  private def obs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events").select(
      $"user_id".as("patient_num"),
      (dayofyear(to_date($"ts")) * lit(100000) + $"user_id")
        .cast("long").as("encounter_num"),
      concat(lit("EVT:"), $"event_type").as("concept_cd"),
      $"ts".as("start_date"),
      when($"value".isNotNull, "N").otherwise("T").as("valtype_cd"),
      $"value".as("nval_num"))
  }

  private def visits(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events")
      .select($"user_id".as("patient_num"), to_date($"ts").as("d"))
      .distinct()
      .select(
        (dayofyear($"d") * lit(100000) + $"patient_num").cast("long")
          .as("encounter_num"),
        $"patient_num", lit("I").as("inout_cd"),
        $"d".cast("timestamp").as("start_date"),
        date_add($"d", 1).cast("timestamp").as("end_date"))
  }

  private def patients(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "customer").select(
      $"c_custkey".as("patient_num"),
      when($"c_custkey" % 2 === 0, "female").otherwise("male")
        .as("sex_cd"),
      ($"c_custkey" % 80 + 10).cast("int").as("age_in_years_num"),
      lit(null).cast("timestamp").as("death_date"))
  }

  private def codeMap(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("positive", "EVT:purchase", 1.0),
      ("severe", "EVT:error", 1.0),
      ("lab", "EVT:view", 2.0),
      ("lab", "EVT:click", 1.0),
      ("med", "EVT:click", 1.0))
      .toDF("code_category", "local_code", "scale_factor")
  }

  private def cohortDf(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.cached(spark, s"fource_cohort:$sfDir")(
      FourCE.cohort(obs(spark, sfDir), visits(spark, sfDir),
        patients(spark, sfDir), codeMap(spark), cfg))

  /** DuckDB re-derivation of the FourCE cohort from raw events: first
    * purchase = positive date; admission = earliest event-day within
    * [pos−7, pos+14]; severe = earliest error on/after admission. */
  private val fourceCohortCte: String =
    s"""WITH ${Cohort.evCte}, pos AS (
       |  SELECT user_id AS patient_num, CAST(min(ts) AS DATE) AS pos_date
       |  FROM ev WHERE event_type = 'purchase' GROUP BY 1
       |), admdays AS (
       |  SELECT DISTINCT user_id AS patient_num, CAST(ts AS DATE) AS adm
       |  FROM ev
       |), entry AS (
       |  SELECT a.patient_num, min(a.adm) AS admission_date
       |  FROM admdays a JOIN pos p ON a.patient_num = p.patient_num
       |  WHERE a.adm >= p.pos_date - 7 AND a.adm <= p.pos_date + 14
       |  GROUP BY 1
       |), sev AS (
       |  SELECT en.patient_num, min(CAST(e.ts AS DATE)) AS severe_date
       |  FROM entry en JOIN ev e ON e.user_id = en.patient_num
       |   AND e.event_type = 'error'
       |   AND CAST(e.ts AS DATE) >= en.admission_date
       |  GROUP BY 1
       |), cohort AS (
       |  SELECT en.patient_num, en.admission_date,
       |         CASE WHEN sev.severe_date IS NULL THEN 0 ELSE 1 END
       |           AS severe,
       |         sev.severe_date
       |  FROM entry en LEFT JOIN sev ON en.patient_num = sev.patient_num
       |)""".stripMargin

  /** Demographics.csv through the library (cohort → cube with 'all'
    * rows, race sentinel) vs an independent DuckDB CUBE. COALESCE
    * relabel is safe: the mapped sex/age values are never NULL, so a
    * NULL group key can only mean a cube margin. */
  val qFourceDemographics = Q("q_fource_demographics",
    (spark, sfDir) =>
      FourCE.demographics(cohortDf(spark, sfDir),
        patients(spark, sfDir), cfg),
    Some(
      s"""$fourceCohortCte, pat AS (
         |  SELECT c_custkey AS patient_num,
         |         CASE WHEN c_custkey % 2 = 0 THEN 'female'
         |              ELSE 'male' END AS sex_cd,
         |         c_custkey % 80 + 10 AS age
         |  FROM customer
         |), j AS (
         |  SELECT co.patient_num, co.severe, p.sex_cd,
         |         CASE WHEN p.age < 21 THEN '00to20'
         |              WHEN p.age < 46 THEN '21to45'
         |              WHEN p.age < 66 THEN '46to65'
         |              ELSE '66plus' END AS ag
         |  FROM cohort co JOIN pat p ON co.patient_num = p.patient_num
         |)
         |SELECT 'site' AS siteid,
         |       COALESCE(sex_cd, 'all') AS sex,
         |       COALESCE(ag, 'all') AS age_group,
         |       '-999' AS race,
         |       count(DISTINCT patient_num) AS num_patients_all,
         |       count(DISTINCT CASE WHEN severe = 1 THEN patient_num END)
         |         AS num_patients_ever_severe
         |FROM j GROUP BY CUBE (sex_cd, ag)
         |ORDER BY sex, age_group, race""".stripMargin))

  /** Labs.csv through the library — scale factors, the `-999` units
    * sentinel, the 4CE log-stats, AND the ever-severe conditional
    * stats all hash-checked. */
  val qFourceLabs = Q("q_fource_labs",
    (spark, sfDir) =>
      FourCE.labs(obs(spark, sfDir), cohortDf(spark, sfDir),
        codeMap(spark), cfg),
    Some(
      s"""$fourceCohortCte, lm AS (
         |  SELECT * FROM (VALUES ('EVT:view', 2.0), ('EVT:click', 1.0))
         |    AS t(local_code, scale_factor)
         |), labf AS (
         |  SELECT e.user_id AS patient_num,
         |         date_diff('day', c.admission_date, CAST(e.ts AS DATE))
         |           AS days_since_admission,
         |         m.local_code AS loinc,
         |         e.value * m.scale_factor AS v,
         |         c.severe
         |  FROM ev e
         |  JOIN lm m ON 'EVT:' || e.event_type = m.local_code
         |  JOIN cohort c ON c.patient_num = e.user_id
         |  WHERE e.value IS NOT NULL
         |    AND CAST(e.ts AS DATE) >= c.admission_date
         |    AND e.value * m.scale_factor > 0
         |)
         |SELECT 'site' AS siteid, loinc, days_since_admission,
         |       '-999' AS units,
         |       count(DISTINCT patient_num) AS num_patients_all,
         |       round(avg(v), 6) AS mean_value_all,
         |       round(stddev_samp(v), 6) AS stdev_value_all,
         |       round(avg(ln(v + 0.5)), 6) AS mean_log_value_all,
         |       round(stddev_samp(ln(v + 0.5)), 6)
         |         AS stdev_log_value_all,
         |       count(DISTINCT CASE WHEN severe = 1 THEN patient_num END)
         |         AS num_patients_ever_severe,
         |       round(avg(CASE WHEN severe = 1 THEN v END), 6)
         |         AS mean_value_ever_severe,
         |       round(stddev_samp(CASE WHEN severe = 1 THEN v END), 6)
         |         AS stdev_value_ever_severe,
         |       round(avg(CASE WHEN severe = 1 THEN ln(v + 0.5) END), 6)
         |         AS mean_log_value_ever_severe,
         |       round(stddev_samp(
         |         CASE WHEN severe = 1 THEN ln(v + 0.5) END), 6)
         |         AS stdev_log_value_ever_severe
         |FROM labf GROUP BY loinc, days_since_admission
         |ORDER BY loinc, days_since_admission""".stripMargin))

  /** ClinicalCourse.csv through the library: the mapped visits span
    * [day, day+1], so each inpatient day contributes two census days —
    * the oracle unions both explicitly. */
  val qFourceClinicalCourse = Q("q_fource_clinical_course",
    (spark, sfDir) =>
      FourCE.clinicalCourse(cohortDf(spark, sfDir),
        visits(spark, sfDir), cfg),
    Some(
      s"""$fourceCohortCte, vis AS (
         |  SELECT DISTINCT user_id AS patient_num, CAST(ts AS DATE) AS d
         |  FROM ev
         |), days AS (
         |  SELECT patient_num, d AS hosp_day FROM vis
         |  UNION ALL
         |  SELECT patient_num, d + 1 AS hosp_day FROM vis
         |), cc AS (
         |  SELECT date_diff('day', c.admission_date, dy.hosp_day)
         |           AS days_since_admission,
         |         dy.patient_num, c.severe
         |  FROM days dy JOIN cohort c ON dy.patient_num = c.patient_num
         |  WHERE dy.hosp_day >= c.admission_date
         |)
         |SELECT 'site' AS siteid, days_since_admission,
         |       count(DISTINCT patient_num)
         |         AS num_patients_all_still_in_hospital,
         |       count(DISTINCT CASE WHEN severe = 1 THEN patient_num END)
         |         AS num_patients_ever_severe_still_in_hospital
         |FROM cc GROUP BY days_since_admission
         |ORDER BY days_since_admission""".stripMargin))

  /** DailyCounts.csv through the library: spine from first admission to
    * the day after the last event (mapped visits end at day+1),
    * cumulative admitted/severe/dead plus the in-hospital census. The
    * mapped patient_dimension has no deaths, so the dead cumulative is
    * the constant-zero column on both sides. */
  val qFourceDailyCounts = Q("q_fource_daily_counts",
    (spark, sfDir) =>
      FourCE.dailyCounts(cohortDf(spark, sfDir), visits(spark, sfDir),
        cfg),
    Some(
      s"""$fourceCohortCte, bounds AS (
         |  SELECT (SELECT min(admission_date) FROM cohort) AS d0,
         |         (SELECT max(CAST(ts AS DATE)) + 1 FROM ev) AS d1
         |), spine AS (
         |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
         |         CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
         |         AS calendar_date FROM bounds
         |), newd AS (
         |  SELECT admission_date AS d, count(DISTINCT patient_num) AS n
         |  FROM cohort GROUP BY 1
         |), sevd AS (
         |  SELECT severe_date AS d, count(DISTINCT patient_num) AS n
         |  FROM cohort WHERE severe = 1 GROUP BY 1
         |), vis AS (
         |  SELECT DISTINCT user_id AS patient_num, CAST(ts AS DATE) AS d
         |  FROM ev
         |), days AS (
         |  SELECT patient_num, d AS hosp_day FROM vis
         |  UNION ALL
         |  SELECT patient_num, d + 1 AS hosp_day FROM vis
         |), census AS (
         |  SELECT dy.hosp_day AS d,
         |         count(DISTINCT dy.patient_num) AS ih,
         |         count(DISTINCT CASE WHEN c.severe = 1
         |           THEN dy.patient_num END) AS ihs
         |  FROM days dy JOIN cohort c ON dy.patient_num = c.patient_num
         |  GROUP BY 1
         |), daily AS (
         |  SELECT s.calendar_date,
         |         COALESCE(n.n, 0) AS n_new,
         |         COALESCE(v.n, 0) AS n_sev,
         |         COALESCE(ce.ih, 0) AS ih,
         |         COALESCE(ce.ihs, 0) AS ihs
         |  FROM spine s
         |  LEFT JOIN newd n ON n.d = s.calendar_date
         |  LEFT JOIN sevd v ON v.d = s.calendar_date
         |  LEFT JOIN census ce ON ce.d = s.calendar_date
         |)
         |SELECT 'site' AS siteid, calendar_date,
         |  CAST(sum(n_new) OVER (ORDER BY calendar_date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cumulative_patients_all,
         |  CAST(sum(n_sev) OVER (ORDER BY calendar_date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cumulative_patients_severe,
         |  CAST(0 AS BIGINT) AS cumulative_patients_dead,
         |  CAST(ih AS BIGINT) AS num_patients_in_hospital_on_this_date,
         |  CAST(ihs AS BIGINT)
         |    AS num_patients_in_hospital_and_severe_on_this_date
         |FROM daily ORDER BY calendar_date""".stripMargin))

  /** Diagnoses.csv through the library: `EVT:` concepts strip to the
    * event type's first 3 chars, icd_version is the `-999` sentinel
    * (no ICD prefixes in the mapped fixture — the real derivation is
    * golden-tested in FourCESuite with ICD10 concepts). */
  val qFourceDiagnoses = Q("q_fource_diagnoses",
    (spark, sfDir) =>
      FourCE.diagnoses(obs(spark, sfDir), cohortDf(spark, sfDir), cfg),
    Some(
      s"""$fourceCohortCte, diag AS (
         |  SELECT substr(e.event_type, 1, 3) AS icd_code_3chars,
         |         -999 AS icd_version,
         |         CAST(e.ts AS DATE) < c.admission_date AS bef,
         |         e.user_id AS patient_num, c.severe
         |  FROM ev e JOIN cohort c ON e.user_id = c.patient_num
         |)
         |SELECT 'site' AS siteid, icd_code_3chars, icd_version,
         |  count(DISTINCT CASE WHEN bef THEN patient_num END)
         |    AS num_patients_all_before_admission,
         |  count(DISTINCT CASE WHEN NOT bef THEN patient_num END)
         |    AS num_patients_all_since_admission,
         |  count(DISTINCT CASE WHEN bef AND severe = 1
         |    THEN patient_num END)
         |    AS num_patients_ever_severe_before_admission,
         |  count(DISTINCT CASE WHEN NOT bef AND severe = 1
         |    THEN patient_num END)
         |    AS num_patients_ever_severe_since_admission
         |FROM diag GROUP BY icd_code_3chars, icd_version
         |ORDER BY icd_code_3chars, icd_version""".stripMargin))

  /** Medications.csv through the library (med class = `EVT:click`). */
  val qFourceMedications = Q("q_fource_medications",
    (spark, sfDir) =>
      FourCE.medications(obs(spark, sfDir), cohortDf(spark, sfDir),
        codeMap(spark), cfg),
    Some(
      s"""$fourceCohortCte, med AS (
         |  SELECT 'EVT:click' AS med_class,
         |         CAST(e.ts AS DATE) < c.admission_date AS bef,
         |         e.user_id AS patient_num, c.severe
         |  FROM ev e JOIN cohort c ON e.user_id = c.patient_num
         |  WHERE e.event_type = 'click'
         |)
         |SELECT 'site' AS siteid, med_class,
         |  count(DISTINCT CASE WHEN bef THEN patient_num END)
         |    AS num_patients_all_before_admission,
         |  count(DISTINCT CASE WHEN NOT bef THEN patient_num END)
         |    AS num_patients_all_since_admission,
         |  count(DISTINCT CASE WHEN bef AND severe = 1
         |    THEN patient_num END)
         |    AS num_patients_ever_severe_before_admission,
         |  count(DISTINCT CASE WHEN NOT bef AND severe = 1
         |    THEN patient_num END)
         |    AS num_patients_ever_severe_since_admission
         |FROM med GROUP BY med_class ORDER BY med_class""".stripMargin))

  /** The demographics deliverable in its REAL shipped form — nonzero
    * blur + small-count mask — under the hash gate. The library keys
    * its blur with the portable char-fold, so DuckDB replicates the
    * noise exactly (charFold of the same `sex|age|race[|s]` key the
    * library builds, salted with siteId); mask-wins-over-blur is
    * thereby oracle-checked end-to-end, not just unit-tested. */
  private val obfCfg = cfg.copy(blur = 2, maskThreshold = 10)

  private def obfSql(count: String, key: String): String =
    s"""CASE WHEN $count < 10 THEN -99 ELSE $count +
       |  (${graft.functions.PortableHash.charFoldSql(key)} % 5 - 2)
       |  END""".stripMargin

  val qFourceDemographicsObf = Q("q_fource_demographics_obf",
    (spark, sfDir) =>
      FourCE.demographics(cohortDf(spark, sfDir),
        patients(spark, sfDir), obfCfg),
    Some(
      s"""$fourceCohortCte, pat AS (
         |  SELECT c_custkey AS patient_num,
         |         CASE WHEN c_custkey % 2 = 0 THEN 'female'
         |              ELSE 'male' END AS sex_cd,
         |         c_custkey % 80 + 10 AS age
         |  FROM customer
         |), j AS (
         |  SELECT co.patient_num, co.severe, p.sex_cd,
         |         CASE WHEN p.age < 21 THEN '00to20'
         |              WHEN p.age < 46 THEN '21to45'
         |              WHEN p.age < 66 THEN '46to65'
         |              ELSE '66plus' END AS ag
         |  FROM cohort co JOIN pat p ON co.patient_num = p.patient_num
         |), cub AS (
         |  SELECT sex_cd, ag,
         |         count(DISTINCT patient_num) AS n_all,
         |         count(DISTINCT CASE WHEN severe = 1
         |           THEN patient_num END) AS n_severe
         |  FROM j GROUP BY CUBE (sex_cd, ag)
         |)
         |SELECT 'site' AS siteid,
         |       COALESCE(sex_cd, 'all') AS sex,
         |       COALESCE(ag, 'all') AS age_group,
         |       '-999' AS race,
         |       CAST(${obfSql("n_all",
                  "concat_ws('|', sex_cd, ag, '-999', 'site')")}
         |         AS BIGINT) AS num_patients_all,
         |       CAST(${obfSql("n_severe",
                  "concat_ws('|', sex_cd, ag, '-999', 's', 'site')")}
         |         AS BIGINT) AS num_patients_ever_severe
         |FROM cub ORDER BY sex, age_group, race""".stripMargin))

  // ------------------------------------------- Phase-2 patient-level
  /** Shared DuckDB CTEs for the Phase-2 oracles: the mapped inpatient
    * intervals joined to the cohort (end ≥ admission), their last
    * discharge, and the per-patient hospitalized-day expansion —
    * mirroring FourCE.patientClinicalCourse's inp/lastDay/hospDays
    * dataflow over the FIXTURES.md §3 events→visit mapping (one
    * user-day interval [d, d+1) per event day, death always NULL). */
  private val patientDaysCte: String =
    s"""vis AS (
       |  SELECT DISTINCT user_id AS patient_num, CAST(ts AS DATE) AS d
       |  FROM ev
       |), inp AS (
       |  SELECT v.patient_num, v.d AS sd, v.d + 1 AS ed,
       |         c.admission_date
       |  FROM vis v JOIN cohort c ON v.patient_num = c.patient_num
       |  WHERE v.d + 1 >= c.admission_date
       |), lastday AS (
       |  SELECT patient_num, max(ed) AS last_discharge
       |  FROM inp GROUP BY 1
       |), hosp AS (
       |  SELECT DISTINCT patient_num,
       |         CAST(unnest(generate_series(
       |           CAST(GREATEST(sd, admission_date) AS TIMESTAMP),
       |           CAST(ed AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
       |           AS calendar_date
       |  FROM inp
       |)""".stripMargin

  /** LocalPatientClinicalCourse through the library: one row per
    * cohort patient per calendar day from admission to last discharge,
    * with in_hospital/severe/deceased day flags, vs an independent
    * DuckDB generate_series expansion. Patient-level Phase-2 files are
    * un-obfuscated by spec (they stay at the site). */
  val qFourcePatientCourse = Q("q_fource_patient_course",
    (spark, sfDir) =>
      FourCE.patientClinicalCourse(cohortDf(spark, sfDir),
        visits(spark, sfDir), cfg),
    Some(
      s"""$fourceCohortCte, $patientDaysCte, spine AS (
         |  SELECT c.patient_num, c.admission_date, c.severe_date,
         |         CAST(unnest(generate_series(
         |           CAST(c.admission_date AS TIMESTAMP),
         |           CAST(COALESCE(l.last_discharge, c.admission_date)
         |             AS TIMESTAMP),
         |           INTERVAL 1 DAY)) AS DATE) AS calendar_date
         |  FROM cohort c
         |  LEFT JOIN lastday l ON c.patient_num = l.patient_num
         |)
         |SELECT 'site' AS siteid, s.patient_num,
         |       date_diff('day', s.admission_date, s.calendar_date)
         |         AS days_since_admission,
         |       s.calendar_date,
         |       CASE WHEN h.patient_num IS NULL THEN 0 ELSE 1 END
         |         AS in_hospital,
         |       CASE WHEN s.severe_date IS NOT NULL
         |             AND s.calendar_date >= s.severe_date
         |            THEN 1 ELSE 0 END AS severe,
         |       0 AS deceased
         |FROM spine s
         |LEFT JOIN hosp h ON h.patient_num = s.patient_num
         |  AND h.calendar_date = s.calendar_date
         |ORDER BY s.patient_num, days_since_admission""".stripMargin))

  /** LocalPatientObservations: per patient × day-offset × concept the
    * rounded mean numeric value (−999 for text-only facts). The
    * code-map join fans EVT:click into both lab and med rows — the
    * oracle's VALUES table replicates the 1:N mapping. */
  val qFourcePatientObs = Q("q_fource_patient_obs",
    (spark, sfDir) =>
      FourCE.patientObservations(obs(spark, sfDir),
        cohortDf(spark, sfDir), codeMap(spark), cfg),
    Some(
      s"""$fourceCohortCte, cmap(code_category, local_code) AS (
         |  VALUES ('positive', 'EVT:purchase'), ('severe', 'EVT:error'),
         |         ('lab', 'EVT:view'), ('lab', 'EVT:click'),
         |         ('med', 'EVT:click')
         |), pobs AS (
         |  SELECT e.user_id AS patient_num,
         |         date_diff('day', c.admission_date, CAST(e.ts AS DATE))
         |           AS days_since_admission,
         |         m.code_category AS concept_type,
         |         m.local_code AS concept_code,
         |         e.value AS num_value
         |  FROM ev e
         |  JOIN cmap m ON m.local_code = 'EVT:' || e.event_type
         |  JOIN cohort c ON c.patient_num = e.user_id
         |)
         |SELECT 'site' AS siteid, patient_num, days_since_admission,
         |       concept_type, concept_code,
         |       COALESCE(round(avg(num_value), 6), -999.0) AS value
         |FROM pobs
         |GROUP BY 2, 3, 4, 5
         |ORDER BY patient_num, days_since_admission, concept_type,
         |         concept_code""".stripMargin))

  /** LocalPatientMapping: stable site-local study ids (dense
    * row_number over the ordered patient roster). */
  val qFourcePatientMapping = Q("q_fource_patient_mapping",
    (spark, sfDir) =>
      FourCE.patientMapping(cohortDf(spark, sfDir), cfg),
    Some(
      s"""$fourceCohortCte
         |SELECT 'site' AS siteid, patient_num,
         |       CAST(row_number() OVER (ORDER BY patient_num) AS INT)
         |         AS study_num
         |FROM (SELECT DISTINCT patient_num FROM cohort)
         |ORDER BY patient_num""".stripMargin))

  /** LocalPatientSummary: one row per cohort patient — admission,
    * hospital-day total (= the count of distinct hospitalized days,
    * re-derived independently here rather than via the per-day file),
    * last hospital date, severity, death, demographics. */
  val qFourcePatientSummary = Q("q_fource_patient_summary",
    (spark, sfDir) =>
      FourCE.patientSummary(cohortDf(spark, sfDir),
        visits(spark, sfDir), patients(spark, sfDir), cfg),
    Some(
      s"""$fourceCohortCte, $patientDaysCte, hs AS (
         |  SELECT patient_num, count(*) AS ndays,
         |         max(calendar_date) AS lastd
         |  FROM hosp GROUP BY 1
         |), pat AS (
         |  SELECT c_custkey AS patient_num,
         |         CASE WHEN c_custkey % 2 = 0 THEN 'female'
         |              ELSE 'male' END AS sex_cd,
         |         c_custkey % 80 + 10 AS age
         |  FROM customer
         |)
         |SELECT 'site' AS siteid, c.patient_num, c.admission_date,
         |       COALESCE(hs.ndays, 0) AS num_days_in_hospital,
         |       hs.lastd AS last_hospital_date,
         |       c.severe, c.severe_date,
         |       0 AS deceased, CAST(NULL AS TIMESTAMP) AS death_date,
         |       p.sex_cd AS sex,
         |       CASE WHEN p.age < 21 THEN '00to20'
         |            WHEN p.age < 46 THEN '21to45'
         |            WHEN p.age < 66 THEN '46to65'
         |            ELSE '66plus' END AS age_group,
         |       '-999' AS race
         |FROM cohort c
         |LEFT JOIN hs ON c.patient_num = hs.patient_num
         |JOIN pat p ON c.patient_num = p.patient_num
         |ORDER BY c.patient_num""".stripMargin))

  val all: Seq[Q] = Seq(qFourceDemographics, qFourceLabs,
    qFourceClinicalCourse, qFourceDailyCounts, qFourceDiagnoses,
    qFourceMedications, qFourceDemographicsObf, qFourcePatientCourse,
    qFourcePatientObs, qFourcePatientMapping, qFourcePatientSummary)
}
