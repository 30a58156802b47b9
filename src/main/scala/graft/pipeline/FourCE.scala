package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Run parameters — the reference's `#config` table as a broadcast-able
  * case class (SURVEY.md §1.2, §1.4). `blur = 0` disables noise;
  * `maskThreshold = 0` disables small-count masking. `includeRace`
  * mirrors the reference's `include_race` flag: when false the
  * Demographics race column carries the `-999` "not collected" sentinel
  * (SURVEY.md §1.3); when true, `patient_dimension.race_cd` becomes a
  * third cube dimension. */
case class FourCEConfig(
    siteId: String = "site",
    blur: Int = 0,
    maskThreshold: Int = 0,
    positiveCategory: String = "positive",
    severeCategory: String = "severe",
    windowBeforeDays: Int = 7,
    windowAfterDays: Int = 14,
    includeRace: Boolean = false)

/** The capability claim (SURVEY.md §5.2.5): the reference's Phase-1.1
  * pipeline — cohort construction and the aggregate output files — as a
  * reusable library over i2b2-CRC-shaped DataFrames:
  *
  *   observation_fact(patient_num, encounter_num, concept_cd,
  *                    start_date TIMESTAMP, valtype_cd, nval_num, ...)
  *   patient_dimension(patient_num, sex_cd, age_in_years_num,
  *                     death_date, ...)
  *   visit_dimension(encounter_num, patient_num, inout_cd,
  *                   start_date, end_date)
  *   code_map(code_category, local_code, scale_factor)
  *
  * A site that runs the reference's SQL scripts can point this at the
  * same four tables and get the same output shapes (DailyCounts,
  * ClinicalCourse, Demographics, Labs, Diagnoses, Medications, plus the
  * Phase-2 patient-level files LocalPatientClinicalCourse,
  * LocalPatientObservations, LocalPatientMapping) computed on Spark.
  * Every aggregate output routes its counts through [[obfuscate]];
  * patient-level Phase-2 files are intentionally un-obfuscated (they
  * stay local to the site, per the 4CE spec).
  *
  * Plan shapes (SURVEY.md §3.1 traces A–C, §4.2): the code map always
  * broadcasts, and the cohort joins it to the facts once for both of
  * its categories; fact⋈cohort joins carry patient_num (sort-merge, AQE
  * skew-split eligible); distinct-patient counts are two plain
  * aggregates ([[distinctPatients]]), never Spark's multi-distinct
  * `Expand` — except Demographics, whose cube margins need distinct
  * counts across cells, and Labs' stats aggregate; the cohort is the
  * only materialization barrier (caller may persist); the date spine
  * stays tiny so its one join broadcasts; every output ends in a
  * total-order sort.
  */
object FourCE {

  /** Codes for one category from the code map — always broadcast. */
  private def codes(codeMap: DataFrame, category: String): DataFrame =
    broadcast(codeMap.filter(col("code_category") === category)
      .select(col("local_code"), col("scale_factor")))

  /** Deterministic obfuscation (SURVEY.md §4.2): hash-keyed blur then
    * small-count mask (mask wins — the 4CE-specified order). Unlike the
    * reference's RAND()/NEWID() this is retry-safe under task
    * re-execution and identical across re-runs. Applied to EVERY count
    * column of every aggregate output below — the 4CE spec obfuscates
    * all Phase-1.1 files, not just Demographics. The blur is keyed with
    * the portable char-fold polynomial ([[graft.functions.PortableHash]])
    * of `key|siteId`, whose values any engine can replicate (the
    * harness's DuckDB oracle does), so the obfuscated deliverables stay
    * auditable across engines. */
  def obfuscate(count: Column, key: Column, cfg: FourCEConfig): Column = {
    // HOF form on purpose: runs on any session (no extension
    // registration) and only ever touches post-aggregation rows
    val noiseHash = graft.functions.PortableHash.charFoldHof(
      concat_ws("|", key, lit(cfg.siteId)))
    val blurred =
      if (cfg.blur <= 0) count
      else count + pmod(noiseHash, lit(2 * cfg.blur + 1)) - cfg.blur
    if (cfg.maskThreshold <= 0) blurred
    else when(count < cfg.maskThreshold, lit(-99L)).otherwise(blurred)
  }

  /** Trace A — the cohort: patients whose first positive-category fact
    * is followed by an inpatient admission within
    * [pos − windowBefore, pos + windowAfter]; keep the earliest such
    * admission; severe iff a severe-category fact lands on/after it.
    * Output: patient_num, admission_date, severe(0/1), severe_date,
    * death_date.
    *
    * One pass over the facts: a single obs⋈code-map join carries both
    * categories (a code listed under both yields one row per category)
    * into one per-patient aggregate of `pos_date` and `sev_days`, the
    * set of the patient's severe-fact dates. `sev_days` is bounded by a
    * patient's distinct severe days, not by fact count; it rides
    * through the admission window so `severe_date` is picked from it
    * without a second fact join. */
  def cohort(obs: DataFrame, visits: DataFrame, patients: DataFrame,
      codeMap: DataFrame, cfg: FourCEConfig): DataFrame = {
    val isPos = col("code_category") === cfg.positiveCategory
    val isSev = col("code_category") === cfg.severeCategory
    val facts = obs
      .join(broadcast(codeMap.filter(isPos || isSev)
          .select(col("code_category"), col("local_code"))),
        obs("concept_cd") === col("local_code"))
      .groupBy(col("patient_num"))
      .agg(to_date(min(when(isPos, col("start_date")))).as("pos_date"),
        collect_set(when(isSev, to_date(col("start_date"))))
          .as("sev_days"))

    val admissions = visits.filter(col("inout_cd") === "I")
      .select(col("patient_num"), to_date(col("start_date")).as("adm"))

    // J6 range join with the equi key carried → SMJ + post-filter;
    // sev_days is one value per patient, so it rides in the group key
    val entry = admissions.join(facts, Seq("patient_num"))
      .filter(col("adm") >= date_sub(col("pos_date"), cfg.windowBeforeDays)
        && col("adm") <= date_add(col("pos_date"), cfg.windowAfterDays))
      .groupBy(col("patient_num"), col("sev_days"))
      .agg(min(col("adm")).as("admission_date"))

    entry
      .select(col("patient_num"), col("admission_date"),
        array_min(filter(col("sev_days"),
          d => d >= col("admission_date"))).as("severe_date"))
      .join(patients.select(col("patient_num"),
        to_date(col("death_date")).as("death_date")),
        Seq("patient_num"), "left")
      .select(col("patient_num"), col("admission_date"),
        when(col("severe_date").isNotNull, 1).otherwise(0).as("severe"),
        col("severe_date"), col("death_date"))
  }

  /** Distinct patients per `keys` under each named boolean flag —
    * `countDistinct(when(flag, patient_num))` without Spark's
    * multi-distinct rewrite (an `Expand` that copies every row once per
    * distinct aggregate): one aggregate to (keys, patient_num) taking
    * `max(flag)`, then one to `keys` counting the set flags. Exact: a
    * patient counts once per key however many rows it has there
    * (duplicate facts, a repeated patient_dimension key), and a null
    * flag counts as unset. Output: keys, then one bigint per flag. */
  private def distinctPatients(df: DataFrame, keys: Seq[String],
      flags: (String, Column)*): DataFrame = {
    val keyCols = keys.map(col)
    val perPatient = flags.map { case (n, c) => max(c).as(n) }
    val counts = flags.map { case (n, _) => count_if(col(n)).as(n) }
    df.filter(col("patient_num").isNotNull)
      .groupBy(keyCols :+ col("patient_num"): _*)
      .agg(perPatient.head, perPatient.tail: _*)
      .groupBy(keyCols: _*)
      .agg(counts.head, counts.tail: _*)
  }

  /** Every calendar day of a visit, start to end inclusive — the
    * inpatient stay-day expansion of DailyCounts and ClinicalCourse. */
  private val stayDays: Column =
    explode(sequence(to_date(col("start_date")), to_date(col("end_date"))))

  /** The `patient_dimension` columns, age band and race of
    * Demographics and the patient summary. Race carries the `-999`
    * "not collected" sentinel unless `includeRace`. */
  private def patientCols(cfg: FourCEConfig): Seq[Column] =
    Seq(col("patient_num"), col("sex_cd"), col("age_in_years_num")) ++
      (if (cfg.includeRace) Seq(col("race_cd")) else Nil)

  private val ageGroup: Column = when(col("age_in_years_num") < 21, "00to20")
    .when(col("age_in_years_num") < 46, "21to45")
    .when(col("age_in_years_num") < 66, "46to65")
    .otherwise("66plus")

  private def race(cfg: FourCEConfig): Column =
    if (cfg.includeRace) coalesce(col("race_cd"), lit("other"))
    else lit("-999")

  /** Trace B — DailyCounts.csv: per calendar date, cumulative
    * all/severe/dead cohort patients + in-hospital census. One stream
    * of (d, kind, patient) rows — the cohort's admission, severe and
    * death dates plus every inpatient day of a cohort patient — feeds
    * one [[distinctPatients]] aggregate and one spine join. */
  def dailyCounts(cohortDf: DataFrame, visits: DataFrame,
      cfg: FourCEConfig): DataFrame = {
    val bounds = cohortDf.agg(min(col("admission_date")).as("d0"))
      .crossJoin(visits.agg(to_date(max(col("end_date"))).as("d1")))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"))).as("calendar_date"))

    def mark(kind: String, d: String) =
      struct(lit(kind).as("kind"), col(d).as("d"))
    val marks = cohortDf
      .select(col("patient_num"), col("severe"),
        explode(array(mark("new", "admission_date"),
          mark("sev", "severe_date"), mark("dead", "death_date")))
          .as("m"))
      .select(col("patient_num"), col("severe"), col("m.kind").as("kind"),
        col("m.d").as("d"))
      .filter(col("d").isNotNull)
    // census: inpatient visits of cohort patients covering the date
    val stays = visits.filter(col("inout_cd") === "I")
      .join(cohortDf.select(col("patient_num"), col("severe")),
        Seq("patient_num"))
      .select(col("patient_num"), col("severe"), lit("hosp").as("kind"),
        stayDays.as("d"))
    val kind = col("kind")
    val perDay = distinctPatients(marks.unionByName(stays), Seq("d"),
      "n_new" -> (kind === "new"), "n_sev" -> (kind === "sev"),
      "n_dead" -> (kind === "dead"), "in_hosp" -> (kind === "hosp"),
      "in_hosp_severe" -> (kind === "hosp" && col("severe") === 1))

    // spine is tiny → the join broadcasts; the cumulative window
    // runs over the spine only (single partition is fine there)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("calendar_date"))
      .rowsBetween(Long.MinValue, 0)

    spine.join(perDay, spine("calendar_date") === perDay("d"), "left")
      .drop("d")
      .select(col("calendar_date"),
        sum(coalesce(col("n_new"), lit(0L))).over(w)
          .as("cumulative_patients_all"),
        sum(coalesce(col("n_sev"), lit(0L))).over(w)
          .as("cumulative_patients_severe"),
        sum(coalesce(col("n_dead"), lit(0L))).over(w)
          .as("cumulative_patients_dead"),
        coalesce(col("in_hosp"), lit(0L))
          .as("num_patients_in_hospital_on_this_date"),
        coalesce(col("in_hosp_severe"), lit(0L))
          .as("num_patients_in_hospital_and_severe_on_this_date"))
      .select(Seq(lit(cfg.siteId).as("siteid"), col("calendar_date")) ++
        Seq("cumulative_patients_all", "cumulative_patients_severe",
          "cumulative_patients_dead",
          "num_patients_in_hospital_on_this_date",
          "num_patients_in_hospital_and_severe_on_this_date").map(c =>
          obfuscate(col(c),
            concat(col("calendar_date").cast("string"), lit("|" + c)),
            cfg).as(c)): _*)
      .orderBy(col("calendar_date"))
  }

  /** Demographics.csv: counts per (sex × age_group [× race]) INCLUDING
    * the `all` rows — cube + grouping() relabel (SURVEY.md §2.4 A5).
    * With `includeRace = false` the race column carries the `-999`
    * "not collected" sentinel and is not a cube dimension; with it on,
    * `patient_dimension.race_cd` becomes the third dimension. */
  def demographics(cohortDf: DataFrame, patients: DataFrame,
      cfg: FourCEConfig): DataFrame = {
    val joined = cohortDf
      .join(patients.select(patientCols(cfg): _*), Seq("patient_num"))
      .select(col("patient_num"), col("severe"),
        col("sex_cd"), ageGroup.as("age_group"), race(cfg).as("race"))
    val cubed =
      if (cfg.includeRace)
        joined.cube(col("sex_cd"), col("age_group"), col("race"))
      else joined.cube(col("sex_cd"), col("age_group"))
    val aggExprs = Seq(
      countDistinct(col("patient_num")).as("n_all"),
      countDistinct(when(col("severe") === 1, col("patient_num")))
        .as("n_severe"),
      grouping(col("sex_cd")).as("g_sex"),
      grouping(col("age_group")).as("g_age")) ++
      (if (cfg.includeRace) Seq(grouping(col("race")).as("g_race"))
       else Nil)
    val raceOut =
      if (cfg.includeRace)
        when(col("g_race") === 1, "all").otherwise(col("race"))
      else lit("-999")
    cubed
      .agg(aggExprs.head, aggExprs.tail: _*)
      .select(lit(cfg.siteId).as("siteid"),
        when(col("g_sex") === 1, "all").otherwise(col("sex_cd"))
          .as("sex"),
        when(col("g_age") === 1, "all").otherwise(col("age_group"))
          .as("age_group"),
        raceOut.as("race"),
        obfuscate(col("n_all"),
          concat_ws("|", col("sex_cd"), col("age_group"), raceOut),
          cfg).as("num_patients_all"),
        obfuscate(col("n_severe"),
          concat_ws("|", col("sex_cd"), col("age_group"), raceOut,
            lit("s")), cfg)
          .as("num_patients_ever_severe"))
      .orderBy(col("sex"), col("age_group"), col("race"))
  }

  /** Labs.csv: per (LOINC, days_since_admission) value stats incl. the
    * 4CE log-stats `log(value + 0.5)`, scale-factor normalization, the
    * `units` pass-through, and the full ever-severe subgroup statistics
    * (SURVEY.md §1.3 Labs row — mean/stdev of value and log-value over
    * severe patients only, as conditional aggs on the same scan).
    * `units` comes from an optional `units_cd` column on `obs`; absent
    * or null it carries the `-999` "not collected" sentinel. */
  def labs(obs: DataFrame, cohortDf: DataFrame, codeMap: DataFrame,
      cfg: FourCEConfig, labCategory: String = "lab"): DataFrame = {
    def noNaN(c: Column) = when(isnan(c), lit(null)).otherwise(c)
    val unitsIn =
      if (obs.columns.contains("units_cd")) col("units_cd")
      else lit(null).cast("string")
    val sevV = when(col("severe") === 1, col("v"))
    obs.filter(col("valtype_cd") === "N" && col("nval_num").isNotNull)
      .join(codes(codeMap, labCategory),
        obs("concept_cd") === col("local_code"))
      .join(cohortDf.select(col("patient_num"), col("admission_date"),
        col("severe")), Seq("patient_num"))
      .select(col("local_code").as("loinc"),
        datediff(to_date(col("start_date")), col("admission_date"))
          .as("days_since_admission"),
        (col("nval_num") * col("scale_factor")).as("v"),
        unitsIn.as("units_in"),
        col("patient_num"), col("severe"))
      .filter(col("days_since_admission") >= 0 && col("v") > 0)
      .groupBy(col("loinc"), col("days_since_admission"))
      .agg(
        coalesce(first(col("units_in"), ignoreNulls = true), lit("-999"))
          .as("units"),
        countDistinct(col("patient_num")).as("n_all"),
        round(avg(col("v")), 6).as("mean_value_all"),
        round(noNaN(stddev_samp(col("v"))), 6).as("stdev_value_all"),
        round(avg(log(col("v") + 0.5)), 6).as("mean_log_value_all"),
        round(noNaN(stddev_samp(log(col("v") + 0.5))), 6)
          .as("stdev_log_value_all"),
        countDistinct(when(col("severe") === 1, col("patient_num")))
          .as("n_severe"),
        round(avg(sevV), 6).as("mean_value_ever_severe"),
        round(noNaN(stddev_samp(sevV)), 6).as("stdev_value_ever_severe"),
        round(avg(log(sevV + 0.5)), 6).as("mean_log_value_ever_severe"),
        round(noNaN(stddev_samp(log(sevV + 0.5))), 6)
          .as("stdev_log_value_ever_severe"))
      .select(lit(cfg.siteId).as("siteid"), col("loinc"),
        col("days_since_admission"), col("units"),
        obfuscate(col("n_all"),
          concat_ws("|", col("loinc"), col("days_since_admission")),
          cfg).as("num_patients_all"),
        col("mean_value_all"), col("stdev_value_all"),
        col("mean_log_value_all"), col("stdev_log_value_all"),
        obfuscate(col("n_severe"),
          concat_ws("|", col("loinc"), col("days_since_admission"),
            lit("s")), cfg).as("num_patients_ever_severe"),
        col("mean_value_ever_severe"), col("stdev_value_ever_severe"),
        col("mean_log_value_ever_severe"),
        col("stdev_log_value_ever_severe"))
      .orderBy(col("loinc"), col("days_since_admission"))
  }

  /** ClinicalCourse.csv: per day-offset since admission, patients (all
    * and ever-severe) still in hospital — inpatient visit intervals
    * exploded to days, offset against the cohort admission. */
  def clinicalCourse(cohortDf: DataFrame, visits: DataFrame,
      cfg: FourCEConfig): DataFrame = {
    val stays = visits.filter(col("inout_cd") === "I")
      .join(cohortDf.select(col("patient_num"), col("admission_date"),
        col("severe")), Seq("patient_num"))
      .select(col("patient_num"), col("severe"), col("admission_date"),
        stayDays.as("hosp_day"))
      .select(col("patient_num"), col("severe"),
        datediff(col("hosp_day"), col("admission_date"))
          .as("days_since_admission"))
      .filter(col("days_since_admission") >= 0)
    distinctPatients(stays, Seq("days_since_admission"),
        "n_all" -> lit(true), "n_severe" -> (col("severe") === 1))
      .select(lit(cfg.siteId).as("siteid"), col("days_since_admission"),
        obfuscate(col("n_all"), col("days_since_admission").cast("string"),
          cfg).as("num_patients_all_still_in_hospital"),
        obfuscate(col("n_severe"),
          concat_ws("|", col("days_since_admission"), lit("s")), cfg)
          .as("num_patients_ever_severe_still_in_hospital"))
      .orderBy(col("days_since_admission"))
  }

  /** The Diagnoses/Medications counts per `keys`: distinct patients
    * before/since admission, all and ever-severe, from rows carrying
    * `before`, `severe` and `patient_num`. */
  private def admissionSplit(df: DataFrame, keys: Seq[String],
      cfg: FourCEConfig): DataFrame = {
    val before = col("before")
    val sev = col("severe") === 1
    val outs = Seq(
      "num_patients_all_before_admission" -> before,
      "num_patients_all_since_admission" -> !before,
      "num_patients_ever_severe_before_admission" -> (before && sev),
      "num_patients_ever_severe_since_admission" -> (!before && sev))
    distinctPatients(df, keys, outs: _*)
      .select(Seq(lit(cfg.siteId).as("siteid")) ++ keys.map(col) ++
        outs.map { case (out, _) => obfuscate(col(out),
          concat_ws("|", keys.map(col) :+ lit(out): _*), cfg).as(out)
        }: _*)
      .orderBy(keys.map(col): _*)
  }

  /** Medications.csv: same four-count shape as Diagnoses but per
    * code-map class (the med-class rollup). */
  def medications(obs: DataFrame, cohortDf: DataFrame,
      codeMap: DataFrame, cfg: FourCEConfig,
      medCategory: String = "med"): DataFrame = {
    val rows = obs
      .join(codes(codeMap, medCategory),
        obs("concept_cd") === col("local_code"))
      .join(cohortDf.select(col("patient_num"), col("admission_date"),
        col("severe")), Seq("patient_num"))
      .select(col("local_code").as("med_class"),
        (to_date(col("start_date")) < col("admission_date"))
          .as("before"), col("patient_num"), col("severe"))
    admissionSplit(rows, Seq("med_class"), cfg)
  }

  /** Diagnoses.csv: per (3-char code, icd_version) rollup, distinct
    * patients before/since admission, split by ever-severe (A4 + F2).
    * `icd_version` derives from the concept prefix (`ICD9:`/`ICD10:`,
    * with or without a `DIAG-` wrapper); unrecognized prefixes carry
    * the `-999` sentinel (SURVEY.md §1.3). */
  def diagnoses(obs: DataFrame, cohortDf: DataFrame,
      cfg: FourCEConfig): DataFrame = {
    val icdVersion = when(col("concept_cd").rlike("^(DIAG-)?ICD10"),
        lit(10))
      .when(col("concept_cd").rlike("^(DIAG-)?ICD9"), lit(9))
      .otherwise(lit(-999))
    val rows = obs
      .join(cohortDf.select(col("patient_num"), col("admission_date"),
        col("severe")), Seq("patient_num"))
      .select(
        substring(regexp_replace(col("concept_cd"), "^[A-Z0-9-]+:", ""),
          1, 3).as("icd_code_3chars"),
        icdVersion.as("icd_version"),
        (to_date(col("start_date")) < col("admission_date"))
          .as("before"), col("patient_num"), col("severe"))
    admissionSplit(rows, Seq("icd_code_3chars", "icd_version"), cfg)
  }

  /** Phase 2 — LocalPatientClinicalCourse.csv (SURVEY.md §1.3): one row
    * per cohort patient × calendar day from admission to the later of
    * last discharge and death, with 0/1 flags `in_hospital` (an
    * inpatient interval covers the day), `severe` (on/after
    * severe_date), `deceased` (on/after death_date) — the R1 pivot of
    * visit intervals to per-day flags, patient-level so no obfuscation
    * (the file stays local to the site).
    *
    * Scale: the per-patient explode is bounded by stay length (days,
    * not facts); the flag join is equi on (patient_num, day). */
  def patientClinicalCourse(cohortDf: DataFrame, visits: DataFrame,
      cfg: FourCEConfig): DataFrame = {
    val inp = visits.filter(col("inout_cd") === "I")
      .join(cohortDf.select(col("patient_num"), col("admission_date")),
        Seq("patient_num"))
      .filter(to_date(col("end_date")) >= col("admission_date"))
    val lastDay = inp.groupBy(col("patient_num"))
      .agg(max(to_date(col("end_date"))).as("last_discharge"))
    val spine = cohortDf.join(lastDay, Seq("patient_num"), "left")
      .select(col("patient_num"), col("admission_date"),
        col("severe_date"), col("death_date"),
        explode(sequence(col("admission_date"),
          greatest(coalesce(col("last_discharge"), col("admission_date")),
            coalesce(col("death_date"), col("admission_date")))))
          .as("calendar_date"))
    val hospDays = inp
      .select(col("patient_num"),
        explode(sequence(
          greatest(to_date(col("start_date")), col("admission_date")),
          to_date(col("end_date")))).as("calendar_date"))
      .distinct()
      .withColumn("in_h", lit(1))
    spine.join(hospDays, Seq("patient_num", "calendar_date"), "left")
      .select(lit(cfg.siteId).as("siteid"), col("patient_num"),
        datediff(col("calendar_date"), col("admission_date"))
          .as("days_since_admission"),
        col("calendar_date"),
        coalesce(col("in_h"), lit(0)).as("in_hospital"),
        when(col("severe_date").isNotNull &&
          col("calendar_date") >= col("severe_date"), 1).otherwise(0)
          .as("severe"),
        when(col("death_date").isNotNull &&
          col("calendar_date") >= col("death_date"), 1).otherwise(0)
          .as("deceased"))
      .orderBy(col("patient_num"), col("days_since_admission"))
  }

  /** Phase 2 — LocalPatientObservations.csv (SURVEY.md §1.3): one row
    * per cohort patient × day-offset × concept, the long/EAV export.
    * `concept_type` is the code-map category; `value` is the day-mean
    * of numeric facts, or the `-999` "fact present, no value" sentinel.
    * Day offsets can be negative (pre-admission history). */
  def patientObservations(obs: DataFrame, cohortDf: DataFrame,
      codeMap: DataFrame, cfg: FourCEConfig): DataFrame = {
    obs
      .join(broadcast(codeMap.select(col("code_category"),
        col("local_code"))), obs("concept_cd") === col("local_code"))
      .join(cohortDf.select(col("patient_num"), col("admission_date")),
        Seq("patient_num"))
      .select(col("patient_num"),
        datediff(to_date(col("start_date")), col("admission_date"))
          .as("days_since_admission"),
        col("code_category").as("concept_type"),
        col("local_code").as("concept_code"),
        when(col("valtype_cd") === "N", col("nval_num"))
          .as("num_value"))
      .groupBy(col("patient_num"), col("days_since_admission"),
        col("concept_type"), col("concept_code"))
      .agg(coalesce(round(avg(col("num_value")), 6), lit(-999.0))
        .as("value"))
      .select(lit(cfg.siteId).as("siteid"), col("patient_num"),
        col("days_since_admission"), col("concept_type"),
        col("concept_code"), col("value"))
      .orderBy(col("patient_num"), col("days_since_admission"),
        col("concept_type"), col("concept_code"))
  }

  /** Phase 2 — LocalPatientSummary.csv (SURVEY.md §1.3): one row per
    * cohort patient — admission, hospital-day total, severity, death,
    * and demographics in one flat file. Derives the day flags from
    * [[patientClinicalCourse]] so the two files can never disagree.
    * Race carries the `-999` sentinel unless `includeRace`. */
  def patientSummary(cohortDf: DataFrame, visits: DataFrame,
      patients: DataFrame, cfg: FourCEConfig): DataFrame = {
    val perDay = patientClinicalCourse(cohortDf, visits, cfg)
      .groupBy(col("patient_num"))
      .agg(sum(col("in_hospital")).cast("long")
          .as("num_days_in_hospital"),
        max(when(col("in_hospital") === 1, col("calendar_date")))
          .as("last_hospital_date"))
    cohortDf
      .join(perDay, Seq("patient_num"), "left")
      .join(patients.select(patientCols(cfg): _*), Seq("patient_num"))
      .select(lit(cfg.siteId).as("siteid"), col("patient_num"),
        col("admission_date"),
        coalesce(col("num_days_in_hospital"), lit(0L))
          .as("num_days_in_hospital"),
        col("last_hospital_date"),
        col("severe"), col("severe_date"),
        when(col("death_date").isNotNull, 1).otherwise(0).as("deceased"),
        col("death_date"),
        col("sex_cd").as("sex"), ageGroup.as("age_group"),
        race(cfg).as("race"))
      .orderBy(col("patient_num"))
  }

  /** The file deliverable (SURVEY.md §1.3): write each output as a CSV
    * with header — the exact artifact a 4CE site submits. Aggregate
    * outputs are site-level files (≤ thousands of rows), so they
    * coalesce to ONE csv part like the reference's single flat file;
    * set `singlePart = false` for the patient-level Phase-2 files,
    * which can be arbitrarily large and stay partitioned. */
  def writeCsv(df: DataFrame, path: String,
      singlePart: Boolean = true): Unit = {
    val out = if (singlePart) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** The reference's `output_as_columns = 0` mode (SURVEY.md §2.1 S4):
    * every column rendered into ONE pipe-joined text column, NULLs as
    * empty strings — for sites whose upload tooling takes a single
    * text field per row. */
  def concatColumns(df: DataFrame, sep: String = "|"): DataFrame =
    df.select(concat_ws(sep,
      df.columns.toIndexedSeq
        .map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      .as("line"))

  /** Phase 2 — LocalPatientMapping.csv: patient_num ↔ study_num
    * re-identification map, kept local. study_num is a dense
    * deterministic rank over patient_num — stable across re-runs (the
    * reference's IDENTITY column is insertion-ordered and thus not).
    * The unpartitioned window is safe: one row per cohort patient, and
    * cohorts are ≤ millions of rows, not facts. */
  def patientMapping(cohortDf: DataFrame, cfg: FourCEConfig): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("patient_num"))
    cohortDf.select(col("patient_num")).distinct()
      .select(lit(cfg.siteId).as("siteid"), col("patient_num"),
        row_number().over(w).as("study_num"))
      .orderBy(col("patient_num"))
  }
}
