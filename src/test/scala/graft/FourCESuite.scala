package graft

import graft.pipeline.{FourCE, FourCEConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** M4 end-to-end capability test (SURVEY.md §5.2.5): build the mini
  * i2b2-shaped fixture from the harness tables (FIXTURES.md §3 mapping,
  * deterministic), run the full FourCE pipeline, and assert the output
  * shapes + cross-file consistency invariants the 4CE consortium's QC
  * checks enforce. */
class FourCESuite extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  private val cfg = FourCEConfig()

  // FIXTURES.md §3: events → observation_fact ('EVT:'||event_type,
  // purchase = positive code, error = severity code), one inpatient
  // encounter per user-day, customer → patient_dimension.
  private lazy val obs: DataFrame =
    Tables.read(spark, sf, "events").select(
      $"user_id".as("patient_num"),
      (dayofyear(to_date($"ts")) * lit(100000) + $"user_id")
        .cast("long").as("encounter_num"),
      concat(lit("EVT:"), $"event_type").as("concept_cd"),
      $"ts".as("start_date"),
      when($"value".isNotNull, "N").otherwise("T").as("valtype_cd"),
      $"value".as("nval_num"))

  private lazy val visits: DataFrame =
    Tables.read(spark, sf, "events")
      .select($"user_id".as("patient_num"),
        to_date($"ts").as("d"))
      .distinct()
      .select(
        (dayofyear($"d") * lit(100000) + $"patient_num").cast("long")
          .as("encounter_num"),
        $"patient_num", lit("I").as("inout_cd"),
        $"d".cast("timestamp").as("start_date"),
        date_add($"d", 1).cast("timestamp").as("end_date"))

  private lazy val patients: DataFrame =
    Tables.read(spark, sf, "customer").select(
      $"c_custkey".as("patient_num"),
      when($"c_custkey" % 2 === 0, "female").otherwise("male")
        .as("sex_cd"),
      ($"c_custkey" % 80 + 10).cast("int").as("age_in_years_num"),
      lit(null).cast("timestamp").as("death_date"))

  private lazy val codeMap: DataFrame = Seq(
    ("positive", "EVT:purchase", 1.0),
    ("severe", "EVT:error", 1.0),
    ("lab", "EVT:view", 2.0),
    ("lab", "EVT:click", 1.0)
  ).toDF("code_category", "local_code", "scale_factor")

  private lazy val cohortDf =
    FourCE.cohort(obs, visits, patients, codeMap, cfg).cache()

  test("cohort: every member has a positive fact and a windowed admission") {
    val n = cohortDf.count()
    assert(n > 0)
    // independently derived: patients with a purchase whose first
    // event-day (= first admission) falls in [pos-7, pos+14]
    val e = Tables.read(spark, sf, "events")
    val pos = e.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(to_date(min($"ts")).as("pos_date"))
    val adm = e.select($"user_id", to_date($"ts").as("d")).distinct()
    val expected = adm.join(pos, Seq("user_id"))
      .filter($"d" >= date_sub($"pos_date", 7) &&
        $"d" <= date_add($"pos_date", 14))
      .select($"user_id").distinct().count()
    assert(n === expected)
  }

  test("daily counts: monotone cumulatives converging to cohort totals") {
    val dc = FourCE.dailyCounts(cohortDf, visits, cfg).collect()
    assert(dc.nonEmpty)
    val cumAll = dc.map(_.getAs[Long]("cumulative_patients_all"))
    assert(cumAll.sameElements(cumAll.sorted))
    assert(cumAll.last === cohortDf.count())
    val cumSev = dc.map(_.getAs[Long]("cumulative_patients_severe"))
    assert(cumSev.last ===
      cohortDf.filter($"severe" === 1).count())
    // census never exceeds the cumulative admitted population
    dc.foreach { r =>
      assert(r.getAs[Long]("num_patients_in_hospital_on_this_date") <=
        r.getAs[Long]("cumulative_patients_all"))
    }
  }

  test("demographics: all/all row equals cohort size; parts sum to all") {
    val d = FourCE.demographics(cohortDf, patients, cfg)
    val rows = d.collect()
    val allAll = rows.find(r => r.getAs[String]("sex") == "all" &&
      r.getAs[String]("age_group") == "all").get
    assert(allAll.getAs[Long]("num_patients_all") === cohortDf.count())
    // one-dimension marginals: sum over sexes at age_group='all'
    val bySex = rows.filter(r => r.getAs[String]("sex") != "all" &&
      r.getAs[String]("age_group") == "all")
    assert(bySex.map(_.getAs[Long]("num_patients_all")).sum ===
      allAll.getAs[Long]("num_patients_all"))
  }

  test("labs: scale factor applied, stats well-formed, days nonnegative") {
    val l = FourCE.labs(obs, cohortDf, codeMap, cfg).collect()
    assert(l.nonEmpty)
    l.foreach { r =>
      assert(r.getAs[Int]("days_since_admission") >= 0)
      assert(r.getAs[Long]("num_patients_all") >=
        r.getAs[Long]("num_patients_ever_severe"))
      assert(r.getAs[Double]("mean_value_all") > 0)
    }
    // view has scale_factor 2.0: its global mean must be exactly 2×
    // the raw event mean over the same (cohort, window) subset
    val raw = obs.filter($"concept_cd" === "EVT:view" &&
        $"valtype_cd" === "N" && $"nval_num" > 0)
      .join(cohortDf.select($"patient_num", $"admission_date"),
        Seq("patient_num"))
      .filter(to_date($"start_date") >= $"admission_date")
    val rawMean = raw.agg(avg($"nval_num" * 2.0)).head().getDouble(0)
    val labMean = FourCE.labs(obs, cohortDf, codeMap, cfg)
      .filter($"loinc" === "EVT:view")
      .agg(sum($"mean_value_all" * $"num_patients_all") /
        sum($"num_patients_all")).head().getDouble(0)
    // weighted day-mean vs global mean agree only when groups weight by
    // patient counts = event counts; allow loose agreement
    assert(math.abs(labMean - rawMean) / rawMean < 0.5)
  }

  test("diagnoses: 3-char rollup, severe counts bounded by all counts") {
    val dg = FourCE.diagnoses(obs, cohortDf, cfg).collect()
    assert(dg.nonEmpty)
    dg.foreach { r =>
      assert(r.getAs[String]("icd_code_3chars").length <= 3)
      assert(r.getAs[Long]("num_patients_all_since_admission") >=
        r.getAs[Long]("num_patients_ever_severe_since_admission"))
    }
  }

  test("clinical course: day-0 census equals cohort admitted that day") {
    val cc = FourCE.clinicalCourse(cohortDf, visits, cfg).collect()
    assert(cc.nonEmpty)
    cc.foreach { r =>
      assert(r.getAs[Int]("days_since_admission") >= 0)
      assert(r.getAs[Long]("num_patients_all_still_in_hospital") >=
        r.getAs[Long]("num_patients_ever_severe_still_in_hospital"))
    }
    // every cohort member has an event (=visit) on their admission day
    val day0 = cc.find(_.getAs[Int]("days_since_admission") == 0).get
    assert(day0.getAs[Long]("num_patients_all_still_in_hospital") ===
      cohortDf.count())
  }

  test("medications: four-count shape over the med code map") {
    val medMap = Seq(("med", "EVT:click", 1.0)).toDF(
      "code_category", "local_code", "scale_factor")
    val m = FourCE.medications(obs, cohortDf, medMap, cfg).collect()
    assert(m.length === 1 && m.head.getAs[String]("med_class") ==
      "EVT:click")
    assert(m.head.getAs[Long]("num_patients_all_since_admission") >=
      m.head.getAs[Long]("num_patients_ever_severe_since_admission"))
  }

  test("empty cohort yields empty, well-formed outputs (no crash)") {
    val noMatch = Seq(("positive", "EVT:never", 1.0),
      ("severe", "EVT:never2", 1.0), ("lab", "EVT:never3", 1.0))
      .toDF("code_category", "local_code", "scale_factor")
    val c = FourCE.cohort(obs, visits, patients, noMatch, cfg)
    assert(c.count() === 0)
    assert(FourCE.dailyCounts(c, visits, cfg).count() === 0)
    assert(FourCE.labs(obs, c, noMatch, cfg).count() === 0)
    assert(FourCE.diagnoses(obs, c, cfg).count() === 0)
    // demographics of an empty cohort: at most the empty cube shell
    val d = FourCE.demographics(c, patients, cfg).collect()
    assert(d.forall(_.getAs[Long]("num_patients_all") == 0L))
    // Phase-2 files degrade to empty frames, never throw
    assert(FourCE.patientClinicalCourse(c, visits, cfg).count() === 0)
    assert(FourCE.patientObservations(obs, c, noMatch, cfg)
      .count() === 0)
    assert(FourCE.patientSummary(c, visits, patients, cfg).count() === 0)
    assert(FourCE.patientMapping(c, cfg).count() === 0)
  }

  test("writeCsv emits one headered part per aggregate file; concat mode") {
    val dir = java.nio.file.Files
      .createTempDirectory("fource_csv_").toString
    try {
      FourCE.writeCsv(
        FourCE.demographics(tinyCohort, tinyPatients, cfg),
        s"$dir/Demographics")
      val parts = new java.io.File(s"$dir/Demographics").listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(parts.length === 1) // site-level file = one flat CSV
      val back = spark.read.option("header", "true")
        .csv(s"$dir/Demographics")
      assert(back.count() ===
        FourCE.demographics(tinyCohort, tinyPatients, cfg).count())
      assert(back.columns.toSeq === Seq("siteid", "sex", "age_group",
        "race", "num_patients_all", "num_patients_ever_severe"))
      // output_as_columns=0: one pipe-joined line per row, NULLs -> ''
      val lines = FourCE.concatColumns(
        FourCE.demographics(tinyCohort, tinyPatients, cfg)).collect()
      assert(lines.forall(_.getString(0).count(_ == '|') === 5))
      assert(lines.exists(_.getString(0).startsWith("site|")))
    } finally Tables.deleteTree(dir)
  }

  test("obfuscation: masked small counts, blur bounded, deterministic") {
    val ocfg = cfg.copy(blur = 2, maskThreshold = 10)
    val d1 = FourCE.demographics(cohortDf, patients, ocfg).collect()
    val d2 = FourCE.demographics(cohortDf, patients, ocfg).collect()
    assert(d1.sameElements(d2)) // retry-safe determinism
    val exact = FourCE.demographics(cohortDf, patients, cfg)
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        r.getAs[Long]("num_patients_all")).toMap
    d1.foreach { r =>
      val t = exact((r.getString(1), r.getString(2)))
      val o = r.getAs[Long]("num_patients_all")
      if (t < 10) assert(o === -99L)
      else assert(math.abs(o - t) <= 2)
    }
  }

  // ---- hand-computed tiny i2b2 fixture (Phase-2 goldens + severe labs)

  // patient 1: pos 01-02, admitted 01-03, severe 01-05, dies 01-10;
  //            inpatient 01-03..01-06 and 01-08..01-09
  // patient 2: pos 01-04, admitted 01-04, never severe;
  //            inpatient 01-04..01-05
  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 10:00:00")
  private lazy val tinyObs: DataFrame = Seq(
    (1L, 10L, "COVID:pos", ts("2020-01-02"), "T", None),
    (1L, 10L, "SEV:icu", ts("2020-01-05"), "T", None),
    (1L, 10L, "LAB:crp", ts("2020-01-03"), "N", Some(10.0)),
    (1L, 10L, "LAB:crp", ts("2020-01-04"), "N", Some(20.0)),
    (1L, 10L, "ICD10:U07.1", ts("2020-01-01"), "T", None),
    (2L, 20L, "COVID:pos", ts("2020-01-04"), "T", None),
    (2L, 20L, "LAB:crp", ts("2020-01-05"), "N", Some(5.0))
  ).toDF("patient_num", "encounter_num", "concept_cd", "start_date",
    "valtype_cd", "nval_num")

  private lazy val tinyVisits: DataFrame = Seq(
    (10L, 1L, "I", ts("2020-01-03"), ts("2020-01-06")),
    (11L, 1L, "I", ts("2020-01-08"), ts("2020-01-09")),
    (20L, 2L, "I", ts("2020-01-04"), ts("2020-01-05"))
  ).toDF("encounter_num", "patient_num", "inout_cd", "start_date",
    "end_date")

  private lazy val tinyPatients: DataFrame = Seq(
    (1L, "male", 30, Some(ts("2020-01-10")), "white"),
    (2L, "female", 50, None: Option[java.sql.Timestamp], "asian")
  ).toDF("patient_num", "sex_cd", "age_in_years_num", "death_date",
    "race_cd")

  private lazy val tinyCodeMap: DataFrame = Seq(
    ("positive", "COVID:pos", 1.0),
    ("severe", "SEV:icu", 1.0),
    ("lab", "LAB:crp", 1.0),
    ("diag", "ICD10:U07.1", 1.0)
  ).toDF("code_category", "local_code", "scale_factor")

  private lazy val tinyCohort =
    FourCE.cohort(tinyObs, tinyVisits, tinyPatients, tinyCodeMap, cfg)
      .cache()

  test("tiny cohort golden: admissions, severity, death as hand-computed") {
    val rows = tinyCohort.orderBy($"patient_num").collect()
    assert(rows.length === 2)
    val p1 = rows(0)
    assert(p1.getAs[java.sql.Date]("admission_date").toString ===
      "2020-01-03")
    assert(p1.getAs[Int]("severe") === 1)
    assert(p1.getAs[java.sql.Date]("severe_date").toString ===
      "2020-01-05")
    assert(p1.getAs[java.sql.Date]("death_date").toString ===
      "2020-01-10")
    val p2 = rows(1)
    assert(p2.getAs[java.sql.Date]("admission_date").toString ===
      "2020-01-04")
    assert(p2.getAs[Int]("severe") === 0)
    assert(p2.getAs[java.sql.Date]("severe_date") === null)
  }

  test("labs: ever-severe subgroup stats match hand-computed goldens") {
    val l = FourCE.labs(tinyObs, tinyCohort, tinyCodeMap, cfg)
      .orderBy($"days_since_admission").collect()
    // (crp, day 0): p1 value 10; (crp, day 1): p1=20 (severe), p2=5
    assert(l.length === 2)
    val day0 = l(0)
    assert(day0.getAs[Int]("days_since_admission") === 0)
    assert(day0.getAs[String]("units") === "-999")
    assert(day0.getAs[Long]("num_patients_all") === 1L)
    assert(day0.getAs[Double]("mean_value_all") === 10.0)
    assert(day0.getAs[Long]("num_patients_ever_severe") === 1L)
    assert(day0.getAs[Double]("mean_value_ever_severe") === 10.0)
    val day1 = l(1)
    assert(day1.getAs[Long]("num_patients_all") === 2L)
    assert(day1.getAs[Double]("mean_value_all") === 12.5)
    assert(day1.getAs[Long]("num_patients_ever_severe") === 1L)
    assert(day1.getAs[Double]("mean_value_ever_severe") === 20.0)
    // single severe sample: stdev NaN-normalized to NULL
    assert(day1.isNullAt(day1.fieldIndex("stdev_value_ever_severe")))
    assert(math.abs(day1.getAs[Double]("mean_log_value_ever_severe") -
      math.log(20.5)) < 1e-6)
  }

  test("labs: units_cd column passes through when present") {
    val withUnits = tinyObs.withColumn("units_cd",
      when($"concept_cd" === "LAB:crp", "mg/L"))
    val l = FourCE.labs(withUnits, tinyCohort, tinyCodeMap, cfg)
      .collect()
    assert(l.nonEmpty && l.forall(_.getAs[String]("units") == "mg/L"))
  }

  test("diagnoses: icd_version derived from the concept prefix") {
    val dg = FourCE.diagnoses(tinyObs, tinyCohort, cfg).collect()
    val icd = dg.filter(_.getAs[String]("icd_code_3chars") == "U07")
    assert(icd.length === 1)
    assert(icd.head.getAs[Int]("icd_version") === 10)
    // non-ICD prefixes carry the -999 sentinel, never a fake version
    assert(dg.filterNot(_.getAs[String]("icd_code_3chars") == "U07")
      .forall(_.getAs[Int]("icd_version") === -999))
  }

  test("demographics: race off -> -999 sentinel; race on -> 3rd dimension") {
    val off = FourCE.demographics(tinyCohort, tinyPatients, cfg).collect()
    assert(off.nonEmpty &&
      off.forall(_.getAs[String]("race") == "-999"))
    val on = FourCE.demographics(tinyCohort, tinyPatients,
      cfg.copy(includeRace = true)).collect()
    val races = on.map(_.getAs[String]("race")).toSet
    assert(races === Set("white", "asian", "all"))
    // the all/all/all row still counts the whole cohort exactly once
    val allAll = on.find(r => r.getAs[String]("sex") == "all" &&
      r.getAs[String]("age_group") == "all" &&
      r.getAs[String]("race") == "all").get
    assert(allAll.getAs[Long]("num_patients_all") === 2L)
    // per-race marginal at sex=all, age=all sums back to the total
    val byRace = on.filter(r => r.getAs[String]("sex") == "all" &&
      r.getAs[String]("age_group") == "all" &&
      r.getAs[String]("race") != "all")
    assert(byRace.map(_.getAs[Long]("num_patients_all")).sum === 2L)
  }

  test("obfuscation: mask wins over blur on every aggregate output") {
    // threshold above every true count -> every count column must be -99
    val mcfg = cfg.copy(blur = 2, maskThreshold = 1000000)
    def countCols(df: DataFrame): Seq[String] =
      df.columns.filter(c => c.startsWith("num_patients") ||
        c.startsWith("cumulative_patients")).toSeq
    val outputs = Seq(
      FourCE.dailyCounts(tinyCohort, tinyVisits, mcfg),
      FourCE.demographics(tinyCohort, tinyPatients, mcfg),
      FourCE.labs(tinyObs, tinyCohort, tinyCodeMap, mcfg),
      FourCE.clinicalCourse(tinyCohort, tinyVisits, mcfg),
      FourCE.medications(tinyObs, tinyCohort, tinyCodeMap, mcfg, "diag"),
      FourCE.diagnoses(tinyObs, tinyCohort, mcfg))
    outputs.foreach { df =>
      val cols = countCols(df)
      assert(cols.nonEmpty)
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        cols.foreach { c =>
          assert(r.getAs[Long](c) === -99L,
            s"column $c not masked in ${df.columns.mkString(",")}")
        }
      }
    }
    // and with masking off, blur stays within ±blur of the truth
    val bcfg = cfg.copy(blur = 2)
    val exact = FourCE.clinicalCourse(tinyCohort, tinyVisits, cfg)
      .collect().map(r => r.getAs[Int]("days_since_admission") ->
        r.getAs[Long]("num_patients_all_still_in_hospital")).toMap
    FourCE.clinicalCourse(tinyCohort, tinyVisits, bcfg).collect()
      .foreach { r =>
        val t = exact(r.getAs[Int]("days_since_admission"))
        assert(math.abs(
          r.getAs[Long]("num_patients_all_still_in_hospital") - t) <= 2)
      }
  }

  test("patient clinical course: hand-computed per-day flag golden") {
    val pcc = FourCE.patientClinicalCourse(tinyCohort, tinyVisits, cfg)
      .collect()
      .map(r => (r.getAs[Long]("patient_num"),
        r.getAs[Int]("days_since_admission")) ->
        (r.getAs[Int]("in_hospital"), r.getAs[Int]("severe"),
          r.getAs[Int]("deceased"))).toMap
    // p1: admitted 01-03, in hospital 03-06 and 08-09, severe from
    // 01-05 (day 2), dies 01-10 (day 7) -> spine runs day 0..7
    val p1Expected = Map(
      0 -> (1, 0, 0), 1 -> (1, 0, 0), 2 -> (1, 1, 0), 3 -> (1, 1, 0),
      4 -> (0, 1, 0), 5 -> (1, 1, 0), 6 -> (1, 1, 0), 7 -> (0, 1, 1))
    p1Expected.foreach { case (d, exp) =>
      assert(pcc((1L, d)) === exp, s"patient 1 day $d")
    }
    // p2: admitted 01-04, in hospital 04-05, never severe, alive
    assert(pcc((2L, 0)) === ((1, 0, 0)))
    assert(pcc((2L, 1)) === ((1, 0, 0)))
    assert(pcc.size === 10)
  }

  test("patient observations: hand-computed EAV export golden") {
    val po = FourCE.patientObservations(tinyObs, tinyCohort, tinyCodeMap,
      cfg).collect()
      .map(r => (r.getAs[Long]("patient_num"),
        r.getAs[Int]("days_since_admission"),
        r.getAs[String]("concept_type"),
        r.getAs[String]("concept_code")) -> r.getAs[Double]("value"))
      .toMap
    assert(po === Map(
      (1L, -2, "diag", "ICD10:U07.1") -> -999.0,
      (1L, -1, "positive", "COVID:pos") -> -999.0,
      (1L, 0, "lab", "LAB:crp") -> 10.0,
      (1L, 1, "lab", "LAB:crp") -> 20.0,
      (1L, 2, "severe", "SEV:icu") -> -999.0,
      (2L, 0, "positive", "COVID:pos") -> -999.0,
      (2L, 1, "lab", "LAB:crp") -> 5.0))
  }

  test("patient summary: hand-computed per-patient golden") {
    val ps = FourCE.patientSummary(tinyCohort, tinyVisits, tinyPatients,
      cfg).collect()
    assert(ps.length === 2)
    val p1 = ps.find(_.getAs[Long]("patient_num") == 1L).get
    // p1 in hospital on {01-03..06, 01-08, 01-09} = 6 days
    assert(p1.getAs[Long]("num_days_in_hospital") === 6L)
    assert(p1.getAs[java.sql.Date]("last_hospital_date").toString ===
      "2020-01-09")
    assert(p1.getAs[Int]("severe") === 1)
    assert(p1.getAs[Int]("deceased") === 1)
    assert(p1.getAs[String]("age_group") === "21to45")
    assert(p1.getAs[String]("race") === "-999")
    val p2 = ps.find(_.getAs[Long]("patient_num") == 2L).get
    assert(p2.getAs[Long]("num_days_in_hospital") === 2L)
    assert(p2.getAs[Int]("severe") === 0)
    assert(p2.getAs[Int]("deceased") === 0)
    assert(p2.getAs[String]("sex") === "female")
    assert(p2.getAs[String]("age_group") === "46to65")
  }

  test("patient mapping: dense deterministic study numbers") {
    val m1 = FourCE.patientMapping(tinyCohort, cfg).collect()
    val m2 = FourCE.patientMapping(tinyCohort, cfg).collect()
    assert(m1.sameElements(m2))
    assert(m1.map(r => r.getAs[Long]("patient_num") ->
      r.getAs[Int]("study_num")).toMap === Map(1L -> 1, 2L -> 2))
  }

  test("cohort golden: severe on/after admission, severe-only, shared code, null dates") {
    val obs = Seq(
      // p1: positive 02-02, severe before (02-01) and after (02-06)
      // admission, plus severe and positive facts with no date
      (1L, "COVID:pos", Some(ts("2020-02-02"))),
      (1L, "SEV:icu", Some(ts("2020-02-01"))),
      (1L, "SEV:icu", Some(ts("2020-02-06"))),
      (1L, "SEV:icu", None),
      (1L, "COVID:pos", None),
      // p2: severe-only, admitted -> not in the cohort
      (2L, "SEV:icu", Some(ts("2020-02-03"))),
      // p3: one code listed under both categories
      (3L, "BOTH:x", Some(ts("2020-02-10"))),
      // p4: its only positive fact has no date -> no pos_date
      (4L, "COVID:pos", None),
      // p5: severe only before admission -> not severe
      (5L, "COVID:pos", Some(ts("2020-02-04"))),
      (5L, "SEV:icu", Some(ts("2020-02-04")))
    ).toDF("patient_num", "concept_cd", "start_date")
    val visits = Seq(
      (1L, "I", ts("2020-02-03"), ts("2020-02-08")),
      (2L, "I", ts("2020-02-03"), ts("2020-02-04")),
      (3L, "I", ts("2020-02-10"), ts("2020-02-11")),
      (4L, "I", ts("2020-02-03"), ts("2020-02-04")),
      (5L, "I", ts("2020-02-05"), ts("2020-02-06"))
    ).toDF("patient_num", "inout_cd", "start_date", "end_date")
    val patients = (1L to 5L).map(p => (p, None: Option[java.sql.Timestamp]))
      .toDF("patient_num", "death_date")
    val codeMap = Seq(("positive", "COVID:pos", 1.0),
      ("severe", "SEV:icu", 1.0), ("positive", "BOTH:x", 1.0),
      ("severe", "BOTH:x", 1.0))
      .toDF("code_category", "local_code", "scale_factor")
    val rows = FourCE.cohort(obs, visits, patients, codeMap, cfg)
      .orderBy($"patient_num").collect()
      .map(r => (r.getAs[Long]("patient_num"),
        String.valueOf(r.getAs[java.sql.Date]("admission_date")),
        r.getAs[Int]("severe"),
        String.valueOf(r.getAs[java.sql.Date]("severe_date"))))
    assert(rows.toSeq === Seq(
      (1L, "2020-02-03", 1, "2020-02-06"),
      (3L, "2020-02-10", 1, "2020-02-10"),
      (5L, "2020-02-05", 0, "null")))
  }

  // ---- the distinct-patient counts against the countDistinct forms

  /** The cohort and count outputs written with one countDistinct per
    * count, as a reference for the library's two-level aggregates. */
  private object CountDistinctRef {
    private def codes(codeMap: DataFrame, cat: String) =
      codeMap.filter($"code_category" === cat)
        .select($"local_code", $"scale_factor")

    def cohort(obs: DataFrame, visits: DataFrame, patients: DataFrame,
        codeMap: DataFrame): DataFrame = {
      val pos = obs.join(codes(codeMap, "positive"),
          obs("concept_cd") === $"local_code")
        .groupBy($"patient_num")
        .agg(to_date(min($"start_date")).as("pos_date"))
      val entry = visits.filter($"inout_cd" === "I")
        .select($"patient_num", to_date($"start_date").as("adm"))
        .join(pos, Seq("patient_num"))
        .filter($"adm" >= date_sub($"pos_date", 7) &&
          $"adm" <= date_add($"pos_date", 14))
        .groupBy($"patient_num").agg(min($"adm").as("admission_date"))
      val sev = obs.join(codes(codeMap, "severe"),
          obs("concept_cd") === $"local_code")
        .select($"patient_num", to_date($"start_date").as("sev_d"))
        .join(entry, Seq("patient_num"))
        .filter($"sev_d" >= $"admission_date")
        .groupBy($"patient_num").agg(min($"sev_d").as("severe_date"))
      entry.join(sev, Seq("patient_num"), "left")
        .join(patients.select($"patient_num",
          to_date($"death_date").as("death_date")),
          Seq("patient_num"), "left")
        .select($"patient_num", $"admission_date",
          when($"severe_date".isNotNull, 1).otherwise(0).as("severe"),
          $"severe_date", $"death_date")
    }

    private def stays(c: DataFrame, visits: DataFrame) =
      visits.filter($"inout_cd" === "I")
        .join(c.select($"patient_num", $"admission_date", $"severe"),
          Seq("patient_num"))
        .select($"patient_num", $"severe", $"admission_date",
          explode(sequence(to_date($"start_date"), to_date($"end_date")))
            .as("d"))

    def dailyCounts(c: DataFrame, visits: DataFrame): DataFrame = {
      val spine = c.agg(min($"admission_date").as("d0"))
        .crossJoin(visits.agg(to_date(max($"end_date")).as("d1")))
        .select(explode(sequence($"d0", $"d1")).as("calendar_date"))
      def perDay(dateCol: String, out: String) =
        c.filter(col(dateCol).isNotNull).groupBy(col(dateCol).as("d"))
          .agg(countDistinct($"patient_num").as(out))
      val census = stays(c, visits).groupBy($"d")
        .agg(countDistinct($"patient_num").as("in_hosp"),
          countDistinct(when($"severe" === 1, $"patient_num"))
            .as("in_hosp_severe"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"calendar_date").rowsBetween(Long.MinValue, 0)
      Seq(perDay("admission_date", "n_new"),
        perDay("severe_date", "n_sev"), perDay("death_date", "n_dead"),
        census).foldLeft(spine) { (acc, df) =>
          acc.join(df, acc("calendar_date") === df("d"), "left").drop("d")
        }
        .select(lit("site").as("siteid"), $"calendar_date",
          sum(coalesce($"n_new", lit(0L))).over(w)
            .as("cumulative_patients_all"),
          sum(coalesce($"n_sev", lit(0L))).over(w)
            .as("cumulative_patients_severe"),
          sum(coalesce($"n_dead", lit(0L))).over(w)
            .as("cumulative_patients_dead"),
          coalesce($"in_hosp", lit(0L))
            .as("num_patients_in_hospital_on_this_date"),
          coalesce($"in_hosp_severe", lit(0L))
            .as("num_patients_in_hospital_and_severe_on_this_date"))
        .orderBy($"calendar_date")
    }

    def clinicalCourse(c: DataFrame, visits: DataFrame): DataFrame =
      stays(c, visits)
        .select($"patient_num", $"severe",
          datediff($"d", $"admission_date").as("days_since_admission"))
        .filter($"days_since_admission" >= 0)
        .groupBy($"days_since_admission")
        .agg(countDistinct($"patient_num")
            .as("num_patients_all_still_in_hospital"),
          countDistinct(when($"severe" === 1, $"patient_num"))
            .as("num_patients_ever_severe_still_in_hospital"))
        .select(lit("site").as("siteid"), $"*")
        .orderBy($"days_since_admission")

    private def split(rows: DataFrame, keys: Seq[String]): DataFrame =
      rows.groupBy(keys.map(col): _*)
        .agg(countDistinct(when($"before", $"patient_num"))
            .as("num_patients_all_before_admission"),
          countDistinct(when(!$"before", $"patient_num"))
            .as("num_patients_all_since_admission"),
          countDistinct(when($"before" && $"severe" === 1,
            $"patient_num")).as("num_patients_ever_severe_before_admission"),
          countDistinct(when(!$"before" && $"severe" === 1,
            $"patient_num")).as("num_patients_ever_severe_since_admission"))
        .select(lit("site").as("siteid"), $"*")
        .orderBy(keys.map(col): _*)

    private def factRows(obs: DataFrame, c: DataFrame) =
      obs.join(c.select($"patient_num", $"admission_date", $"severe"),
        Seq("patient_num"))
        .withColumn("before",
          to_date($"start_date") < $"admission_date")

    def diagnoses(obs: DataFrame, c: DataFrame): DataFrame =
      split(factRows(obs, c).select(
        substring(regexp_replace($"concept_cd", "^[A-Z0-9-]+:", ""), 1, 3)
          .as("icd_code_3chars"),
        when($"concept_cd".rlike("^(DIAG-)?ICD10"), lit(10))
          .when($"concept_cd".rlike("^(DIAG-)?ICD9"), lit(9))
          .otherwise(lit(-999)).as("icd_version"),
        $"before", $"patient_num", $"severe"),
        Seq("icd_code_3chars", "icd_version"))

    def medications(obs: DataFrame, c: DataFrame,
        codeMap: DataFrame): DataFrame =
      split(factRows(obs.join(codes(codeMap, "med"),
          obs("concept_cd") === $"local_code"), c)
        .select($"local_code".as("med_class"), $"before",
          $"patient_num", $"severe"), Seq("med_class"))
  }

  test("property: distinct-patient counts equal the countDistinct forms") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    def day(d: Int, h: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2020, 3, 1, h, 0).plusDays(d.toLong))
    val optDay = Gen.frequency(8 -> Gen.choose(0, 20).map(Some(_)),
      1 -> Gen.const(None))
    val fact = for {
      p <- Gen.choose(1L, 6L)
      c <- Gen.oneOf("POS", "SEV", "BOTH", "ICD10:J12", "ICD9:480",
        "MED:a", "X:1")
      d <- optDay
      h <- Gen.choose(0, 23)
    } yield (p, c, d.map(day(_, h)))
    val visit = for {
      p <- Gen.choose(1L, 6L)
      io <- Gen.frequency(4 -> "I", 1 -> "E")
      s <- Gen.choose(0, 20)
      len <- Gen.choose(0, 4)
    } yield (p, io, day(s, 9), day(s + len, 17))
    val world = for {
      facts <- Gen.choose(5, 40).flatMap(Gen.listOfN(_, fact))
      dups <- Gen.choose(1, 5)
      vs <- Gen.choose(3, 12).flatMap(Gen.listOfN(_, visit))
      deaths <- Gen.listOfN(7, Gen.frequency(
        3 -> Gen.const(None), 1 -> optDay.map(_.map(day(_, 12)))))
      rep <- Gen.choose(1L, 6L)
    } yield (facts ++ facts.take(dups), vs, deaths, rep)
    val codeMap = Seq(("positive", "POS", 1.0), ("severe", "SEV", 1.0),
      ("positive", "BOTH", 1.0), ("severe", "BOTH", 1.0),
      ("med", "MED:a", 1.0), ("med", "BOTH", 1.0))
      .toDF("code_category", "local_code", "scale_factor")

    val prop = Prop.forAllNoShrink(world) { case (facts, vs, deaths, rep) =>
      val obs = facts.toDF("patient_num", "concept_cd", "start_date")
      val visits = vs.toDF("patient_num", "inout_cd", "start_date",
        "end_date")
      // patients 1..6 plus a second row for one repeated key
      val patients = ((1L to 6L).zip(deaths) :+ (rep -> deaths(6)))
        .toDF("patient_num", "death_date")
      val c = FourCE.cohort(obs, visits, patients, codeMap, cfg)
      val ref = CountDistinctRef.cohort(obs, visits, patients, codeMap)
      def same(a: DataFrame, b: DataFrame) =
        a.collect().toSeq == b.collect().toSeq
      same(c.orderBy($"patient_num", $"death_date"),
        ref.orderBy($"patient_num", $"death_date")) &&
      same(FourCE.dailyCounts(c, visits, cfg),
        CountDistinctRef.dailyCounts(ref, visits)) &&
      same(FourCE.clinicalCourse(c, visits, cfg),
        CountDistinctRef.clinicalCourse(ref, visits)) &&
      same(FourCE.diagnoses(obs, c, cfg),
        CountDistinctRef.diagnoses(obs, ref)) &&
      same(FourCE.medications(obs, c, codeMap, cfg),
        CountDistinctRef.medications(obs, ref, codeMap))
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(Seed(501L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
