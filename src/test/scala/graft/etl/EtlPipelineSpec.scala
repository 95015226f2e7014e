package graft.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.etl.EtlPipeline.RunResult

/** End-to-end §3.1 trace over a miniature base dir: registry parquet + raw
  * tall-CSV MRF → extract → clean → devlog → registry refresh. */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val tallCsv =
    """hospital_name,last_updated_on,version,hospital_location,hospital_address
      |General,2024-07-01,2.0.0,Atlanta,1 Main St
      |description,code|1,code|1|type,code|2,code|2|type,setting,drug_unit_of_measurement,drug_type_of_measurement,modifiers,standard_charge|gross,standard_charge|discounted_cash,payer_name,plan_name,standard_charge|negotiated_dollar,standard_charge|negotiated_percentage,standard_charge|negotiated_algorithm,standard_charge|methodology,standard_charge|min,standard_charge|max,estimated_amount,additional_generic_notes
      |Knee MRI,73721,CPT,470,MS-DRG,outpatient,,,"26, TC",250.00,200.00,Aetna [AET01],PPO,150.00,,,fee schedule,100.00,300.00,140.00,see notes
      |Knee MRI,73721,CPT,470,MS-DRG,outpatient,,,"26, TC",250.00,200.00,Aetna [AET01],PPO,150.00,,,fee schedule,100.00,300.00,140.00,see notes
      |Blood test,85025,CPT,,,outpatient,,,,50.00,40.00,BCBS,HMO,30.00,,,other,20.00,60.00,25.00,
      |""".stripMargin

  test("full run: extract -> clean -> quarantine -> devlog -> registry refresh") {
    val base = Files.createTempDirectory("graft-etl").toString
    val system = "acme_health"
    Files.createDirectories(Paths.get(s"$base/data/raw data/$system"))
    Files.writeString(Paths.get(s"$base/data/raw data/$system/c1.csv"), tallCsv)

    val registryPath = s"$base/registry"
    Seq(
      ("c1", "Acme Health", "General Hospital", "30303", "c1.csv", "tall csv",
        "", "", 0.0, "new", "", ""),
      ("c2", "Other System", "Other", "11111", "x.csv", "json",
        "", "", 0.0, "new", "", ""))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by", "last_processed_on")
      .withColumn("hospital_address", lit("1 Main St"))
      .write.parquet(registryPath)

    val lake = s"$base/lake"
    val res = EtlPipeline.run(spark, registryPath, "c1", base, "tester",
      lakePath = Some(lake))

    // Tall explode: rows 1+2 (identical, deduped later) give 2 pairs each,
    // row 3 gives 1 pair → 5 extracted; dedup drops 2; "other" methodology
    // without notes quarantines the 85025 row (rule_4).
    assert(res.extractedRows == 5)
    assert(res.duplicatesDropped == 2)
    assert(res.violationRows == 1)
    assert(res.cleanRows == 2)
    assert(res.transparencyScore > 0.9 && res.transparencyScore < 1.0)

    // Artifacts exist where the reference layout says they should.
    assert(Files.list(Paths.get(res.cleanedPath)).count() > 0)
    assert(Files.list(Paths.get(res.quarantinePath)).count() > 0)

    // Registry refreshed in place: version/last_updated_on from the MRF run,
    // status flipped, other campus untouched.
    val reg = spark.read.parquet(registryPath).cache()
    val c1 = reg.filter(col("campus_id") === "c1").head()
    assert(c1.getAs[String]("etl_status") == "cleaned")
    assert(c1.getAs[Double]("transparency_score") == res.transparencyScore)
    assert(c1.getAs[String]("processed_by") == "tester")
    val c2 = reg.filter(col("campus_id") === "c2").head()
    assert(c2.getAs[String]("etl_status") == "new")

    // P9 — system filter.
    assert(EtlPipeline.systemRegistry(reg, "ACME HEALTH").count() == 1)

    // Lake landing: cleaned rows visible via the partition-pruned read.
    assert(graft.meta.Lake.readCampus(spark, lake, "acme_health", "c1")
      .count() == res.cleanRows)
  }

  test("unknown campus id raises the reference's lookup error") {
    val base = Files.createTempDirectory("graft-etl2").toString
    val registryPath = s"$base/registry"
    Seq(("c1", "s", "h", "z", "f", "tall csv"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure").write.parquet(registryPath)
    val e = intercept[IllegalArgumentException] {
      EtlPipeline.run(spark, registryPath, "nope", base, "t")
    }
    assert(e.getMessage.contains("not found in hospital registry"))
  }

  private val wideCsv =
    """hospital_name,last_updated_on,version,hospital_location,hospital_address
      |General,2024-07-01,2.0.0,Atlanta,1 Main St
      |description,code|1,code|1|type,setting,drug_unit_of_measurement,drug_type_of_measurement,modifiers,standard_charge|gross,standard_charge|discounted_cash,standard_charge|min,standard_charge|max,additional_generic_notes,standard_charge|Aetna|PPO|negotiated_dollar,standard_charge|Aetna|PPO|methodology
      |Knee MRI,73721,CPT,outpatient,,,,250.00,200.00,100.00,300.00,,150.00,fee schedule
      |""".stripMargin

  private val jsonMrf =
    """{ "hospital_name": "General", "hospital_address": "2 Oak St",
      |  "last_updated_on": "2024-08-01", "version": "3.0.0",
      |  "standard_charge_information": [
      |    { "description": "MRI",
      |      "code_information": [ {"code": "73721", "type": "CPT"} ],
      |      "standard_charges": [
      |        { "gross_charge": 100.0, "discounted_cash": 80.0, "setting": "outpatient",
      |          "minimum": 50.0, "maximum": 150.0,
      |          "payers_information": [
      |            { "payer_name": "Aetna", "plan_name": "PPO",
      |              "methodology": "fee schedule", "standard_charge_dollar": 90.0 } ] } ] } ] }
      |""".stripMargin

  test("wide-csv and json structures dispatch end-to-end; runSystem batches a system") {
    val base = Files.createTempDirectory("graft-etl3").toString
    val system = "multi_sys"
    Files.createDirectories(Paths.get(s"$base/data/raw data/$system"))
    Files.writeString(Paths.get(s"$base/data/raw data/$system/w1.csv"), wideCsv)
    Files.writeString(Paths.get(s"$base/data/raw data/$system/j1.json"), jsonMrf)
    val registryPath = s"$base/registry"
    Seq(
      ("w1", "Multi Sys", "Wide Hosp", "30301", "w1.csv", "wide csv",
        "", "", 0.0, "new", "", "", "1 Main St"),
      ("j1", "Multi Sys", "Json Hosp", "30302", "j1.json", "json",
        "", "", 0.0, "new", "", "", "2 Oak St"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by",
        "last_processed_on", "hospital_address")
      .write.parquet(registryPath)

    val results = EtlPipeline.runSystem(spark, registryPath, "multi sys", base, "t")
    assert(results.map(_.structure).toSet == Set("wide csv", "json"))
    assert(results.forall(r => r.extractedRows > 0 && r.cleanRows > 0))
    val reg = spark.read.parquet(registryPath)
    assert(reg.filter(col("etl_status") === "cleaned").count() == 2)
    // json devlog metadata came from the MRF top level
    val j1 = reg.filter(col("campus_id") === "j1").head()
    assert(j1.getAs[String]("version") == "3.0.0")
    assert(j1.getAs[String]("last_updated_on") == "2024-08-01")
  }

  /** A base dir with one system's raw MRFs (`file name -> content`) and a
    * registry of `(campus_id, raw file, structure)` rows, in one file so
    * that registry order is row order. */
  private def systemBase(prefix: String, system: String, files: Map[String, String],
      campuses: Seq[(String, String, String)]): (String, String) = {
    val base = Files.createTempDirectory(prefix).toString
    val slug = system.toLowerCase.replace(" ", "_")
    Files.createDirectories(Paths.get(s"$base/data/raw data/$slug"))
    files.foreach { case (name, body) =>
      Files.writeString(Paths.get(s"$base/data/raw data/$slug/$name"), body)
    }
    val registryPath = s"$base/registry"
    campuses.map { case (id, file, structure) =>
      (id, system, s"Hospital $id", "30301", file, structure,
        "", "", 0.0, "new", "", "", "1 Main St")
    }.toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by",
        "last_processed_on", "hospital_address")
      .coalesce(1).write.parquet(registryPath)
    (base, registryPath)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("job-count guard: one tall-csv run stays within its Spark job budget") {
    val (base, registryPath) = systemBase("graft-etl-jobs", "Acme Health",
      Map("c1.csv" -> tallCsv), Seq(("c1", "c1.csv", "tall csv"), ("c2", "x.csv", "json")))
    val (res, rec) = JobRecorder.during(spark.sparkContext)(
      EtlPipeline.run(spark, registryPath, "c1", base, "tester"))
    assert(res.get.cleanRows == 2)
    // 14 = registry scan 2 (footer, collect), MRF metadata 1, CSV header 1,
    // extract write 1, cleaned write 3 (dedup shuffle, cache build, write),
    // quarantine write 1, summary 2, devlog 1, registry rewrite 2 (entries
    // broadcast, write). A re-added count() or head() pushes it over.
    assert(rec.jobs <= 14, s"${rec.jobs} jobs")
  }

  test("an extract with every code type rejected fails before any cleaned output") {
    val rejected = tallCsv.replace(",CPT,", ",FOO,").replace(",MS-DRG,", ",BAR,")
    val (base, registryPath) = systemBase("graft-etl-empty", "Acme Health",
      Map("c1.csv" -> rejected), Seq(("c1", "c1.csv", "tall csv")))
    val e = intercept[IllegalArgumentException] {
      EtlPipeline.run(spark, registryPath, "c1", base, "tester")
    }
    assert(e.getMessage.contains("Extraction produced 0 canonical rows"))
    assert(!Files.exists(Paths.get(s"$base/data/cleaned data")))
    assert(!Files.exists(Paths.get(s"$base/data/logs/rules violations")))
    val c1 = spark.read.parquet(registryPath).head()
    assert(c1.getAs[String]("etl_status") == "new")
  }

  test("a campus whose every code fails format validation runs to an empty clean result") {
    val invalid = tallCsv.replace("73721,CPT", "ABC,CPT").replace("85025,CPT", "XYZ,CPT")
      .replace("470,MS-DRG", "47,MS-DRG")
    val (base, registryPath) = systemBase("graft-etl-invalid", "Acme Health",
      Map("c1.csv" -> invalid), Seq(("c1", "c1.csv", "tall csv")))
    val res = EtlPipeline.run(spark, registryPath, "c1", base, "tester")
    assert(res.extractedRows == 5)
    assert(res.cleanRows == 0 && res.violationRows == 0 && res.duplicatesDropped == 0)
    assert(res.transparencyScore == 0.0)
  }

  test("runSystem: failing campuses leave one registry rewrite for the rest; first failure rethrown") {
    val (base, registryPath) = systemBase("graft-etl-fail", "Fail Sys",
      Map("t1.csv" -> tallCsv, "w1.csv" -> wideCsv),
      Seq(("t1", "t1.csv", "tall csv"), ("gone1", "missing1.json", "json"),
        ("w1", "w1.csv", "wide csv"), ("gone2", "missing2.csv", "tall csv")))
    val (out, rec) = JobRecorder.during(spark.sparkContext)(
      EtlPipeline.runSystem(spark, registryPath, "fail sys", base, "t"))
    assert(out.isFailure)
    assert(out.failed.get.getMessage.contains("missing1.json"))
    val registryWrites = rec.executionPlans.count(p =>
      p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(s"$registryPath,"))
    assert(registryWrites == 1)
    val status = spark.read.parquet(registryPath).collect()
      .map(r => r.getAs[String]("campus_id") -> r.getAs[String]("etl_status")).toMap
    assert(status == Map("t1" -> "cleaned", "w1" -> "cleaned", "gone1" -> "new", "gone2" -> "new"))
  }

  test("runSystem gives the same results as run campus by campus") {
    val tall2 = tallCsv.replace("Blood test", "Blood panel").replace("other,20.00", "other,25.00")
    val json2 = jsonMrf.replace("\"MRI\"", "\"CT scan\"").replace("90.0", "95.0")
    val files = Map("t1.csv" -> tallCsv, "t2.csv" -> tall2, "w1.csv" -> wideCsv,
      "j1.json" -> jsonMrf, "j2.json" -> json2)
    val campuses = Seq(("t1", "t1.csv", "tall csv"), ("j1", "j1.json", "json"),
      ("w1", "w1.csv", "wide csv"), ("t2", "t2.csv", "tall csv"), ("j2", "j2.json", "json"))
    val (sysBase, sysReg) = systemBase("graft-etl-sys", "Equiv Sys", files, campuses)
    val (oneBase, oneReg) = systemBase("graft-etl-one", "Equiv Sys", files, campuses)

    val together = EtlPipeline.runSystem(spark, sysReg, "equiv sys", sysBase, "t")
    val apart = campuses.map(c => EtlPipeline.run(spark, oneReg, c._1, oneBase, "t"))
    def relative(base: String)(r: RunResult): RunResult = r.copy(
      extractedPath = r.extractedPath.stripPrefix(base),
      cleanedPath = r.cleanedPath.stripPrefix(base),
      quarantinePath = r.quarantinePath.stripPrefix(base))
    assert(together.map(_.campusId) == campuses.map(_._1))
    assert(together.map(relative(sysBase)) == apart.map(relative(oneBase)))

    def csvRows(base: String, dir: String): Seq[String] =
      sortedRows(spark.read.option("header", "true").csv(s"$base/data/$dir/equiv_sys/*"))
    for (dir <- Seq("cleaned data", "logs/rules violations"))
      assert(csvRows(sysBase, dir) == csvRows(oneBase, dir), dir)
    def devlogRows(base: String): Seq[String] =
      sortedRows(spark.read.json(s"$base/data/logs/devlogs/equiv_sys/*").drop("seq"))
    assert(devlogRows(sysBase) == devlogRows(oneBase))
    def registryRows(path: String): Seq[String] =
      sortedRows(spark.read.parquet(path).drop("last_processed_on"))
    assert(registryRows(sysReg) == registryRows(oneReg))
    assert(spark.read.parquet(sysReg).filter(col("etl_status") === "cleaned").count() == 5)
  }
}
