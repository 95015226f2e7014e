package graft.etl

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.{Cleaning, Rules}
import graft.core.Schemas
import graft.extract.{JsonExtractor, MrfCsv, TallExtractor, WideExtractor}
import graft.meta.Devlog

/** The flagship end-to-end pipeline — the Spark re-expression of
  * ETL_pipeline.py main() (SURVEY §3.1):
  *
  *   registry lookup (S1/P1) → format dispatch (registry.structure,
  *   ETL_pipeline.py:19-38,61-72) → EXTRACT to the canonical CSV (S8/S9) →
  *   CLEAN (quarantine S10, counters, transparency score) → devlog append
  *   (S11) → registry update (S12/J4).
  *
  * The reference crosses phases through files on disk; preserved here (the
  * extracted/cleaned CSVs are the pipeline's public artifacts), but each
  * phase is one distributed logical plan instead of a chunk loop. Layout
  * mirrors the reference: `data/raw data|extracted data|cleaned data|logs/
  * {system}/...` keyed by the system slug (F15) — which doubles as the
  * partition key a 1000-hospital run would parallelize over.
  */
object EtlPipeline {

  final case class RunResult(
      campusId: String, system: String, structure: String,
      extractedRows: Long, cleanRows: Long, violationRows: Long,
      duplicatesDropped: Long, transparencyScore: Double,
      extractedPath: String, cleanedPath: String, quarantinePath: String,
      outputMb: Double)

  /** Known `structure` values (registry dispatch, ETL_pipeline.py:61-72). */
  val Structures: Set[String] = Set("json", "tall csv", "wide csv")

  /** One campus through the pipeline: [[runSystem]]'s code with a
    * one-campus selection. */
  def run(spark: SparkSession, registryPath: String, campusId: String,
      baseDir: String, processedBy: String,
      formatOverride: Option[String] = None,
      lakePath: Option[String] = None): RunResult =
    runCampuses(spark, registryPath, baseDir, processedBy, formatOverride, lakePath) { registry =>
      // S1/P1 — registry key lookup; error when absent.
      val rows = registry.filter(col("campus_id") === lit(campusId)).limit(1).collect()
      require(rows.nonEmpty, s"Campus ID '$campusId' not found in hospital registry.")
      rows.toSeq
    }.head

  /** Batch run over every registry row of one healthcare system — the
    * 1000-hospital seam: each campus is an independent pipeline over its own
    * files, so campuses run concurrently, on half the default parallelism in
    * threads (each campus's plans are themselves distributed; as many
    * campuses as cores made each one slower). The registry is read once and
    * rewritten once, after every campus has finished, with the entries of
    * the campuses that succeeded; the first failure (in registry order) is
    * then rethrown. */
  def runSystem(spark: SparkSession, registryPath: String, system: String,
      baseDir: String, processedBy: String): Seq[RunResult] =
    runCampuses(spark, registryPath, baseDir, processedBy, None, None)(
      systemRegistry(_, system).collect().toSeq)

  private def runCampuses(spark: SparkSession, registryPath: String, baseDir: String,
      processedBy: String, formatOverride: Option[String], lakePath: Option[String])(
      select: DataFrame => Seq[Row]): Seq[RunResult] = {
    // The registry is a small dimension: one scan snapshots it into a
    // local frame, which `select` reads without a job and which is
    // the source of the final rewrite (the path itself is overwritten).
    val scanned = spark.read.parquet(registryPath)
    val registry = spark.createDataFrame(scanned.collect().toSeq.asJava, scanned.schema)
    val campuses = select(registry)
    val threads = math.max(1, math.min(campuses.size, spark.sparkContext.defaultParallelism / 2))
    val pool = Executors.newFixedThreadPool(threads)
    val outcomes = try {
      val futures = campuses.map(rec => pool.submit(new Callable[(RunResult, Devlog.DevlogEntry)] {
        def call(): (RunResult, Devlog.DevlogEntry) =
          runCampus(spark, rec, baseDir, formatOverride, lakePath)
      }))
      futures.map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
    } finally pool.shutdown()

    // S12/J4 — one registry refresh from the entries in hand, one plan for
    // any number of campuses.
    val done = outcomes.collect { case Success(r) => r }
    if (done.nonEmpty) {
      import spark.implicits._
      Devlog.updateRegistry(registry, done.map(_._2).toDS().toDF(), processedBy,
        Devlog.nowString(spark)).write.mode(SaveMode.Overwrite).parquet(registryPath)
    }
    outcomes.collectFirst { case Failure(e) => throw e }
    done.map(_._1)
  }

  /** EXTRACT → CLEAN → quarantine → devlog append for one registry row.
    * Returns the run's result and the devlog entry that refreshes the
    * registry. */
  private def runCampus(spark: SparkSession, rec: Row, baseDir: String,
      formatOverride: Option[String],
      lakePath: Option[String]): (RunResult, Devlog.DevlogEntry) = {
    def field(n: String): String = Option(rec.getAs[Any](n)).map(_.toString).getOrElse("")
    val campusId = field("campus_id")
    val system = field("healthcare_system").toLowerCase.replace(" ", "_") // F15
    val structure = formatOverride.getOrElse(field("structure")).toLowerCase
    require(Structures.contains(structure), s"Unknown structure '$structure'")
    val hospitalName = field("hospital_name")
    val zipCode = field("zip_code")
    val rawPath = s"$baseDir/data/raw data/$system/${field("raw_filename")}"

    // EXTRACT — dispatch to the structure's extractor; capture the MRF's own
    // metadata (version/last_updated_on/address come from the FILE, not the
    // registry — tall_format_csv_extractor.py:66-71, ETL_pipeline.py:92-99).
    val (canonical: DataFrame, mrfMeta: Map[String, String]) = structure match {
      case "tall csv" =>
        (TallExtractor.extractFile(spark, rawPath, hospitalName, zipCode),
          MrfCsv.readMetadata(spark, rawPath))
      case "wide csv" =>
        (WideExtractor.extractFile(spark, rawPath, hospitalName, zipCode),
          MrfCsv.readMetadata(spark, rawPath))
      case "json" =>
        val mrf = JsonExtractor.readMrf(spark, rawPath)
        (JsonExtractor.extract(mrf, hospitalName, zipCode),
          JsonExtractor.metadata(mrf))
    }
    val extractedPath = s"$baseDir/data/extracted data/$system/${campusId}_extracted"
    // Row counts ride the writes that already run, as observations: no
    // separate counting pass.
    val extractedObs = Observation()
    canonical.observe(extractedObs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(extractedPath) // S8/S9 (standard quoting)
    val extractedRows = observedRows(extractedObs)
    // Fail loud on an empty extract (corrupt MRF, all code types rejected):
    // the reference would crash in its parser; a silent 'cleaned' registry
    // flip on garbage input is worse than an error.
    require(extractedRows > 0,
      s"Extraction produced 0 canonical rows for campus '$campusId' from $rawPath")

    // CLEAN — read back all-string (S3 semantics), full pass + rules.
    val extracted = spark.read.option("header", "true")
      .schema(Schemas.canonicalIngest).csv(extractedPath)
    val preDedupObs = Observation()
    val tagged = Rules.tagViolations(Cleaning.dedup(Cleaning.cleanAllPreDedup(extracted)
      .observe(preDedupObs, count(lit(1)).as("rows")))).cache()
    try {
      val (clean, violations) = Rules.split(tagged)
      val cleanedPath = s"$baseDir/data/cleaned data/$system/${campusId}_cleaned"
      val quarantinePath = s"$baseDir/data/logs/rules violations/$system/${campusId}_rules_violated"
      // This write builds the `tagged` cache, which reports the pre-dedup count.
      clean.write.mode(SaveMode.Overwrite).option("header", "true").csv(cleanedPath)
      val preDedupRows = observedRows(preDedupObs)
      // Optionally land the cleaned rows in the partitioned lake (the
      // cross-hospital analytical sink; per-campus CSVs remain the reference-
      // layout artifacts).
      lakePath.foreach(lp =>
        graft.meta.Lake.writeCharges(
          spark.read.option("header", "true").schema(Schemas.canonicalIngest)
            .csv(cleanedPath),
          lp, system, campusId))
      violations.write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(quarantinePath) // S10

      // One summary pass also counts the quarantined rows.
      val summaryRow = Rules.summarize(tagged,
        Seq(count(col("rules_violated")).as("violation_rows"))).head()
      val cleanRows = summaryRow.getAs[Long]("total_rows_cleaned")
      val violationRows = summaryRow.getAs[Long]("violation_rows")
      // Duplicates dropped = rows removed by dedup itself (violation rows are
      // counted as distinct tagged rows, not per-rule, for this delta).
      val dupsDropped = preDedupRows - (cleanRows + violationRows)

      // S11 — devlog append (seq orders entries, L1). The 4dp devlog
      // rounding (cleaning_utils.py:231) is what flows to the registry and
      // the run result.
      val meta = Devlog.metadataFromSummary(summaryRow, dupsDropped)
      val devlogPath = s"$baseDir/data/logs/devlogs/$system/${campusId}_devlog"
      val entry = Devlog.DevlogEntry(
        campusId,
        mrfMeta.getOrElse("hospital_address", field("hospital_address")),
        mrfMeta.getOrElse("version", ""),
        mrfMeta.getOrElse("last_updated_on", ""),
        meta.final_transparency_score,
        devlogSeq(), meta)
      Devlog.append(spark, devlogPath, entry)

      // A11 — output size bookkeeping via Hadoop FS.
      val fs = new Path(cleanedPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val outputMb = fs.getContentSummary(new Path(cleanedPath)).getLength / 1024.0 / 1024.0

      (RunResult(campusId, system, structure, extractedRows, cleanRows,
        violationRows, dupsDropped, meta.final_transparency_score, extractedPath,
        cleanedPath, quarantinePath, outputMb), entry)
    } finally tagged.unpersist()
  }

  /** The `rows` count of an observation whose query has run. A plan that
    * adaptive execution proved empty drops its observation node and
    * reports no metrics at all, which means zero rows. */
  private def observedRows(obs: Observation): Long =
    obs.get.getOrElse("rows", 0L).asInstanceOf[Long]

  /** Devlog ordering value: nanoseconds since epoch (millis would tie for
    * two runs in the same ms, making Devlog.latest nondeterministic). */
  private def devlogSeq(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** P9 — registry rows of one healthcare system (batch_json_explorer.py:30). */
  def systemRegistry(registry: DataFrame, system: String): DataFrame =
    registry.filter(lower(col("healthcare_system")) === system.toLowerCase)
}
