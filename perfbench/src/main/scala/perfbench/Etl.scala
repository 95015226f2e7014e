package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

import graft.clean.{Cleaning, Rules}
import graft.core.Schemas
import graft.etl.EtlPipeline
import graft.etl.EtlPipeline.RunResult
import graft.extract.{JsonExtractor, MrfCsv, TallExtractor, WideExtractor}
import graft.meta.Devlog

/** The ETL workload: one system batch through `EtlPipeline.runSystem`, or
  * in the traced run the same public calls `EtlPipeline.run` makes, each
  * wrapped in a span together with the action that materializes it. */
object Etl {

  val ProcessedBy = "perfbench"

  /** A fresh base directory for one batch: the raw MRFs hard-linked in, and
    * a private copy of the registry. Nothing is shared between batches, so
    * the append-only devlog never carries entries of an earlier batch. */
  def freshBase(root: File, rawDir: File, registry: File): (File, String) = {
    val base = Files.createTempDirectory(root.toPath, "batch-").toFile
    val raw = new File(base, s"data/raw data/${Gen.SystemSlug}")
    raw.mkdirs()
    rawDir.listFiles().foreach { f =>
      val to = new File(raw, f.getName).toPath
      try Files.createLink(to, f.toPath) catch { case _: Exception => Files.copy(f.toPath, to) }
    }
    val reg = new File(base, "registry")
    reg.mkdirs()
    registry.listFiles().filter(_.isFile).foreach(f =>
      Files.copy(f.toPath, new File(reg, f.getName).toPath))
    (base, reg.getAbsolutePath)
  }

  /** Bytes the batch wrote: every file under the base except the raw inputs. */
  def bytesWritten(base: File, rawBytes: Long): Long = Stats.treeBytes(base) - rawBytes

  /** Start and end times (ms) of the SQL executions whose plan names
    * exactly one campus id, grouped by that id. */
  final class CampusClock extends SparkListener {
    private val Id = "cmp\\d{4}".r
    private val pending = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
    private val spans = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val ids = Id.findAllIn(s.physicalPlanDescription + " " + s.description).toSet
        if (ids.size == 1) pending.put(s.executionId, (ids.head, s.time))
      case x: SparkListenerSQLExecutionEnd =>
        Option(pending.remove(x.executionId)).foreach { case (id, t0) =>
          spans.merge(id, (t0, x.time), (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
        }
      case _ =>
    }

    def reset(): Unit = { pending.clear(); spans.clear() }

    def intervals: Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      spans.asScala.toMap
    }
  }

  /** Per-campus seconds of a batch from the clock's intervals. When campuses
    * ran one after another, each is stretched to the next one's start (the
    * last to the batch end), so driver-side work between executions is
    * counted; overlapping campuses keep their own intervals. */
  def campusSeconds(iv: Seq[(Long, Long)], batchEndMs: Long): Seq[Double] = {
    val s = iv.sortBy(_._1)
    val sequential = s.zip(s.drop(1)).forall { case (a, b) => a._2 <= b._1 }
    if (!sequential) s.map { case (a, b) => (b - a) / 1e3 }
    else s.indices.map { i =>
      val end = if (i + 1 < s.length) s(i + 1)._1 else math.max(batchEndMs, s(i)._2)
      (end - s(i)._1) / 1e3
    }
  }

  // ------------------------------------------------------------ traced run

  /** The calls of `EtlPipeline.runSystem` with spans. */
  def tracedSystem(spark: SparkSession, t: Tracer, registryPath: String,
      baseDir: String): Seq[RunResult] = {
    val ids = t.span("etl.system_lookup") {
      EtlPipeline.systemRegistry(spark.read.parquet(registryPath), Gen.SystemName)
        .select(col("campus_id")).collect().map(_.getString(0)).toSeq
    }
    ids.map(id => t.span("etl.campus", id)(tracedRun(spark, t, registryPath, id, baseDir)))
  }

  /** The calls of `EtlPipeline.run`, in its order, each step in a span. */
  def tracedRun(spark: SparkSession, t: Tracer, registryPath: String,
      campusId: String, baseDir: String): RunResult = {
    val (registry, rec) = t.span("etl.lookup") {
      val registry = spark.read.parquet(registryPath)
      val rows = registry.filter(col("campus_id") === lit(campusId)).limit(1).collect()
      require(rows.nonEmpty, s"Campus ID '$campusId' not found in hospital registry.")
      (registry, rows.head)
    }
    def field(n: String): String = Option(rec.getAs[Any](n)).map(_.toString).getOrElse("")
    val system = field("healthcare_system").toLowerCase.replace(" ", "_")
    val structure = field("structure").toLowerCase
    val hospitalName = field("hospital_name")
    val zipCode = field("zip_code")
    val rawPath = s"$baseDir/data/raw data/$system/${field("raw_filename")}"
    val extractedPath = s"$baseDir/data/extracted data/$system/${campusId}_extracted"

    val mrfMeta = t.span(s"extract.${structure.takeWhile(_ != ' ')}") {
      val (canonical, meta) = structure match {
        case "tall csv" =>
          (TallExtractor.extractFile(spark, rawPath, hospitalName, zipCode),
            MrfCsv.readMetadata(spark, rawPath))
        case "wide csv" =>
          (WideExtractor.extractFile(spark, rawPath, hospitalName, zipCode),
            MrfCsv.readMetadata(spark, rawPath))
        case "json" =>
          val mrf = JsonExtractor.readMrf(spark, rawPath)
          (JsonExtractor.extract(mrf, hospitalName, zipCode), JsonExtractor.metadata(mrf))
      }
      canonical.write.mode(SaveMode.Overwrite).option("header", "true").csv(extractedPath)
      meta
    }

    val (extractedRows, preDedup, preDedupRows) = t.span("clean.pre_dedup") {
      val extracted = spark.read.option("header", "true")
        .schema(Schemas.canonicalIngest).csv(extractedPath)
      val n = extracted.count()
      require(n > 0, s"Extraction produced 0 canonical rows for campus '$campusId'")
      val pre = Cleaning.cleanAllPreDedup(extracted).cache()
      (n, pre, pre.count())
    }

    val cleanedPath = s"$baseDir/data/cleaned data/$system/${campusId}_cleaned"
    val quarantinePath =
      s"$baseDir/data/logs/rules violations/$system/${campusId}_rules_violated"
    val (tagged, violations) = t.span("clean.dedup_tag_write") {
      val tagged = Rules.tagViolations(Cleaning.dedup(preDedup)).cache()
      val (clean, violations) = Rules.split(tagged)
      clean.write.mode(SaveMode.Overwrite).option("header", "true").csv(cleanedPath)
      (tagged, violations)
    }
    t.span("sink.quarantine_csv") {
      violations.write.mode(SaveMode.Overwrite).option("header", "true").csv(quarantinePath)
    }
    val (summary, cleanRows, violationRows) = t.span("rules.summary") {
      val summary = Rules.summarize(tagged)
      val row = summary.head()
      (summary, row.getAs[Long]("total_rows_cleaned"), violations.count())
    }
    val dupsDropped = preDedupRows - (cleanRows + violationRows)

    val devlogPath = s"$baseDir/data/logs/devlogs/$system/${campusId}_devlog"
    val (score, frozen) = t.span("meta.devlog_registry") {
      val meta = Devlog.metadataFromSummary(summary, dupsDropped)
      val now = java.time.Instant.now()
      Devlog.append(spark, devlogPath, Devlog.DevlogEntry(
        campusId,
        mrfMeta.getOrElse("hospital_address", field("hospital_address")),
        mrfMeta.getOrElse("version", ""),
        mrfMeta.getOrElse("last_updated_on", ""),
        meta.final_transparency_score,
        now.getEpochSecond * 1000000000L + now.getNano, meta))
      val updated = Devlog.updateRegistry(registry, Devlog.latest(spark, devlogPath),
        campusId, ProcessedBy, Devlog.nowString(spark))
      val frozen = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(updated.collect(): _*)),
        updated.schema)
      (meta.final_transparency_score, frozen)
    }
    t.span("sink.registry") {
      frozen.write.mode(SaveMode.Overwrite).parquet(registryPath)
    }
    val outputMb = t.span("etl.finish") {
      val fs = new Path(cleanedPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mb = fs.getContentSummary(new Path(cleanedPath)).getLength / 1024.0 / 1024.0
      preDedup.unpersist(); tagged.unpersist()
      mb
    }
    RunResult(campusId, system, structure, extractedRows, cleanRows, violationRows,
      dupsDropped, score, extractedPath, cleanedPath, quarantinePath, outputMb)
  }

  // -------------------------------------------------------------- outputs

  /** Digests of a finished batch: cleaned, quarantined, registry and devlog
    * rows, without the wall-clock columns, plus the per-campus run counts. */
  def outputDigests(spark: SparkSession, base: File, registryPath: String,
      results: Seq[RunResult]): Map[String, String] = {
    def csvs(dir: String): DataFrame =
      spark.read.option("header", "true").csv(s"${base.getAbsolutePath}/data/$dir/${Gen.SystemSlug}/*")
    val counts = results.sortBy(_.campusId).map { r =>
      s"${r.campusId}:${r.structure}:${r.extractedRows}:${r.cleanRows}:" +
        s"${r.violationRows}:${r.duplicatesDropped}:${r.transparencyScore}"
    }
    Map(
      "cleaned" -> RowDigest.execute(csvs("cleaned data")).toString,
      "quarantine" -> RowDigest.execute(csvs("logs/rules violations")).toString,
      "registry" -> RowDigest.execute(
        spark.read.parquet(registryPath).drop("last_processed_on")).toString,
      "devlog" -> RowDigest.execute(
        spark.read.json(s"${base.getAbsolutePath}/data/logs/devlogs/${Gen.SystemSlug}/*")
          .drop("seq")).toString,
      "runs" -> f"${scala.util.hashing.MurmurHash3.seqHash(counts)}%08x")
  }
}
