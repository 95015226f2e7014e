package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.core.Conf.RuleNames

/** Devlog (per-run metadata) and registry bookkeeping — S11/S13/J4/L1/S12.
  *
  * The reference appends run metadata as JSON (cleaning_utils.py:224-242)
  * and "updates the registry in place" by rewriting the workbook
  * (ETL_pipeline.py:90-103). Here the devlog is an append-only JSON dataset
  * with an explicit `seq` ordering column (file position is not an ordering
  * in a distributed store — SURVEY L1), and the registry is Parquet with
  * read-modify-write.
  */
object Devlog {

  final case class CleaningMetadata(
      final_transparency_score: Double,
      total_rows_cleaned: Long,
      total_duplicates_dropped: Long,
      total_rows_dropped_due_to_rule_violations: Long,
      total_algorithm_format_violations: Long,
      rule_violations_summary: Map[String, Long])

  final case class DevlogEntry(
      campus_id: String, hospital_address: String, version: String,
      last_updated_on: String, transparency_score: Double, seq: Long,
      cleaning_metadata: CleaningMetadata)

  /** Build the cleaning metadata block from a Rules.summarize 1-row frame
    * (rounding matches `round(final_score, 4)`, cleaning_utils.py:231). */
  def metadataFromSummary(summary: DataFrame, duplicatesDropped: Long): CleaningMetadata =
    metadataFromSummary(summary.head(), duplicatesDropped)

  /** Row overload for callers that already collected the summary (avoids
    * re-executing the aggregation). */
  def metadataFromSummary(r: org.apache.spark.sql.Row, duplicatesDropped: Long): CleaningMetadata = {
    CleaningMetadata(
      // HALF_UP like DuckDB round(x, 4) (and Python round() only differs on
      // exact .00005 boundaries, which scores of the form 1 - k/(10n) never
      // produce exactly anyway) — keeps the devlog_roundtrip hash gate off
      // the half-even/half-up boundary entirely.
      final_transparency_score =
        BigDecimal(r.getAs[Double]("final_transparency_score"))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      total_rows_cleaned = r.getAs[Long]("total_rows_cleaned"),
      total_duplicates_dropped = duplicatesDropped,
      total_rows_dropped_due_to_rule_violations =
        r.getAs[Long]("total_rows_dropped_due_to_rule_violations"),
      total_algorithm_format_violations =
        r.getAs[Long]("total_algorithm_format_violations"),
      rule_violations_summary = RuleNames.map(n => n -> r.getAs[Long](n)).toMap)
  }

  /** S11 — append one devlog entry (JSON lines dataset). */
  def append(spark: SparkSession, path: String, entry: DevlogEntry): Unit = {
    import spark.implicits._
    Seq(entry).toDS().write.mode("append").json(path)
  }

  /** S13 + L1 — latest entry by explicit sequence (devlog.iloc[-1] needs an
    * ordering column in a distributed store). */
  def latest(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path).orderBy(col("seq").desc).limit(1)

  /** Registry columns refreshed from the devlog (ETL_pipeline.py:92-103),
    * each with `.get`-style fallback to the existing value (J4). */
  val RefreshedColumns: Seq[String] =
    Seq("last_updated_on", "version", "transparency_score")

  /** S12 + J4 — update-in-place semantics over a Parquet registry: every
    * registry row whose `campus_id` has an entry in `latestByCampus` (one
    * row per campus, keyed by `campus_id`) takes that entry's values,
    * falling back per column when the entry lacks one; all other rows pass
    * through untouched. One left join against the entries, so the plan has
    * the same shape for one campus or a whole system. Returns the new
    * registry frame for overwrite-write by the caller. */
  def updateRegistry(registry: DataFrame, latestByCampus: DataFrame,
      processedBy: String, nowString: String): DataFrame = {
    val refreshed = RefreshedColumns.filter(latestByCampus.columns.contains)
    val entries = latestByCampus.select(
      col("campus_id").as("__dev_campus_id") +: refreshed.map(c => col(c).as(s"__dev_$c")): _*)
    val matched = col("__dev_campus_id").isNotNull
    val joined = registry.join(entries, col("campus_id") === col("__dev_campus_id"), "left")
    refreshed.foldLeft(joined) { (df, c) =>
      val dev = col(s"__dev_$c")
      df.withColumn(c, when(dev.isNotNull, dev.cast(registry.schema(c).dataType)).otherwise(col(c)))
    }
      .withColumn("etl_status", when(matched, lit("cleaned")).otherwise(col("etl_status")))
      .withColumn("processed_by", when(matched, lit(processedBy)).otherwise(col("processed_by")))
      .withColumn("last_processed_on", when(matched, lit(nowString)).otherwise(col("last_processed_on")))
      .drop(entries.columns.toSeq: _*)
  }

  /** The one-campus case of [[updateRegistry]]: the first row of
    * `latestDevlog` refreshes the registry row of `campusId`. */
  def updateRegistry(registry: DataFrame, latestDevlog: DataFrame,
      campusId: String, processedBy: String, nowString: String): DataFrame =
    updateRegistry(registry, latestDevlog.limit(1).withColumn("campus_id", lit(campusId)),
      processedBy, nowString)

  /** F14 — the reference's timestamp format (ETL_pipeline.py:101), read
    * from this JVM's clock in the session time zone (no Spark job).
    * Injected as a parameter everywhere else so plans stay deterministic. */
  def nowString(spark: SparkSession): String = {
    val zone = DateTimeUtils.getZoneId(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    java.time.ZonedDateTime.now(zone)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }
}
