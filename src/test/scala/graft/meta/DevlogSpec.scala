package graft.meta

import java.nio.file.Files
import java.time.{Duration, LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatter
import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.clean.{Cleaning, Rules}
import graft.queries.ChargesFixture

/** Devlog roundtrip (S11/S13/L1) + registry update (S12/J4). */
class DevlogSpec extends SparkSpec {
  import spark.implicits._

  test("devlog append/latest roundtrip keeps the highest-seq entry") {
    val dir = Files.createTempDirectory("graft-devlog").toString
    val summary = Rules.summarize(Rules.tagViolations(
      Cleaning.cleanAll(ChargesFixture.charges(spark, sf("sf0.001")))))
    val meta = Devlog.metadataFromSummary(summary, duplicatesDropped = 7L)
    assert(meta.rule_violations_summary.keySet.size == 10)
    assert(meta.final_transparency_score >= 0 && meta.final_transparency_score <= 1)
    Seq(1L, 2L).foreach { seq =>
      Devlog.append(spark, dir, Devlog.DevlogEntry(
        "campus1", "1 Main St", s"v$seq", "2024-07-01",
        meta.final_transparency_score, seq, meta))
    }
    val last = Devlog.latest(spark, dir)
    assert(last.count() == 1)
    assert(last.head().getAs[String]("version") == "v2")
  }

  test("registry update: matched row refreshed with devlog fallback, others untouched") {
    val registry = Seq(
      ("campus1", "2023-01-01", "v1", 0.5, "new", "", ""),
      ("campus2", "2023-01-01", "v1", 0.6, "new", "", ""))
      .toDF("campus_id", "last_updated_on", "version", "transparency_score",
        "etl_status", "processed_by", "last_processed_on")
    val devlog = Seq(("campus1", "2024-07-01", null.asInstanceOf[String], 0.925, 1L))
      .toDF("campus_id", "last_updated_on", "version", "transparency_score", "seq")
    val updated = Devlog.updateRegistry(registry, devlog, "campus1", "etl", "2026-08-12 00:00:00")
    val r1 = updated.filter(col("campus_id") === "campus1").head()
    val r2 = updated.filter(col("campus_id") === "campus2").head()
    assert(r1.getAs[String]("last_updated_on") == "2024-07-01")
    assert(r1.getAs[String]("version") == "v1") // devlog null → fallback kept
    assert(r1.getAs[Double]("transparency_score") == 0.925)
    assert(r1.getAs[String]("etl_status") == "cleaned")
    assert(r2.getAs[String]("etl_status") == "new") // untouched row
  }

  test("nowString reads the local clock in a non-UTC session time zone, with no Spark job") {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, "Asia/Kolkata")
    try {
      val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      val (now, rec) = JobRecorder.during(spark.sparkContext)(Devlog.nowString(spark))
      assert(rec.jobs == 0)
      val t = LocalDateTime.parse(now.get, fmt)
      // UTC+05:30: a formatter that ignored the session zone is 5.5 h off.
      val zoned = LocalDateTime.now(ZoneId.of("Asia/Kolkata"))
      assert(math.abs(Duration.between(t, zoned).getSeconds) < 60)
      val viaSpark = spark.range(1)
        .select(date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")).head().getString(0)
      assert(math.abs(Duration.between(t, LocalDateTime.parse(viaSpark, fmt)).getSeconds) < 60)
    } finally spark.conf.set(key, before)
  }

  test("registry update over a frame of entries keyed by campus_id refreshes each matched row") {
    val registry = Seq(
      ("c1", "2023-01-01", "v1", 0.5, "new", "", ""),
      ("c2", "2023-01-01", "v1", 0.6, "new", "", ""),
      ("c3", "2023-01-01", "v1", 0.7, "new", "", ""))
      .toDF("campus_id", "last_updated_on", "version", "transparency_score",
        "etl_status", "processed_by", "last_processed_on")
    val entries = Seq(("c1", "2024-07-01", "v2", 0.9), ("c3", "2024-08-01", null, 0.8))
      .toDF("campus_id", "last_updated_on", "version", "transparency_score")
    val updated = Devlog.updateRegistry(registry, entries, "etl", "2026-08-12 00:00:00")
    assert(updated.columns.toSeq == registry.columns.toSeq)
    val rows = updated.collect().map(r => r.getAs[String]("campus_id") -> r).toMap
    assert(rows("c1").getAs[String]("version") == "v2")
    assert(rows("c1").getAs[Double]("transparency_score") == 0.9)
    assert(rows("c3").getAs[String]("version") == "v1") // null entry value → fallback
    assert(rows("c3").getAs[String]("last_updated_on") == "2024-08-01")
    assert(Seq("c1", "c3").forall(c => rows(c).getAs[String]("etl_status") == "cleaned" &&
      rows(c).getAs[String]("last_processed_on") == "2026-08-12 00:00:00"))
    assert(rows("c2").getAs[String]("etl_status") == "new")
    assert(rows("c2").getAs[Double]("transparency_score") == 0.6)
  }
}
