package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.Memo

/** The gate workload: a fixed list of `SparkEntry.queries` gates, each timed
  * in three phases — construction (calling the query function), planning
  * (`queryExecution.executedPlan`) and execution of that plan over every
  * output column. */
object Gates {

  final case class Timing(name: String, constructS: Double, planS: Double,
      execS: Double, digest: Stats.Digest, cacheBuilds: Int) {
    def totalS: Double = constructS + planS + execS
  }

  /** The gate list, one name a line; `#` starts a comment. */
  def load(file: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toList
    finally src.close()
  }

  def run(spark: SparkSession, t: Tracer, name: String, dir: String): Timing = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val df: DataFrame = t.span("gate.construct", name)(fn(spark, dir))
    val t1 = System.nanoTime()
    t.span("gate.plan", name)(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val digest = t.span("gate.execute", name)(RowDigest.execute(df))
    val t3 = System.nanoTime()
    // Cache builds are charged to the gate that paid them; scratch persists
    // are released outside the timing, as graft.Bench does.
    val built = Memo.drainBuilt().size
    Memo.releaseOwned(spark)
    Timing(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, digest, built)
  }

  /** Drops the shared family caches so every pass builds them again. */
  def resetCaches(spark: SparkSession): Unit = {
    Memo.clear(spark)
    Memo.drainBuilt()
  }
}
