package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: the conf `graft.Bench` uses, on local[N],
  * with every scratch location inside the invocation's own root. */
object Session {

  def start(cpus: Int, scratch: java.io.File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(scratch, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(scratch, "hadoop").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
