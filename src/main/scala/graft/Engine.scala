package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the warehouse.
  *
  * Local mode uses `SPARK_GRAFT_CPUS` cores when set, otherwise one per
  * available processor; on a cluster the same settings apply with
  * master/resources supplied by spark-submit. AQE is on so shuffle
  * partition counts, skew joins and broadcast demotion re-plan at runtime.
  */
object Engine {
  val ShufflePartitions = 32

  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
