package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: the warehouse, its demos, the specs of
  * both projects and the curation mains all take their session from here.
  *
  * Local mode uses `SPARK_GRAFT_CPUS` cores when set, otherwise one per
  * available processor, and the shuffle is as wide as the cores; on a
  * cluster the same settings apply with master/resources supplied by
  * spark-submit. Only values Spark does not default to are set: the
  * warehouse relies on adaptive query execution (partition coalescing,
  * skew-join splits), which Spark 4 turns on by default.
  */
object Engine {

  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
