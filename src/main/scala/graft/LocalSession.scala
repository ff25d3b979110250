package graft

import org.apache.spark.sql.SparkSession

/** The one local session the command-line mains (`Bench`, `Verify`,
  * `tools.ProfileJobs`) run on: `local[n]` with `n` shuffle partitions,
  * adaptive execution on, UTC session time, no UI, WARN logging. `n` is
  * `SPARK_GRAFT_CPUS`, or the machine's core count when it is unset.
  */
object LocalSession {
  def apply(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
