package graft

import org.apache.spark.sql.SparkSession

/** The one place the program's mains build a SparkSession. Each passes its
  * own master and `spark.sql.shuffle.partitions`; the policy they share is
  * here: session time zone UTC (the oracles and goldens are UTC), UI off,
  * and the log level (WARN unless the caller asks for less). `configure`
  * adds a caller's own settings. */
object Sessions {
  def create(master: String, shufflePartitions: Int, logLevel: String = "WARN")(
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
