package graft.runtime

import org.apache.spark.sql.SparkSession

/** The one `local[cpus]` session of the in-process mains (Verify, Explain,
  * Bench's fallback legs): shuffle partitions = cores, session time zone
  * UTC, no UI, WARN logging. AQE is Spark's default. */
object LocalSession {
  def apply(cpus: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
