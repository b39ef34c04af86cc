package graft

import org.apache.spark.sql.SparkSession

/** The session every dev main ([[Bench]], [[ProfileQ]], [[Verify]],
  * [[Explain]], [[Probe]], [[StreamBench]]) runs on:
  * `local[$SPARK_GRAFT_CPUS]` (default `defaultCpus`), one shuffle
  * partition per core, AQE on, UTC session time, no UI, WARN logging.
  * [[Main]] builds its own: it takes `spark.master` from system
  * properties.
  */
object LocalSession {
  def apply(app: String, defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
