package graft

import org.apache.spark.sql.SparkSession

/** The local session the side mains `Profile`, `Plans` and `Scale` share:
  * `local[cores]`, 64 shuffle partitions, AQE on, UTC session time zone, no
  * UI, WARN logging. A main that needs a different value sets it with
  * `spark.conf.set` afterwards. `Bench` and `Verify` keep their own blocks
  * (the frozen driver contract). */
object LocalSpark {
  def session(cores: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", 64)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
