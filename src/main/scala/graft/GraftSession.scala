package graft

import org.apache.spark.sql.SparkSession

/** The one session every graft main runs in: `local[$SPARK_GRAFT_CPUS]`
  * (default: all available processors) with [[GraftExtensions]]
  * installed, shuffle partitions equal to the core count, UTC session
  * time, no UI and WARN logging. A second call returns the same live
  * session (`getOrCreate`), so the extensions are injected once. */
object GraftSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
