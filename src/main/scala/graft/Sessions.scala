package graft

import org.apache.spark.sql.SparkSession

/** The one session the engine's mains run in: `local[n]` with graft's
  * functions injected ([[GraftExtensions]]), `n` shuffle partitions,
  * the UTC session zone every graft query assumes, no UI, and WARN
  * logging. `n` is `SPARK_GRAFT_CPUS`, or every processor the JVM sees.
  */
object Sessions {

  private val cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
