package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory: every main and the test suites get
  * their session here, so they all run the same optimizer (the rules
  * `GraftExtensions` injects, once), the same time zone and the same
  * core/partition count. A conf A/B needs no knob: SparkConf reads
  * `-Dspark.*=…` system properties. */
object Session {
  /** The mains' core count: `SPARK_GRAFT_CPUS`, default 4. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** A `local[cores]` session with as many shuffle partitions, UTC
    * session time, no UI and WARN logging. */
  def local(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
