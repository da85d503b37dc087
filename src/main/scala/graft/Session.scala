package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every entry point (`Bench`, `Verify`,
  * `Explain`, the test kit) builds: `local[cpus]` with as many shuffle
  * partitions, UTC session time, ns parquet timestamps read as longs,
  * and no UI. */
object Session {

  /** `SPARK_GRAFT_CPUS`, default 4: the core count of the mains. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Build (or get) the local session; `configure` adds settings of
    * its own caller before the session starts. */
  def local(cpus: String = Session.cpus, logLevel: String = "WARN")(
      configure: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
