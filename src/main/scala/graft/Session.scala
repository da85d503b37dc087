package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every entry point (`Bench`, `Verify`,
  * `Explain`, the test kit) builds: `local[cpus]` with as many shuffle
  * partitions, UTC session time, ns parquet timestamps read as longs,
  * and no UI. */
object Session {

  /** This JVM's scratch root, `graft_scratch_<pid>` in
    * `java.io.tmpdir`: made on first use and deleted, best-effort, by
    * one shutdown hook when the JVM exits. Files a returned frame still
    * reads lazily live here, so they outlive the call that wrote them
    * but not the process. */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${ProcessHandle.current().pid()}"))
    sys.addShutdownHook(
      graft.streaming.StreamGate.deleteRecursively(root.toString))
    root
  }

  /** The path `name` under [[scratchRoot]]: one per name and JVM, so a
    * concurrent process never overwrites it. */
  def scratch(name: String): String = scratchRoot.resolve(name).toString

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
