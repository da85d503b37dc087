package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed-loop pass runner behind `perfbench/run.py`.
  *
  * One client, one driver thread: each query of the workload is issued
  * only after the previous one has finished. A query's latency is the
  * call into its `SparkEntry.queries` function (where the operators do
  * their eager jobs) plus a full materialization of its result through
  * the `noop` sink, which evaluates every output column. The first pass
  * is the cold pass, in the listed query order; `--warm-passes` warm
  * passes follow, each in an order drawn from the seed. In the first warm
  * pass, after the timed action, each result is written once more as one
  * parquet file for the oracle check in `run.py`; that write is not
  * timed.
  *
  * With `--trace 1` the even-numbered warm passes are traced (listeners
  * attached); the per-layer counters come from them, and comparing them
  * with the untraced warm passes gives the tracing overhead.
  *
  * Everything measured is written raw to `<out>/result.json`; the
  * arithmetic lives in `perfbench/stats.py`.
  */
object Harness {
  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  final case class QueryRun(name: String, buildS: Double, actionS: Double,
      startMs: Long, endMs: Long, error: Option[String], checkError: Option[String],
      residue: Int, trace: Option[Tracer.Snapshot])

  final case class Pass(kind: String, traced: Boolean, queries: Seq[QueryRun])

  def main(args: Array[String]): Unit = {
    val input = arg(args, "input")
    val out = arg(args, "out")
    val seed = arg(args, "seed").toLong
    val warmPasses = arg(args, "warm-passes").toInt
    val trace = arg(args, "trace") == "1"
    val setups = arg(args, "setups").toInt
    val wanted = arg(args, "queries").split(",").toSeq
    val tables = arg(args, "tables").split(",").toSeq
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(out))

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // CPU time of the whole JVM (all threads, JIT and GC included)
    def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    def calibrate(s: SparkSession): Double = {
      val t0 = System.nanoTime()
      s.range(5000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }

    // Set-up: session start plus the first touch of every table the
    // workload reads. The first set-up is the cold one a pipeline submit
    // pays and is the reported figure; `setups - 1` restarts follow in
    // the same, now warm, JVM and are printed only as a diagnostic.
    var spark: SparkSession = null
    val setupS = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      spark = newSession()
      spark.range(1000000L).selectExpr("sum(id)").collect()
      tables.foreach(t => spark.read.parquet(s"$input/$t.parquet").count())
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < setups) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dt
    }
    val sc = spark.sparkContext
    println(f"host: setup ${setupS.head}%.3f s cold, restarts " +
      setupS.tail.map(v => f"$v%.3f").mkString(" ") + " s")

    val registry = SparkEntry.queries
    val queries = wanted.map { q =>
      val hits = registry.keys.filter(k => k == q || k.startsWith(q + "_")).toSeq
      require(hits.size == 1, s"query '$q' matches ${hits.size} registry entries")
      hits.head -> registry(hits.head)
    }

    val tracer = new Tracer
    def attach(): Unit = {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer.planning)
      spark.streams.addListener(tracer.streaming)
      BusDrain(sc)
      tracer.snapshot()
    }
    def detach(): Unit = {
      BusDrain(sc)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer.planning)
      spark.streams.removeListener(tracer.streaming)
    }

    def message(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

    def runQuery(name: String, fn: (SparkSession, String) => DataFrame,
        traced: Boolean, checkDir: Option[String]): QueryRun = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var df: DataFrame = null
      val error =
        try {
          df = fn(spark, input)
          t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            Some(message(e))
        }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      // untimed from here: residue count, listener drain, check write,
      // block release
      val residue =
        if (traced) sc.getRDDStorageInfo.map(_.numCachedPartitions).sum else 0
      val snap = if (traced) { BusDrain(sc); Some(tracer.snapshot()) } else None
      val checkError = checkDir.flatMap { dir =>
        if (error.isDefined) error
        else
          try { df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name"); None }
          catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] $name failed in the check write: $e")
              Some(message(e))
          }
      }
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      QueryRun(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, startMs, endMs, error,
        checkError, residue, snap)
    }

    val checkDir = s"$out/check"
    def runPass(index: Int, kind: String, traced: Boolean, check: Boolean): Pass = {
      val calS = calibrate(spark)
      val order =
        if (index == 0) queries // a pipeline submit runs its steps in a fixed order
        else new Random(seed * 1000003L + index).shuffle(queries)
      if (traced) attach()
      val cpu0 = processCpuS()
      val runs = order.map { case (n, fn) =>
        runQuery(n, fn, traced, if (check) Some(checkDir) else None)
      }
      val cpuS = processCpuS() - cpu0
      if (traced) detach()
      val passS = runs.map(r => r.buildS + r.actionS).sum
      println(f"host: pass $index%d $kind%s${if (traced) " traced" else ""}%s " +
        f"pass_s=$passS%.3f cal_s=$calS%.3f jvm_cpu_s=$cpuS%.3f")
      Pass(kind, traced, runs)
    }

    // The cold pass, then a fixed number of warm passes. The check writes
    // go into the first warm pass, which is still the slowest (JIT
    // compilation), so the median pass is one they did not disturb. With
    // --trace 1 the later warm passes alternate traced and untraced.
    val passes = runPass(0, "cold", traced = false, check = false) +:
      (1 to warmPasses).map(i =>
        runPass(i, "warm", traced = trace && i % 2 == 0, check = i == 1))
    val checkErrors = passes(1).queries.flatMap(r => r.checkError.map(r.name -> _))

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    val vmHwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(Map(
      "cpus" -> cpus,
      "setup_s" -> setupS.head,
      "setup_restarts_s" -> setupS.tail,
      "rss_peak_mb" -> vmHwmKb / 1024.0,
      "passes" -> passes.map(passJson),
      "check_dir" -> checkDir,
      "check_errors" -> checkErrors.toMap,
      "oracle_sql" -> queries.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap))
    Files.write(Paths.get(s"$out/result.json"), json.getBytes("UTF-8"))
    spark.stop()
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "kind" -> p.kind,
    "traced" -> p.traced,
    "queries" -> p.queries.map { r =>
      Map(
        "name" -> r.name,
        "build_s" -> r.buildS,
        "action_s" -> r.actionS,
        "start_ms" -> r.startMs,
        "end_ms" -> r.endMs,
        "error" -> r.error,
        "residue" -> r.residue) ++
        r.trace.toSeq.flatMap { t => Seq(
          "counts" -> t.counts,
          "jobs" -> t.jobs.map { case (s, e) => Seq(s, e) })
        }
    })
}
