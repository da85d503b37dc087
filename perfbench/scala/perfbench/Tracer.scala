package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Per-query counters from Spark's own event streams: the scheduler
  * (jobs, stages, tasks and their metrics), the block manager (cached
  * blocks), Catalyst (planning phases of every executed plan) and
  * Structured Streaming (micro-batch progress). The benchmark attaches
  * one instance only on traced passes, drains the listener bus after
  * each query and takes a [[Tracer.Snapshot]], so everything between two
  * snapshots belongs to one query of the closed loop. */
final class Tracer extends SparkListener {
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocksSeen = mutable.Set.empty[String]
  // last reported state size per streaming query run
  private val streamState = mutable.Map.empty[java.util.UUID, (Double, Double)]

  private def add(key: String, v: Double): Unit =
    counts(key) = counts.getOrElse(key, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
    add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task.run_ms", m.executorRunTime.toDouble)
      add("task.cpu_ns", m.executorCpuTime.toDouble)
      add("task.gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_b",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add("shuffle.spill_b", m.diskBytesSpilled.toDouble)
      add("sources.input_b", m.inputMetrics.bytesRead.toDouble)
      add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("output.write_b", m.outputMetrics.bytesWritten.toDouble)
      add("output.rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId if info.storageLevel.isValid && blocksSeen.add(id.name) =>
        add("blocks.stored", 1)
        add("blocks.stored_b", (info.memSize + info.diskSize).toDouble)
      case _ =>
    }
  }

  val planning: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      add("catalyst.executions", 1)
      val phases = qe.tracker.phases
      Seq("analysis" -> "catalyst.analysis_ms", "optimization" -> "catalyst.optimizer_ms",
          "planning" -> "catalyst.planning_ms").foreach { case (phase, key) =>
        add(key, phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized(add("stream.queries", 1))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        add("stream.batches", 1)
        add("stream.rows_in", p.numInputRows.toDouble)
        def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("stream.add_batch_ms", dur("addBatch"))
        add("stream.wal_commit_ms", dur("walCommit") + dur("commitOffsets"))
        streamState(p.runId) = (
          p.stateOperators.map(_.numRowsTotal.toDouble).sum,
          p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Counters and job intervals since the previous snapshot; resets them. */
  def snapshot(): Tracer.Snapshot = synchronized {
    add("stream.state_rows", streamState.values.map(_._1).sum)
    add("stream.state_b", streamState.values.map(_._2).sum)
    val s = Tracer.Snapshot(counts.toMap, jobs.toList)
    counts.clear(); jobs.clear(); streamState.clear()
    s
  }
}

object Tracer {
  final case class Snapshot(counts: Map[String, Double], jobs: List[(Long, Long)])
}
