package graft.streaming

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType
import org.slf4j.LoggerFactory

import graft.operators.{Annotate, AsOfJoin, Blocks, Components, Corpus, Dedup,
  Eval, Events, Experiment, Maintain, Moments, Multimodal, Observed,
  Preference, Profile, Quality, Similarity, Stats}

/** Batch-vs-stream correctness gates: replay a batch frame through the
  * Structured Streaming operators (file source -> AvailableNow trigger
  * -> sink) and hand back the result as an ordinary batch DataFrame.
  * This is what lets the incremental operators face the same
  * value-checked oracle as everything else — the stream output must
  * equal the batch twin row-for-row, not just "look plausible in a
  * spec".
  *
  * Flush mechanics: append-mode streaming only emits state the
  * watermark (windows) or a newer event (sessions) has closed, so a
  * finite replay would hold the tail back in the state store. The
  * event replays therefore append one SENTINEL event per key (sessions)
  * or per stream (windows) far past the real data: every real session
  * and window closes and is emitted, while the sentinel's own session
  * or window stays open and is never seen downstream. The sentinel only
  * exists in the replay's temp source dir — an oracle reading the
  * original table never sees it, which is exactly the point: the
  * stream must reproduce the batch answer over the REAL events.
  *
  * ==Replay lifecycle==
  * Every public `replay*` runs through ONE harness, [[replay]], which
  * writes the input to a per-run temp source dir, runs the stream in a
  * child session of the caller's under replay-scoped settings
  * ([[replayConf]]), publishes [[lastReplayObservability]], and
  * materializes the result (`localCheckpoint`) before deleting every
  * temp dir — so replays are rerunnable, never share state, and leave
  * nothing on the temp volume (a bench session would otherwise pile up
  * runs x replays x 3 dirs of parquet and state-store files, and disk
  * pressure is what amplifies host-load noise into 10-50x in-suite
  * timing swings). Everything stays distributed: sinks are parquet or
  * `foreachBatch` writes, never a driver collect. A gate only supplies
  * its source shape and its sink: the stream's own parquet sink (the
  * event replays), a `foreachBatch` append (per-row-independent batch
  * operators run per micro-batch), or a `foreachBatch` fold into
  * versioned state (the monitors).
  *
  * A replay's checkpoint is scratch: it lives in a fresh local temp dir
  * that is deleted when the replay returns, and no query ever restarts
  * from it. So the replay runs without the durability a restart needs
  * (FileContext renames, checksum files, and, where no flush sentinel
  * needs it, the no-data micro-batch; see [[replayConf]]). Every file a
  * replay writes, its source files included, goes through
  * [[ScratchFileSystem]], which sets file modes with `java.nio`. So a
  * replay forks no process. Without libhadoop, Hadoop's own local
  * filesystem forks `readlink` per FileContext rename and `chmod` per
  * created file or dir, about 4 ms each; a KB-scale replay on it
  * forked about 77 `chmod` and waited on them for much of its wall
  * time.
  *
  * ==Replay results follow the [[Blocks]] rule==
  * A replay result is a checkpoint like any other: it belongs to the
  * innermost `Blocks.scoped` call open on the calling thread, which
  * frees it once nothing the scope returns reads it. With no scope
  * open, the caller frees it with `Blocks.release` (or
  * `Blocks.consuming`) once it is fully consumed; until then it stays
  * readable, whatever replays run after it. A replay changes no state
  * of the caller's session, so replays on different threads of one
  * session run at the same time.
  */
object StreamGate {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Replay-scoped shuffle/state partition count, derived from the
    * just-written source's bytes instead of a constant: one state
    * partition per ~32 MB of replayed input, clamped to [1, session
    * setting]. A stateful operator materializes one state-store
    * instance per shuffle partition per micro-batch, so a KB-scale
    * replay at N partitions pays N× pure per-store commit overhead;
    * deriving N from input size keeps the gate cheap at any SF while a
    * production-sized replay simply keeps the session's own partition
    * count (the deployment's deliberate choice). Guide §2: make
    * partitioning scale-adaptive, never a constant tuned for one
    * scale. Unreadable dirs fall back to the session setting. */
  private[graft] def replayPartitions(prev: Int, srcDir: String): Int = {
    val bytes =
      try {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(srcDir))
        try walk.filter(p => java.nio.file.Files.isRegularFile(p))
          .mapToLong(p => java.nio.file.Files.size(p)).sum
        finally walk.close()
      } catch {
        // Unreadable dir: keep the session setting, exactly as
        // documented. (Encoding the failure as Long.MaxValue overflowed
        // the round-up below to a NEGATIVE target, which clamped to the
        // floor — the opposite of the intended fallback.)
        case _: Exception => return math.max(1, prev)
      }
    val target = math.max(1L, bytes / (32L << 20) + 1)
    // Floor of 4 (when the session has it): replays mix state-store
    // commit overhead (linear in partitions — argues for few) with
    // CPU-dense per-key work (windowed top-k ranking, bootstrap
    // resampling — argues for some parallelism). Measured on the r19
    // probe set: 1 partition won the state-heavy joins (q58 5.3→2.9 s)
    // but serialized the compute-heavy monitors (q117 +0.9 s,
    // q250/q252 +0.7 s); 4 keeps ~all of the former's win and none of
    // the latter's loss at local scale, and is irrelevant at
    // production scale where the byte-derived target exceeds it.
    val floor = math.min(4, math.max(1, prev))
    math.max(floor.toLong, math.min(math.max(1, prev).toLong, target)).toInt
  }

  private val partitionsKey = "spark.sql.shuffle.partitions"

  /** The settings [[replay]] applies to the child session a replay's
    * stream runs in, by key, on top of the caller's own runtime
    * settings; the caller's session never sees them. They are the
    * state partition count ([[replayPartitions]]) and the settings of a
    * scratch checkpoint (see "Replay lifecycle" above):
    *  - the FileSystem checkpoint manager renames with one
    *    `File.renameTo`, atomic on the local temp dir; the FileContext
    *    one first asks `getFileLinkStatus`, which the local filesystem
    *    answers by forking `readlink` when libhadoop is not loaded;
    *  - no checksum file next to each state and log file;
    *  - the no-data micro-batch only where a flush sentinel's rows emit
    *    in it ([[Source]]), and there even under a session that turned
    *    it off;
    *  - `fs.file.impl`: [[ScratchFileSystem]] for every `file://` path
    *    of the child, so the offset and commit logs, the state stores
    *    and the sinks set file modes without forking `chmod`. Spark
    *    copies the child's SQL conf into each Hadoop conf it builds,
    *    the ones shipped with tasks included;
    *  - `fs.file.impl.disable.cache`: `true`. Hadoop caches a
    *    `FileSystem` by scheme, authority and user, not by conf, so
    *    without it the child gets the JVM's cached `file://`
    *    filesystem and the setting above does nothing. The JVM's cached instance
    *    and the caller's confs stay as they were.
    * The source write runs on the caller's session, so it passes the
    * same two keys as writer options instead. */
  private[graft] def replayConf(
      partitions: Int, flushBatch: Boolean): Map[String, String] = Map(
    partitionsKey -> partitions.toString,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName,
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> flushBatch.toString) ++
    ScratchFileSystem.conf

  /** Best-effort recursive delete (replay hygiene must never turn a
    * green query into a failure — a locked file just stays behind).
    * `private[graft]` so artifact-roundtrip query paths (q105) can
    * clean their temp save dirs with the same policy. */
  private[graft] def deleteRecursively(dir: String): Unit =
    try {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    } catch { case _: Exception => () }

  private def eventSchema = Encoders.product[EventStream.Event].schema

  /** Late-data observability: micro-batch count and rows silently
    * dropped past the watermark, harvested from a finished query's
    * progress events. A stateful operator drops a late row WITHOUT any
    * error once the state it would touch has been evicted (while the
    * state is still live, late rows merge — pinned by the late-data
    * spec) — so on a production stream a nonzero count is the alarm
    * for a misconfigured watermark or out-of-order source files, and
    * on a replay gate it means the single-batch/ordered-replay
    * assumption broke and the batch-equivalence claim is void. */
  final case class ReplayObservability(
      microBatches: Long, droppedLateRows: Long)

  /** Unbounded per-run progress accumulation. `recentProgress` retains
    * only the last `spark.sql.streaming.numRecentProgressUpdates`
    * events (default 100), so a replay with more micro-batches would
    * silently undercount both counters — this listener instead folds
    * every progress event into a per-run total as it arrives. One
    * instance serves every session (registered once per session by the
    * harness, before the replay's query starts). */
  private object ProgressLedger extends StreamingQueryListener {
    import StreamingQueryListener._
    private final class Acc {
      var batches = 0L; var dropped = 0L; var terminated = false
    }
    private val accs =
      scala.collection.mutable.HashMap.empty[java.util.UUID, Acc]
    /** Terminated runs are RETAINED (readable any number of times, so a
      * second observability read never degrades to the capped
      * `recentProgress` fallback) up to this many; past it the
      * oldest-terminated entries are evicted — a session whose user
      * queries the gates never read cannot grow the map without bound. */
    private[streaming] val MaxTerminatedRetained = 256
    private val terminatedOrder =
      scala.collection.mutable.Queue.empty[java.util.UUID]
    /** Started-but-never-terminated runs are bounded too: a crashed or
      * abandoned query never delivers its terminated event, so without
      * this cap its entry would sit in `accs` forever in a long-lived
      * session. When more than this many LIVE runs accumulate
      * (terminated entries are purged from the start queue before the
      * threshold is read — their retention is
      * [[MaxTerminatedRetained]]'s job), the oldest live entries are
      * evicted in insertion order. The cap therefore only bites a
      * session juggling >256 concurrently live queries — there the
      * evicted run's later reads degrade to the documented
      * `recentProgress` fallback (eviction is permanent: progress
      * events never re-create an entry, so a partial count can never
      * masquerade as an exact one). */
    private[streaming] val MaxUnterminatedRetained = 256
    private val startedOrder =
      scala.collection.mutable.Queue.empty[java.util.UUID]
    /** Weak keys: this set must not pin a SparkSession. The
      * registration itself outlives the session: Spark (4.1) never
      * removes a session's streaming listener bus from its context's
      * listener bus, so that bus, and this listener in its list, stay
      * reachable from the context after the session is collected. */
    private val sessions = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
    def ensure(spark: SparkSession): Unit =
      if (sessions.add(spark)) spark.streams.addListener(this)
    override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
      accs(e.runId) = new Acc
      startedOrder += e.runId
      if (startedOrder.size > MaxUnterminatedRetained) {
        // the queue holds every start; entries that have since
        // terminated (or were already evicted) are governed by
        // terminatedOrder's cap — purge them from the queue FIRST so
        // the threshold counts only genuinely-live runs, then evict
        // the oldest live entries past the cap
        startedOrder.filterInPlace(id => accs.get(id).exists(!_.terminated))
        while (startedOrder.size > MaxUnterminatedRetained)
          accs.remove(startedOrder.dequeue())
      }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      // update REGISTERED runs only — never create: a run started
      // before the ledger was installed falls back to recentProgress
      // (the documented peek-None path), and a run EVICTED by the
      // unterminated cap must not resurrect as a zeroed accumulator
      // whose undercounted totals would read as exact
      accs.get(e.progress.runId).foreach { a =>
        a.batches += 1
        a.dropped +=
          e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      synchronized {
        accs.get(e.runId).foreach { a =>
          if (!a.terminated) { a.terminated = true; terminatedOrder += e.runId }
        }
        while (terminatedOrder.size > MaxTerminatedRetained)
          accs.remove(terminatedOrder.dequeue())
        notifyAll()
      }
    /** Listener-bus delivery is asynchronous: totals are complete only
      * once the run's terminated event lands, so wait (bounded) for it,
      * then PEEK — the entry stays readable until the retention cap
      * evicts it, so repeated reads of the same finished run return the
      * same exact totals (a read on a still-running run returns the
      * live partials accumulated so far — still never the capped
      * fallback). None = the run was never registered (its session's
      * first gate had not installed the ledger before this query), or
      * it aged past the retention cap. */
    def peek(runId: java.util.UUID, timeoutMs: Long): Option[(Long, Long)] =
      synchronized {
        val deadline = System.nanoTime + timeoutMs * 1000000L
        while (accs.get(runId).exists(!_.terminated) &&
            System.nanoTime < deadline) {
          wait(math.max(1L,
            math.min(50L, (deadline - System.nanoTime) / 1000000L)))
        }
        accs.get(runId).map(a => (a.batches, a.dropped))
      }
  }

  /** Extract [[ReplayObservability]] from a completed query. Reads the
    * [[ProgressLedger]]'s accumulated totals (exact for any number of
    * micro-batches), NON-destructively: a second call for the same
    * finished run returns the identical totals for as long as the
    * ledger's retention cap keeps the entry. Only a query whose
    * session never installed the ledger (or whose entry aged past the
    * cap) falls back to `recentProgress`, which is bounded by
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100)
    * retained events — a >100-micro-batch run undercounts there. */
  def observabilityOf(
      q: org.apache.spark.sql.streaming.StreamingQuery): ReplayObservability =
    ProgressLedger.peek(q.runId, timeoutMs = 30000) match {
      case Some((batches, dropped)) => ReplayObservability(batches, dropped)
      case None =>
        val ps = q.recentProgress
        ReplayObservability(
          microBatches = ps.length.toLong,
          droppedLateRows =
            ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum)
    }

  private val lastObs = ThreadLocal.withInitial[Option[ReplayObservability]](
    () => None)

  /** [[ReplayObservability]] of the most recent replay gate run on the
    * calling thread (published once its stream finishes), so replays
    * on other threads never change it. A replay clears it when it
    * starts, so a replay whose stream never finished reads `None`,
    * never the previous replay's counts. A production caller checks
    * `droppedLateRows == 0` after a replay the same way it would alarm
    * on the live query's progress. */
  def lastReplayObservability: Option[ReplayObservability] = lastObs.get

  /** A replay's input: `write` lays the source files into the replay's
    * source dir; `open` reads that dir back, on the session it is
    * given, as the streaming frame the sink drives. `flushBatch`:
    * whether the stream needs Spark's no-data micro-batch, the one that
    * runs after the data batch to advance the watermark and emit what
    * it closed. Only a flush sentinel's rows emit there; without a
    * sentinel the data batch already emits every row and that batch
    * would only evict state of a query about to be deleted. */
  private[graft] final case class Source(
      spark: SparkSession,
      write: String => Unit,
      open: (SparkSession, String) => DataFrame,
      flushBatch: Boolean = true)

  /** What a replay's stream drives, and how its result is read back. */
  private[graft] sealed trait Sink

  /** The stream's own append-mode parquet sink, read back with the
    * stream's schema: a replay that emits nothing is an empty frame. */
  private[graft] case object StreamSink extends Sink

  /** `foreachBatch`: each micro-batch's `perBatch` rows append to a
    * parquet log, read back with `schema` (None: inferred from the log,
    * so a replay that committed no micro-batch fails by name instead of
    * by Spark's schema inference) and then mapped by `finish`. */
  private[graft] final case class AppendSink(
      perBatch: DataFrame => DataFrame,
      schema: Option[StructType],
      finish: DataFrame => DataFrame = identity) extends Sink

  /** `foreachBatch` fold into versioned parquet state: `step(prior,
    * batch)` is version N+1 given version N (None before the first
    * batch), written next to — never over — what it read, so the state
    * is owned OUTSIDE the query (no stream-stateful operator holds it)
    * and a restart resumes from the last committed version.
    * `afterCommit(step output, version dir)` runs once a version is
    * written; `readout` maps the final version to the result. */
  private[graft] final case class FoldSink(
      step: (Option[DataFrame], DataFrame) => DataFrame,
      readout: DataFrame => DataFrame,
      afterCommit: (DataFrame, String) => Unit = (_, _) => ()) extends Sink

  /** Hands every event of a child session's streams to the listeners
    * registered on `caller` when the event arrives: a listener sees
    * only the queries of its own session. One listener that throws
    * does not keep the event from the others, as on Spark's own bus. */
  private final class Forwarder(caller: SparkSession)
      extends StreamingQueryListener {
    import StreamingQueryListener._
    private def each(deliver: StreamingQueryListener => Unit): Unit =
      caller.streams.listListeners().foreach(l => try deliver(l) catch {
        case NonFatal(e) => LoggerFactory.getLogger(getClass)
          .warn(s"stream listener $l failed", e)
      })
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      each(_.onQueryStarted(e))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      each(_.onQueryProgress(e))
    override def onQueryIdle(e: QueryIdleEvent): Unit = each(_.onQueryIdle(e))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      each(_.onQueryTerminated(e))
  }

  /** Run `body` on a new child session of `caller` that carries the
    * caller's runtime settings overlaid with `conf`, and whose stream
    * events reach the caller's listeners ([[Forwarder]]) until `body`
    * exits. The caller's session is left as it was. */
  private def inChildSession[T](caller: SparkSession, conf: Map[String, String])(
      body: SparkSession => T): T = {
    val child = caller.newSession()
    (caller.conf.getAll.filter { case (k, _) => caller.conf.isModifiable(k) }
      ++ conf).foreach { case (k, v) => child.conf.set(k, v) }
    val forwarder = new Forwarder(caller)
    child.streams.addListener(forwarder)
    // removed even though Spark keeps the child's listener bus
    // registered on the context for good: the leaked bus then holds
    // nothing of ours
    try body(child) finally child.streams.removeListener(forwarder)
  }

  /** The one replay lifecycle:
    *  1. clear [[lastReplayObservability]] on the calling thread;
    *  1. write `source` into a fresh `graft_<gate>_src` dir, on the
    *     caller's session under its own settings;
    *  1. evaluate `plan` for the sink. A gate that materializes a
    *     frozen side once (an index, an anchor table) does it here with
    *     [[Blocks.checkpoint]], still under the caller's own settings;
    *  1. open the source and run the stream to completion under the
    *     AvailableNow trigger in a child session ([[inChildSession]])
    *     that carries the [[replayConf]] settings: [[replayPartitions]]
    *     of the written source and a scratch checkpoint. The caller's
    *     [[ProgressLedger]] and any other listener of the caller's see
    *     the stream's events;
    *  1. publish the run's [[ReplayObservability]];
    *  1. read the result back on the caller's session — a fold, or an
    *     append with an inferred schema, that committed no micro-batch
    *     fails as "<gate> saw no micro-batches" — and checkpoint it so
    *     it outlives the temp dirs. The replay's scope owns every
    *     checkpoint made on this thread while it runs (a frozen side, a
    *     readout's prefix sums, the read-back), so on return it frees
    *     all of them but the read-back's own blocks, which go to the
    *     enclosing `Blocks.scoped` call, or to the caller when none is
    *     open (see "Replay results follow the Blocks rule" above);
    *  1. finally, on success or failure: delete every temp dir, the
    *     scratch checkpoint among them. */
  private[graft] def replay(gate: String, source: Source)(
      plan: => Sink): DataFrame = {
    lastObs.set(None)
    val spark = source.spark
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def dir(kind: String): String = {
      val d = tempDir(s"graft_${gate}_$kind")
      dirs += d
      d
    }
    try Blocks.scoped { s =>
      val src = dir("src")
      source.write(src)
      val sink = plan
      ProgressLedger.ensure(spark) // before start: sees every event
      val out = dir("out")
      val committed = new AtomicReference[String](null)
      val stream = inChildSession(spark, replayConf(
          replayPartitions(spark.conf.get(partitionsKey).toInt, src),
          source.flushBatch)) { child =>
        val stream = source.open(child, src)
        val writer = sink match {
          case StreamSink =>
            stream.writeStream.format("parquet").option("path", out)
              .outputMode("append")
          case AppendSink(perBatch, _, _) =>
            stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
              perBatch(batch).write.mode("append").parquet(out)
              committed.set(out)
            }
          case FoldSink(step, _, afterCommit) =>
            val version = new AtomicInteger(0)
            stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
              val next = step(
                Option(committed.get()).map(child.read.parquet(_)), batch)
              val path = s"$out/v${version.incrementAndGet()}"
              next.write.mode("overwrite").parquet(path)
              committed.set(path)
              afterCommit(next, path)
            }
        }
        val q = writer.option("checkpointLocation", dir("ck"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        lastObs.set(Some(observabilityOf(q)))
        stream
      }
      def lastCommit: DataFrame = {
        require(committed.get() != null, s"$gate saw no micro-batches")
        spark.read.parquet(committed.get())
      }
      val result = sink match {
        case StreamSink => spark.read.schema(stream.schema).parquet(out)
        case AppendSink(_, Some(schema), finish) =>
          finish(spark.read.schema(schema).parquet(out))
        case AppendSink(_, None, finish) => finish(lastCommit)
        case FoldSink(_, readout, _) => readout(lastCommit)
      }
      s.checkpoint(result)
    } finally dirs.foreach(deleteRecursively)
  }

  /** Event replay through the stream's own parquet sink. The events
    * (event_id, ts, user_id, event_type, value) are coalesced so the
    * replay fits ONE micro-batch: the source files are not time-ordered,
    * and a multi-batch replay would advance the watermark between
    * batches and drop later files' older rows as late data — breaking
    * the exact batch equivalence this gate exists to prove. (A real
    * deployment replays time-ordered files; see
    * StreamBatchEquivalenceSpec for the multi-batch ordered case.) The
    * source opens as a typed event stream, mapped by `op`.
    *
    * `flush` = Some((horizonUs, perKey)) adds flush sentinels in ONE
    * corpus pass plus a sentinel append: the newest real event time
    * rides the source WRITE as an observed metric, and the sentinel
    * rows land as an appended parquet file in the same source dir,
    * read in the same single AvailableNow batch. `perKey` selects one
    * sentinel per user (closes every per-key session/funnel) vs the
    * single global watermark-dragging sentinel, `horizonUs` past the
    * newest real event. */
  private def replayEvents(
      gate: String,
      events: DataFrame,
      flush: Option[(Long, Boolean)] = None)(
      op: DataFrame => DataFrame): DataFrame = {
    val spark = events.sparkSession
    val proj = events.select("event_id", "ts", "user_id", "event_type", "value")
    def write(src: String): Unit = flush match {
      case None => proj.coalesce(16).write.options(ScratchFileSystem.conf)
        .mode("overwrite").parquet(src)
      case Some((horizonUs, perKey)) =>
        val obs = org.apache.spark.sql.Observation()
        proj.observe(obs, max(unix_micros(col("ts"))).as("__max"))
          .coalesce(16)
          .write.options(ScratchFileSystem.conf).mode("overwrite").parquet(src)
        // Late metrics delivery degrades to a rescan of the files just
        // written (already on local disk), never a TimeoutException.
        val maxRow = Observed.row(obs) {
          spark.read.parquet(src).agg(max(unix_micros(col("ts")))).head()
        }
        val maxUs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
        val sentinelTs = timestamp_micros(lit(maxUs + horizonUs))
        val sentinels =
          if (perKey)
            proj.select("user_id").distinct()
              .select(lit(-1L).as("event_id"), sentinelTs.as("ts"),
                col("user_id"), lit("__sentinel").as("event_type"),
                lit(0.0).as("value"))
          else
            spark.range(1)
              .select(lit(-1L).as("event_id"), sentinelTs.as("ts"),
                lit(-1L).as("user_id"), lit("__sentinel").as("event_type"),
                lit(0.0).as("value"))
        sentinels.coalesce(1).write.options(ScratchFileSystem.conf)
          .mode("append").parquet(src)
    }
    val open = (session: SparkSession, src: String) =>
      op(EventStream.readEventStream(session, src, eventSchema))
    replay(gate, Source(spark, write, open, flushBatch = flush.isDefined))(
      StreamSink)
  }

  /** File-feed source of the `foreachBatch` gates: `feed` coalesced to 8
    * files and read back with its own schema at `filesPerTrigger` files
    * per micro-batch — the arrival shape whose split every gate must be
    * invariant to. */
  private def fileFeed(feed: DataFrame, filesPerTrigger: Int): Source = {
    val spark = feed.sparkSession
    Source(spark,
      src => feed.coalesce(8).write.options(ScratchFileSystem.conf)
        .mode("overwrite").parquet(src),
      (session, src) => session.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(src))
  }

  /** The [[FoldSink]] step of a seed/fold monitor: reduce the batch with
    * `seed`, then merge it into the prior state with `fold`. */
  private def foldStep(
      seed: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame)
      : (Option[DataFrame], DataFrame) => DataFrame =
    (prior, batch) => {
      val delta = seed(batch)
      prior.map(fold(_, delta)).getOrElse(delta)
    }

  /** Versioned fold-state monitor over `feed`: each micro-batch reduced
    * with `seed` and merged into the prior state with `fold`, then
    * `readout` over the final state. Correctness burden on the caller:
    * `fold` must be associative and commutative over `seed` outputs, so
    * the micro-batch split cannot change the final state (every monitor
    * built on this proves it by being held to its batch twin's verbatim
    * oracle). */
  private def replayFoldState(
      gate: String,
      feed: DataFrame,
      filesPerTrigger: Int)(
      seed: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame,
      readout: DataFrame => DataFrame): DataFrame =
    replay(gate, fileFeed(feed, filesPerTrigger))(
      FoldSink(foldStep(seed, fold), readout))

  /** [[replayFoldState]] for a readout that scans the final state more
    * than once: the readout gets the state checkpointed, and the
    * replay frees that checkpoint once its result is read back. */
  private def replayFoldStateCheckpointed(
      gate: String,
      feed: DataFrame,
      filesPerTrigger: Int)(
      seed: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame,
      readout: DataFrame => DataFrame): DataFrame =
    replay(gate, fileFeed(feed, filesPerTrigger))(FoldSink(
      foldStep(seed, fold), state => readout(Blocks.checkpoint(state))))

  /** Replay through [[EventStream.sessionizeStream]]: every real
    * session closes (per-key sentinels) and comes back as a batch
    * frame of Session rows. */
  def replaySessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    replayEvents("replaySessionize", events, Some((2 * gapUs, true)))(s =>
      EventStream.sessionizeStream(s.as[EventStream.Event], gapUs).toDF())
  }

  /** Replay through [[EventStream.funnelStream]]: completed funnels
    * emit on their final step; per-key sentinels flush every partial
    * funnel, so the replay returns exactly the batch funnel's rows. */
  def replayFunnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    replayEvents("replayFunnel", events, Some((3600L * 1000000L, true)))(s =>
      EventStream.funnelStream(s.as[EventStream.Event], steps).toDF())
  }

  /** Replay through [[EventStream.windowedCounts]]: the global
    * sentinel pushes the watermark past every real window, so append
    * mode emits them all; the sentinel's own row is filtered out of
    * the result. */
  def replayWindowedCounts(
      events: DataFrame,
      windowDur: String,
      slide: String,
      watermark: String,
      horizonUs: Long): DataFrame =
    replayEvents("replayWindowedCounts", events, Some((horizonUs, false)))(
      EventStream.windowedCounts(_, windowDur, slide, watermark))
      .filter(col("event_type") =!= "__sentinel")

  /** Replay through [[EventStream.intervalJoinStream]]: a stream
    * SELF-join (both sides read the same replayed file source) of
    * `typeA` events against `typeB` events within the gap. Inner join
    * needs no sentinel: every match emits once both rows are in. */
  def replayIntervalJoin(
      events: DataFrame,
      typeA: String,
      typeB: String,
      maxGap: String,
      watermark: String): DataFrame =
    replayEvents("replayIntervalJoin", events)(stream =>
      EventStream.intervalJoinStream(
        stream.filter(col("event_type") === typeA),
        stream.filter(col("event_type") === typeB),
        maxGap, watermark))

  /** Replay through [[EventStream.leftOuterIntervalJoinStream]]: the
    * left-outer twin of [[replayIntervalJoin]]. Outer (null-side)
    * rows only emit once the watermark passes the left window's end,
    * so the global sentinel is routed into BOTH join inputs — the
    * engine's multiple-watermark policy takes the MIN across inputs,
    * and a sentinel on one side alone would advance nothing. */
  def replayLeftOuterIntervalJoin(
      events: DataFrame,
      typeA: String,
      typeB: String,
      maxGap: String,
      watermark: String,
      horizonUs: Long): DataFrame =
    replayEvents("replayLeftOuterIntervalJoin", events,
        Some((horizonUs, false)))(stream =>
      EventStream.leftOuterIntervalJoinStream(
        stream.filter(col("event_type").isin(typeA, "__sentinel")),
        stream.filter(col("event_type").isin(typeB, "__sentinel")),
        maxGap, watermark))
      // The sentinel's own (joined-to-nothing) outer row is dropped
      // AFTER the sink, batch-side (the replayWindowedCounts pattern):
      // filtering `left_type` inside the STREAMING plan would be a
      // left-side predicate on a left outer join, which Catalyst pushes
      // below the join into the left input — stripping the sentinel
      // before its watermark node, so the left watermark (and with
      // min-policy the global one) would stall at the real data and the
      // newest unmatched rows would never flush. Found the hard way;
      // pinned by the left-outer stream==batch spec.
      .filter(col("left_type") =!= "__sentinel")
      .drop("left_type")

  /** Replay through [[EventStream.enrichStream]]: stateless
    * stream-static join, so no sentinel and no watermark — every
    * event emits as soon as its micro-batch runs. */
  def replayEnrich(
      events: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String,
      dimCols: Seq[(String, String)]): DataFrame =
    replayEvents("replayEnrich", events)(
      EventStream.enrichStream(_, dim, streamKey, dimKey, dimCols))

  /** Replay through [[EventStream.excludeKnownStream]]: stateless
    * stream-static anti join, so no sentinel and no watermark — every
    * surviving event emits as soon as its micro-batch runs. */
  def replayExcludeKnown(
      events: DataFrame,
      known: DataFrame,
      streamKey: String,
      knownKey: String): DataFrame =
    replayEvents("replayExcludeKnown", events)(
      EventStream.excludeKnownStream(_, known, streamKey, knownKey))

  /** Replay through [[EventStream.dedupStream]]: one surviving row per
    * distinct key (all data lands inside the watermark horizon of a
    * single AvailableNow batch, so the streaming state dedups the
    * whole replay — the incremental twin of a batch dropDuplicates). */
  def replayDedup(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String): DataFrame =
    replayEvents("replayDedup", events)(
      EventStream.dedupStream(_, keyCols, watermark = watermark))

  /** Replay through [[EventStream.topUsersPerWindowStream]]: the
    * global sentinel closes every real window through BOTH chained
    * aggregations (the sentinel's own window stays open and is never
    * emitted, so no post-filter is needed — the output carries no
    * event_type). */
  def replayTopUsersPerWindow(
      events: DataFrame,
      k: Int,
      windowDur: String,
      watermark: String,
      horizonUs: Long): DataFrame =
    replayEvents("replayTopUsersPerWindow", events, Some((horizonUs, false)))(
      EventStream.topUsersPerWindowStream(_, k, windowDur, watermark))

  /** STREAMING near-dup ingestion gate: a document stream is
    * micro-batched into shards (`maxFilesPerTrigger` bounds each
    * trigger's file intake — the continuous-crawl arrival shape) and
    * every micro-batch is decontaminated against the STATIC signature
    * ledger with the batch operator
    * ([[graft.operators.Dedup.dropNearDupsOfLedger]]) inside
    * `foreachBatch` — the idiomatic bridge for whole-plan batch logic
    * (LSH banding + bucket join + exact verification) that no
    * composition of stateless stream transforms can express, because
    * the per-doc verdict needs a per-doc RE-aggregation over its band
    * probes. The contamination rule is per-document independent, so
    * the micro-batch partitioning provably cannot change the answer —
    * the replay faces the exact batch oracle (q113), not a weaker
    * "looks similar" check. The ledger is re-planned per micro-batch
    * (stream-static semantics), matching how an ingestion job would
    * read a ledger another job grows.
    *
    * Scale shape: per batch, the gate is the [[graft.operators.Dedup
    * .nearDedupAgainstLedger]] asymmetric join — the ledger side
    * bucket-aggregated and capped, the (micro-batch-sized) shard side
    * probing — so state NEVER accumulates in the stream (the ledger IS
    * the state, owned outside the query), and each trigger's cost
    * tracks its own colliding pairs. */
  def replayNearDupGate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ledger: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 0, // 0 = auto-tune (Dedup.lshPlan) per the batch default
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      filesPerTrigger: Int = 2): DataFrame =
    replay("replayNearDupGate", fileFeed(docs, filesPerTrigger))(
      AppendSink(batch => Dedup.dropNearDupsOfLedger(batch, idCol, textCol,
          ledger, shingleN, numHashes, bands, threshold, maxBucket),
        Some(docs.schema)))

  /** Streaming EXACT-substring ingestion firewall — the verbatim-leak
    * twin of [[replayNearDupGate]]: each micro-batch of arriving
    * documents is gated against the STATIC benchmark corpus with the
    * batch operator
    * ([[graft.operators.Corpus.dropExactSubstringMatches]]) inside
    * `foreachBatch` — anchors, count-first guard, verification walk,
    * and the anti join all run per trigger, because a per-doc verdict
    * needs the whole candidate machinery, not a stateless transform.
    * Verdicts are per-document and depend only on the static side, so
    * the micro-batch split provably cannot change any answer and the
    * replay faces the exact batch oracle — the q113 pattern at exact
    * (rather than Jaccard) semantics. State never accumulates: the
    * benchmark IS the state, owned outside the query. */
  def replayExactSubstringGate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      minTokens: Int,
      maxPositionsPerGram: Int = 10000,
      filesPerTrigger: Int = 2): DataFrame =
    replay("replayExactSubstringGate", fileFeed(docs, filesPerTrigger)) {
      // The benchmark corpus is FROZEN for this gate's lifetime, so its
      // tokenized docs and count-first-guarded anchor table are built
      // and pinned ONCE instead of re-tokenized, re-hashed and
      // re-guarded on every trigger. Benchmark suites are the small side
      // of a decontamination join by construction, so the pinned blocks
      // are eval-corpus-bounded.
      val (bdocs, banch) = Corpus.substringAnchorSide(benchmark, benchIdCol,
        benchTextCol, "left", minTokens, maxPositionsPerGram)
      val (docsIdx, anchorIdx) =
        (Blocks.checkpoint(bdocs), Blocks.checkpoint(banch))
      AppendSink(batch => Corpus.dropExactSubstringMatchesAgainstIndex(batch,
          idCol, textCol, docsIdx, anchorIdx, minTokens, maxPositionsPerGram),
        Some(docs.schema))
    }

  /** Streaming shot-boundary detection: the media table (id, binary
    * payload) arriving as a FILE stream — the ingest-time shape of a
    * video pipeline, where cut detection runs as assets land, not as a
    * nightly batch — each micro-batch pushed through the BATCH
    * [[graft.operators.Multimodal.shotBoundaries]] operator verbatim.
    * Cut detection is per-media-row independent (all of a payload's
    * sampled frames live in its own row; the lag/XOR/popcount rule
    * never crosses media ids), so the micro-batch split provably
    * cannot change any verdict and the replay faces the exact batch
    * oracle (q185) — the two-formulations-one-ground-truth pattern.
    * State never accumulates: the query is stateless by construction.
    *
    * Output schema matches the batch operator with
    * `boundary_frames` serialized to a comma-joined string (parquet
    * sink friendliness + the oracle's comparison form). */
  def replayShotBoundaries(
      media: DataFrame,
      nFrames: Int = 8,
      frameBytes: Int = 16,
      maxHamming: Int = 8,
      filesPerTrigger: Int = 2): DataFrame =
    replay("replayShotBoundaries", fileFeed(media, filesPerTrigger))(
      AppendSink(batch => Multimodal
          .shotBoundaries(batch, nFrames, frameBytes, maxHamming)
          .select(col("media_id").cast("long"),
            col("n_frames").cast("long"),
            col("n_boundaries").cast("long"),
            array_join(transform(col("boundary_frames"),
              i => i.cast("string")), ",").as("boundary_frames")),
        Some(StructType.fromDDL("media_id bigint, n_frames bigint, " +
          "n_boundaries bigint, boundary_frames string"))))

  /** Streaming PII monitor: the document feed micro-batched, each
    * batch scanned by the BATCH [[graft.operators.Quality.piiScan]]
    * and reduced to ONE per-batch summary row (per-category hit
    * totals + flagged-doc count) appended to the result log; the
    * final readout SUMS the per-batch rows. Every statistic is a plain
    * SUM over per-document counts, so the micro-batch split provably
    * cannot change the totals — the monitor is held to the batch
    * operator's aggregated oracle (q214 vs q208's seeding). This is
    * the ingest-time privacy dashboard: per-batch rows double as the
    * alarm feed (a batch whose `n_flagged` spikes is a scraped
    * directory landing), the final row as the corpus answer.
    *
    * Output: one row — (`n_docs`, per-category `<cat>_hits`...,
    * `pii_total`, `n_flagged`). */
  def replayPiiMonitor(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      patterns: Seq[(String, String)] =
        graft.operators.Quality.defaultPiiPatterns,
      filesPerTrigger: Int = 2): DataFrame = {
    val catCols = patterns.map { case (cat, _) => s"${cat}_hits" }
    val totals = ("n_docs" +: catCols :+ "pii_total" :+ "n_flagged")
      .map(c => coalesce(sum(col(c)), lit(0L)).as(c))
    replay("replayPiiMonitor", fileFeed(docs, filesPerTrigger))(
      AppendSink(batch => Quality.piiScan(batch, idCol, textCol, patterns)
          .agg(count(lit(1)).as("n_docs"),
            catCols.map(c => sum(col(c)).as(c)) ++ Seq(
              sum(col("pii_total")).as("pii_total"),
              sum(when(col("has_pii"), 1L).otherwise(0L))
                .as("n_flagged")): _*),
        None,
        perBatch => perBatch.agg(totals.head, totals.tail: _*)))
  }

  /** Streaming fingerprint monitor — integrity at INGEST: each
    * micro-batch's [[graft.operators.Quality.tableFingerprint]] row
    * (count + hash sum) appends to the result log, and the final
    * readout SUMS the per-batch rows — exactly the
    * [[graft.operators.Quality.tableFingerprintDelta]] algebra, so the
    * streamed fingerprint provably equals the batch fingerprint of
    * the whole feed whatever the split (commutative sum). Closes the
    * fingerprint matrix: batch (q213) / incremental CDC (q216) /
    * stream (this). Per-batch rows double as the audit trail (which
    * shard changed the checksum). Output: one row —
    * (`n_rows`, `fingerprint` DECIMAL(38,0)). */
  def replayFingerprintMonitor(
      df: DataFrame,
      cols: Seq[String],
      filesPerTrigger: Int = 2): DataFrame =
    replay("replayFingerprintMonitor", fileFeed(df, filesPerTrigger))(
      AppendSink(Quality.tableFingerprint(_, cols), None,
        _.agg(coalesce(sum(col("n_rows")), lit(0L)).as("n_rows"),
          coalesce(sum(col("fingerprint")),
            lit(0).cast("decimal(38,0)")).cast("decimal(38,0)")
            .as("fingerprint"))))

  /** Streaming incremental aggregate maintenance: the fact feed
    * micro-batched into shards (`maxFilesPerTrigger`), each batch
    * summarized by [[graft.operators.Maintain.summarize]] and FOLDED
    * into the persisted summary by [[graft.operators.Maintain.merge]]
    * — the q113 bridge again: the summary table IS the state, owned
    * outside the query as a versioned parquet artifact. Because
    * count/sum/min/max merge associatively AND commutatively
    * (`MaintainSpec`'s generative contract), the micro-batch
    * partitioning provably cannot change the final summary — which is
    * exactly what the replay gate holds it to: q133's oracle is the
    * batch full recompute (q131's formulation, third pattern of the
    * q92/q101/q102 family). Returns the final summary frame. */
  def replayIncrementalRollup(
      facts: DataFrame,
      keys: Seq[String],
      spec: graft.operators.Maintain.SummarySpec,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayIncrementalRollup", facts, filesPerTrigger)(
      Maintain.summarize(_, keys, spec),
      Maintain.merge(_, _, keys, spec),
      identity)

  /** Streaming distinct-count maintenance — [[graft.operators
    * .Maintain.distinctSummarize]]'s HLL rollup with the fact feed as
    * a FILE STREAM: each micro-batch summarizes to per-key sketches
    * and [[graft.operators.Maintain.distinctMerge]] folds them into a
    * versioned parquet state table (the sketch column is BINARY in
    * parquet, the q133 version-N → N+1 bridge). Register-wise max is
    * associative, commutative, AND idempotent, so the micro-batch
    * partitioning provably cannot change the final registers — the
    * stream's estimates equal the batch full-recompute's
    * REGISTER-EXACT, which is what lets q191 hold this replay to
    * q190's verbatim gate. State is keys-bounded (~4 KB per key),
    * never value-cardinality.
    *
    * Returns the final estimated frame (keys, `n`,
    * `<valueCol>_distinct`). */
  def replayDistinctRollup(
      facts: DataFrame,
      keys: Seq[String],
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayDistinctRollup", facts, filesPerTrigger)(
      Maintain.distinctSummarize(_, keys, valueCol),
      Maintain.distinctMerge(_, _, keys, valueCol),
      Maintain.distinctEstimate(_, valueCol))

  /** Streaming exact-KS drift — [[graft.operators.Profile
    * .ksStatistic]] with the monitored slice as a FILE STREAM: each
    * micro-batch's distinct-value counts fold into a versioned
    * parquet state table (counts merge by SUM — the q133 bridge — so
    * the micro-batch split provably cannot change the accumulated
    * empirical CDF), and the final statistic runs [[graft.operators
    * .Profile.ksFromCounts]] against the batch-computed reference
    * counts — the SAME arithmetic as the batch operator, which is
    * what lets q198 hold this replay to q196's verbatim oracle.
    * State is distinct-value-bounded. Returns the one-row
    * (`n_ref`, `n_cur`, `ks6`) frame. */
  def replayKsDrift(
      reference: DataFrame,
      monitored: DataFrame,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayKsDrift",
        monitored.select(valueCol), filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cb"),
      sumBy("v", "cb"),
      state => Profile.ksFromCounts(
        Profile.ksSideCounts(reference, valueCol, "ca"),
        state))

  /** Streaming 1-Wasserstein drift — [[graft.operators.Profile
    * .wassersteinDistance]] with the monitored slice as a FILE
    * STREAM: the SAME maintained distinct-value count state as
    * [[replayKsDrift]] (one ECDF state serves KS, W1, quantiles, and
    * Gini alike), with the final integral running [[graft.operators
    * .Profile.wassersteinFromCounts]] against the batch-computed
    * reference counts — identical arithmetic to the batch operator,
    * so the replay is held to its verbatim oracle. State is
    * distinct-value-bounded. Returns the one-row
    * (`n_ref`, `n_cur`, `w1_6`) frame. */
  def replayWassersteinDrift(
      reference: DataFrame,
      monitored: DataFrame,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayWassersteinDrift", monitored.select(valueCol),
        filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cb"),
      sumBy("v", "cb"),
      state => Profile.wassersteinFromCounts(
        Profile.ksSideCounts(reference, valueCol, "ca"),
        state))

  /** Streaming quantile-shift drift — [[graft.operators.Profile
    * .quantileShift]] with the monitored slice as a FILE STREAM over
    * the SAME maintained distinct-value count state as the
    * KS/W1/CvM/Mann–Whitney monitors, the final per-probability
    * shifts running [[graft.operators.Profile
    * .quantileShiftFromCounts]] against the batch-computed reference
    * counts — held to the batch operator's verbatim oracle. Returns
    * the (`p`, `n_ref`, `n_cur`, `q_ref`, `q_cur`, `shift6`) frame
    * ordered by p. */
  def replayQuantileShift(
      reference: DataFrame,
      monitored: DataFrame,
      valueCol: String,
      ps: Seq[Double],
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayQuantileShift", monitored.select(valueCol),
        filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cnt"),
      Profile.foldValueCounts,
      state => Profile.quantileShiftFromCounts(
        Profile.ksSideCounts(reference, valueCol, "cnt"),
        state, ps))

  /** Streaming PER-GROUP quantile-shift drift — [[graft.operators
    * .Profile.quantileShiftByGroup]] with the monitored slice as a
    * FILE STREAM folding the SAME group-keyed value-count state the
    * per-group KS/W1/CvM/MWU/quantile monitors maintain, the final
    * per-(group, probability) shifts running [[graft.operators
    * .Profile.quantileShiftByGroupFromCounts]] against the
    * batch-computed reference counts — held to the batch operator's
    * verbatim oracle. Returns the (`g`, `p`, `n_ref`, `n_cur`,
    * `q_ref`, `q_cur`, `shift6`) frame ordered by (g, p). */
  def replayGroupQuantileShift(
      reference: DataFrame,
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[Double],
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupQuantileShift",
        monitored.select(groupCol, valueCol), filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Profile.quantileShiftByGroupFromCounts(
        Profile.groupSideCounts(reference, groupCol, valueCol),
        state, groupCol, ps))

  /** Streaming KEY-keyed dedup monitor — [[graft.operators.Dedup
    * .exactDedupIds]] with the (key, id) feed as a FILE STREAM: each
    * micro-batch's per-key min-id winners fold into versioned state
    * by RE-MINNING (min is associative and commutative, so ARRIVAL
    * ORDER cannot change a winner — strictly stronger than the
    * first-shard-wins ledger, and exactly the batch dedup whatever
    * the split). The canonical-URL registry that stays current as the
    * crawl lands: state is one (key, id) row per distinct key, never
    * the raw rows. Held to the batch operator's verbatim oracle.
    * Returns the (key, id) winner table ordered by key. */
  def replayKeyDedupMonitor(
      monitored: DataFrame,
      keyCol: String,
      idCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayKeyDedupMonitor", monitored.select(keyCol, idCol),
        filesPerTrigger)(
      batch => Dedup.exactDedupIds(batch, Seq(keyCol), idCol),
      (base, delta) => Dedup.exactDedupIds(
        base.unionByName(delta), Seq(keyCol), idCol),
      state => state.orderBy(keyCol))

  /** Streaming Kaplan–Meier monitor — [[graft.operators.Events
    * .kaplanMeier]] with the (duration, observed) subject feed as a
    * FILE STREAM: each micro-batch's duration-grid cells (per
    * duration, event/censor counts) fold by SUM into versioned
    * parquet state (grid-bounded, never the subjects), and the final
    * readout runs the SHARED prefix-sum/fixed-point-ln arithmetic
    * over the accumulated grid — the retention curve that stays
    * current as cohorts mature. Counts merge associatively and
    * commutatively per duration cell, so the micro-batch split
    * provably cannot move any risk set or survival value — held to
    * the batch operator's verbatim oracle. Returns the (`t`,
    * `n_risk`, `n_events`, `n_censored`, `survival6`) frame. */
  def replayKaplanMeierMonitor(
      monitored: DataFrame,
      durationCol: String,
      observedCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayKaplanMeierMonitor",
        monitored.select(durationCol, observedCol), filesPerTrigger)(
      batch => Events.survivalCellsOf(batch, durationCol, observedCol),
      Events.foldSurvivalCells,
      state => Events.kaplanMeierFromCells(state))

  /** Streaming PER-GROUP Jensen–Shannon drift — [[graft.operators
    * .Profile.jsDivergenceByGroup]] with the monitored slice as a
    * FILE STREAM folding group-keyed category counts (cells-bounded:
    * groups × categories), the final per-group divergence running
    * [[graft.operators.Profile.jsDivergenceByGroupFromCounts]]
    * against the batch-computed reference counts — held to the batch
    * operator's verbatim oracle. Returns the (`g`, `n_ref`, `n_cur`,
    * `n_categories`, `jsd6`) frame ordered by group. */
  def replayGroupJsDivergence(
      reference: DataFrame,
      monitored: DataFrame,
      groupCol: String,
      c: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupJsDivergence", monitored.select(groupCol, c),
        filesPerTrigger)(
      batch => Profile.groupCatCounts(batch, groupCol, c, "cnt"),
      Profile.foldGroupCatCounts,
      state => Profile.jsDivergenceByGroupFromCounts(
        Profile.groupCatCounts(reference, groupCol, c, "ca"),
        state.withColumnRenamed("cnt", "cb")))

  /** Streaming PER-GROUP Hellinger drift — [[graft.operators.Profile
    * .hellingerByGroup]] with the monitored slice as a FILE STREAM
    * over the SAME folded group-keyed category counts as the
    * per-group JSD monitor (one cells-bounded state, two metric
    * readouts), via [[graft.operators.Profile
    * .hellingerByGroupFromCounts]] against the batch-computed
    * reference — held to the batch operator's verbatim oracle.
    * Returns the (`g`, `n_ref`, `n_cur`, `n_categories`, `bc6`,
    * `hellinger6`) frame ordered by group. */
  def replayGroupHellinger(
      reference: DataFrame,
      monitored: DataFrame,
      groupCol: String,
      c: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupHellinger", monitored.select(groupCol, c),
        filesPerTrigger)(
      batch => Profile.groupCatCounts(batch, groupCol, c, "cnt"),
      Profile.foldGroupCatCounts,
      state => Profile.hellingerByGroupFromCounts(
        Profile.groupCatCounts(reference, groupCol, c, "ca"),
        state.withColumnRenamed("cnt", "cb")))

  /** Streaming Hellinger drift — [[graft.operators.Profile
    * .hellingerDistance]] with the monitored slice as a FILE STREAM
    * over the SAME vocabulary-bounded category-count state the JSD
    * monitor folds, readout via [[graft.operators.Profile
    * .hellingerFromCounts]] against the batch-computed reference
    * counts — held to the batch operator's verbatim oracle. Returns
    * the one-row (`n_ref`, `n_cur`, `n_categories`, `bc6`,
    * `hellinger6`) frame. */
  def replayHellinger(
      reference: DataFrame,
      monitored: DataFrame,
      c: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayHellinger", monitored.select(c), filesPerTrigger)(
      batch => Profile.catSideCounts(batch, c, "cb"),
      sumBy("category", "cb"),
      state => Profile.hellingerFromCounts(
        Profile.catSideCounts(reference, c, "ca"),
        state))

  /** Streaming CUSUM change-point monitor — [[graft.operators.Stats
    * .changePointScan]] with the raw feed as a FILE STREAM: each
    * micro-batch's per-bucket exact-decimal value sums (12dp-rounded
    * terms — the q133 rollup discipline) fold by SUM into a versioned
    * bucket-bounded state table, and the final scan runs the batch
    * operator's fixed-point excursion argmax over the accumulated
    * series — "WHEN did the level shift?" kept current as events
    * land. Decimal sums merge associatively and commutatively and the
    * double cast happens once at readout, so the micro-batch split
    * provably cannot move the series — held to the batch operator's
    * verbatim oracle. Returns the one-row (`n`, `k`, `bucketCol`,
    * `cusum6`) frame. */
  def replayChangePointMonitor(
      monitored: DataFrame,
      bucketCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayChangePointMonitor",
        monitored.select(bucketCol, valueCol), filesPerTrigger)(
      batch => batch.filter(col(valueCol).isNotNull)
        .groupBy(bucketCol)
        .agg(sum(round(col(valueCol), 12).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("__cps")),
      (base, delta) => base.unionByName(delta)
        .groupBy(bucketCol)
        .agg(sum(col("__cps")).cast("decimal(38,12)").as("__cps")),
      state => Stats.changePointScan(
        state.select(col(bucketCol), col("__cps").cast("double").as("__cpv")),
        Seq(bucketCol), "__cpv"))

  /** Streaming PER-GROUP KS drift — [[graft.operators.Profile
    * .ksByGroup]] with the monitored slice as a FILE STREAM folding
    * group-keyed distinct-value counts (the per-group quantile/Gini
    * monitors' state shape — one maintained group grid serves all
    * three), the final per-group sup-gap running [[graft.operators
    * .Profile.ksByGroupFromCounts]] against the batch-computed
    * reference counts — held to the batch operator's verbatim oracle.
    * Returns the (`g`, `n_ref`, `n_cur`, `ks6`) frame ordered by
    * group. */
  def replayGroupKsDrift(
      reference: DataFrame,
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupKsDrift", monitored.select(groupCol, valueCol),
        filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Profile.ksByGroupFromCounts(
        Profile.groupSideCounts(
          reference, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
        state.withColumnRenamed("cnt", "cb")))

  /** Streaming PER-GROUP 1-Wasserstein drift — [[graft.operators
    * .Profile.wassersteinByGroup]] with the monitored slice as a FILE
    * STREAM folding the SAME group-keyed value-count state the
    * per-group KS/quantile/Gini monitors maintain, the final
    * per-group transport integral running [[graft.operators.Profile
    * .wassersteinByGroupFromCounts]] against the batch-computed
    * reference counts — held to the batch operator's verbatim oracle.
    * Returns the (`g`, `n_ref`, `n_cur`, `w1_6`) frame ordered by
    * group. */
  def replayGroupWassersteinDrift(
      reference: DataFrame,
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupWassersteinDrift",
        monitored.select(groupCol, valueCol), filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Profile.wassersteinByGroupFromCounts(
        Profile.groupSideCounts(
          reference, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
        state.withColumnRenamed("cnt", "cb")))

  /** Streaming PER-GROUP Mann–Whitney monitor — [[graft.operators
    * .Profile.mannWhitneyByGroup]] with the monitored slice as a FILE
    * STREAM folding the shared group-keyed value-count state, readout
    * via [[graft.operators.Profile.mannWhitneyByGroupFromCounts]]
    * against the batch-computed reference counts — held to the batch
    * operator's verbatim oracle. Returns the (`g`, `n_ref`, `n_cur`,
    * `u_x2`, `cliffs_delta6`, `z6`) frame ordered by group. */
  def replayGroupMannWhitney(
      reference: DataFrame,
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupMannWhitney",
        monitored.select(groupCol, valueCol), filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Profile.mannWhitneyByGroupFromCounts(
        Profile.groupSideCounts(
          reference, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
        state.withColumnRenamed("cnt", "cb")))

  /** Streaming PER-GROUP Cramér–von Mises monitor — [[graft.operators
    * .Profile.cramerVonMisesByGroup]] over the same folded group
    * count state, readout via [[graft.operators.Profile
    * .cvmByGroupFromCounts]] against the batch-computed reference —
    * held to the batch operator's verbatim oracle. The per-slice
    * drift matrix (KS / W1 / CvM / MWU, each per group) now closes
    * batch + stream on ONE maintained group grid. Returns the (`g`,
    * `n_ref`, `n_cur`, `cvm6`) frame ordered by group. */
  def replayGroupCvmDrift(
      reference: DataFrame,
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupCvmDrift", monitored.select(groupCol, valueCol),
        filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Profile.cvmByGroupFromCounts(
        Profile.groupSideCounts(
          reference, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
        state.withColumnRenamed("cnt", "cb")))

  /** Streaming Mann–Whitney location monitor — [[graft.operators
    * .Profile.mannWhitney]] with the monitored slice as a FILE
    * STREAM folding the SAME maintained distinct-value count state as
    * the KS/W1/quantile monitors, the final rank-sum arithmetic
    * running [[graft.operators.Profile.mannWhitneyFromCounts]]
    * against the batch-computed reference counts — held to the batch
    * operator's verbatim oracle. Returns the one-row (`n_ref`,
    * `n_cur`, `u_x2`, `cliffs_delta6`, `z6`) frame. */
  def replayMannWhitney(
      reference: DataFrame,
      monitored: DataFrame,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayMannWhitney", monitored.select(valueCol),
        filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cb"),
      sumBy("v", "cb"),
      state => Profile.mannWhitneyFromCounts(
        Profile.ksSideCounts(reference, valueCol, "ca"),
        state))

  /** Streaming Cramér–von Mises drift — [[graft.operators.Profile
    * .cramerVonMises]] with the monitored slice as a FILE STREAM over
    * the same maintained ECDF count state, readout via
    * [[graft.operators.Profile.cvmFromCounts]] against the
    * batch-computed reference counts — held to the batch operator's
    * verbatim oracle. One foldable grid now serves KS (sup), W1
    * (∫|gap|), CvM (∫gap²), Mann–Whitney, quantiles, Gini, and HHI.
    * Returns the one-row (`n_ref`, `n_cur`, `cvm6`) frame. */
  def replayCvmDrift(
      reference: DataFrame,
      monitored: DataFrame,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayCvmDrift",
        monitored.select(valueCol), filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cb"),
      sumBy("v", "cb"),
      state => Profile.cvmFromCounts(
        Profile.ksSideCounts(reference, valueCol, "ca"),
        state))

  /** Streaming Jensen–Shannon drift — [[graft.operators.Profile
    * .jsDivergence]] with the monitored slice as a FILE STREAM: each
    * micro-batch's category counts fold by null-safe SUM into
    * versioned parquet state (the [[replayCategoricalDrift]] state
    * shape — vocabulary-bounded), and the final divergence runs
    * [[graft.operators.Profile.jsDivergenceFromCounts]] against the
    * batch-computed reference counts — the batch operator's verbatim
    * arithmetic. Returns the one-row (`n_ref`, `n_cur`,
    * `n_categories`, `jsd6`) frame. */
  def replayJsDivergence(
      reference: DataFrame,
      monitored: DataFrame,
      c: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayJsDivergence", monitored.select(c), filesPerTrigger)(
      batch => Profile.catSideCounts(batch, c, "cb"),
      sumBy("category", "cb"),
      state => Profile.jsDivergenceFromCounts(
        Profile.catSideCounts(reference, c, "ca"),
        state))

  /** Streaming exact quantiles — [[graft.operators.Profile
    * .exactQuantilesFromCounts]] with the monitored column as a FILE
    * STREAM: each micro-batch's distinct-value counts fold by SUM
    * into a versioned parquet state table (the replayKsDrift state —
    * one maintained ECDF serves the whole quantile/KS family), and
    * the final readout runs the SHARED discrete-rank arithmetic over
    * the accumulated grid. Counts merge associatively and
    * commutatively, so the micro-batch split provably cannot move any
    * quantile — the stream readout is held to the batch operator's
    * verbatim oracle. State is distinct-value-bounded. Returns the
    * (`p`, `n`, `q`) frame, one row per probability. */
  def replayQuantileMonitor(
      monitored: DataFrame,
      valueCol: String,
      ps: Seq[Double],
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayQuantileMonitor", monitored.select(valueCol),
        filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cnt"),
      Profile.foldValueCounts,
      state => Profile.exactQuantilesFromCounts(state, ps))

  /** Streaming PER-GROUP quantile monitor — [[graft.operators.Profile
    * .exactQuantilesByGroup]] with the (group, value) feed as a FILE
    * STREAM: each micro-batch's per-group distinct-value counts fold
    * by SUM into versioned parquet state (the corpus-wide quantile
    * state's group-keyed twin), and the final readout runs the SHARED
    * global-prefix-sum discrete-rank arithmetic over the accumulated
    * per-group grid — per-language/type percentiles that stay current
    * as the crawl lands. Counts merge associatively and commutatively
    * per (group, value) cell, so the micro-batch split provably
    * cannot move any group's quantile — held to the batch operator's
    * verbatim oracle. Returns the (`groupCol`, `p`, `n`, `q`) frame. */
  def replayGroupQuantileMonitor(
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[Double],
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupQuantileMonitor",
        monitored.select(groupCol, valueCol), filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Profile.groupQuantilesFromCounts(state, groupCol, ps))

  /** Streaming PER-GROUP Gini monitor — [[graft.operators.Stats
    * .giniIndexByGroup]] with the (group, mass) feed as a FILE
    * STREAM: per-group distinct-mass counts fold by SUM into the same
    * versioned state shape the per-group quantile monitor maintains,
    * and the readout runs the per-group rank-sum identity over the
    * accumulated grid — "which source is BECOMING a few giants?" as
    * the crawl lands. Counts merge per (group, mass) cell and the
    * identity is tie-order-invariant per group, so the split provably
    * cannot move any group's G — held to the batch rank-path
    * operator's verbatim oracle. Returns the (`groupCol`, `n`,
    * `total`, `gini6`) frame. */
  def replayGroupGiniMonitor(
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupGiniMonitor",
        monitored.select(groupCol, valueCol), filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Stats.giniByGroupFromCounts(state, groupCol))

  /** Streaming Gini-concentration monitor — [[graft.operators.Stats
    * .giniFromCounts]] with the mass column as a FILE STREAM: each
    * micro-batch's distinct-mass counts fold by SUM into the SAME
    * versioned parquet ECDF state the quantile/KS monitors maintain
    * (one state table serves the whole value-distribution family),
    * and the final readout runs the shared rank-sum identity over the
    * accumulated grid — the ingest-time "is the corpus becoming a few
    * giants?" dashboard. Counts merge associatively and commutatively
    * and the rank identity is tie-order-invariant, so the micro-batch
    * split provably cannot move G — the stream readout is held to the
    * batch rank-path operator's verbatim oracle. State is
    * distinct-mass-bounded. Returns the one-row (`n`, `total`,
    * `gini6`) frame. */
  def replayGiniMonitor(
      monitored: DataFrame,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGiniMonitor", monitored.select(valueCol),
        filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cnt"),
      Profile.foldValueCounts,
      state => Stats.giniFromCounts(state))

  /** Streaming HHI concentration monitor — [[graft.operators.Stats
    * .hhiIndex]] with the mass feed as a FILE STREAM: each
    * micro-batch's distinct-mass counts fold by SUM into the SAME
    * versioned value-count ECDF state the quantile/KS/Gini monitors
    * maintain, and the readout runs [[graft.operators.Stats
    * .hhiFromCounts]] — every HHI sufficient statistic
    * (Σcnt, Σv·cnt, Σv²·cnt) is a SUM over that state, so the split
    * provably cannot move the index. One maintained grid serves the
    * whole quantile/KS/Gini/HHI family. Returns the one-row
    * (`n`, `total`, `hhi6`, `hhi_norm6`) frame. */
  def replayHhiMonitor(
      monitored: DataFrame,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayHhiMonitor", monitored.select(valueCol),
        filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cnt"),
      Profile.foldValueCounts,
      state => Stats.hhiFromCounts(state))

  /** Streaming categorical-association monitor — [[graft.operators
    * .Profile.categoricalAssociation]] with the row feed as a FILE
    * STREAM: each micro-batch's joint (a, b) counts fold by SUM into
    * a versioned parquet contingency state (cells-bounded), and the
    * final chi-square / Cramér's V / MI readout runs the SHARED
    * arithmetic over the accumulated table — the ingest-time
    * composition-dependence dashboard ("is language drifting away
    * from independent-of-source as the crawl lands?"), provably equal
    * to the batch audit of the same feed (q232 is held to q226's
    * verbatim oracle). Returns the one-row
    * (`n`, `dof`, `chi2_6`, `cramers_v6`, `mi6`) frame. */
  def replayAssociationMonitor(
      rows: DataFrame,
      colA: String,
      colB: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayAssociationMonitor", rows.select(colA, colB),
        filesPerTrigger)(
      batch => Profile.jointCountsOf(batch, colA, colB),
      Profile.foldJointCounts,
      state => Profile.associationFromJoint(state))

  /** Streaming Pearson/OLS monitor — [[graft.operators.Moments
    * .pearsonOls]] with the (x, y) feed as a FILE STREAM: each
    * micro-batch's algebraic moment state (n, Σx, Σy, Σx², Σy², Σxy —
    * 12dp-rounded exact-decimal sums) folds by SUM into a versioned
    * ONE-ROW parquet state, and the final correlation + trend-line
    * readout runs the SHARED uncentered closed forms over the
    * accumulated moments — "is the chars-per-token line drifting as
    * the crawl lands?" All five moments merge associatively and
    * commutatively, so the micro-batch split provably cannot move a
    * digit of the state — held to the batch operator's verbatim
    * oracle. State is O(1). Returns the one-row (`n`, `mean_x6`,
    * `mean_y6`, `pearson_r6`, `slope6`, `intercept6`) frame. */
  def replayMomentsMonitor(
      monitored: DataFrame,
      xCol: String,
      yCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayMomentsMonitor", monitored.select(xCol, yCol),
        filesPerTrigger)(
      batch => Moments.momentState(batch, xCol, yCol),
      Moments.foldMomentState,
      state => Moments.bivariateFromMoments(state))

  /** Streaming PER-GROUP Pearson/OLS monitor — [[graft.operators
    * .Moments.pearsonOlsByGroup]] with the (group, x, y) feed as a
    * FILE STREAM: per-group moment states fold by group-keyed SUM
    * into versioned state (one row per group — group-bounded, the
    * smallest state in the monitor family), readout = the per-group
    * in-plan closed forms. Held to the batch operator's verbatim
    * oracle. Returns the (`g`, `n`, `mean_x6`, `mean_y6`,
    * `pearson_r6`, `slope6`, `intercept6`) frame ordered by group. */
  def replayGroupMomentsMonitor(
      monitored: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupMomentsMonitor",
        monitored.select(groupCol, xCol, yCol), filesPerTrigger)(
      batch => Moments.groupMomentState(batch, groupCol, xCol, yCol),
      Moments.foldGroupMomentState,
      state => Moments.bivariateByGroupFromMoments(state))

  /** Streaming inter-rater agreement monitor — [[graft.operators
    * .Annotate.fleissKappa]] with the ratings feed as a FILE STREAM:
    * each micro-batch's (item, label) cells fold by SUM into
    * versioned state, readout = the shared exact-integer kappa
    * arithmetic once the full panel has landed (Fleiss' constant-
    * panel precondition applies to the ACCUMULATED state — the
    * AvailableNow replay reads out at the end, when it holds).
    * Returns the one-row (`n_items`, `n_raters`, `n_labels`,
    * `kappa6`) frame. */
  def replayFleissMonitor(
      ratings: DataFrame,
      itemCol: String,
      raterCol: String,
      labelCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldStateCheckpointed("replayFleissMonitor",
        ratings.select(itemCol, raterCol, labelCol), filesPerTrigger)(
      batch => Annotate.annotationCellsOf(
        batch, itemCol, raterCol, labelCol, "replayFleissMonitor"),
      Annotate.foldAnnotationCells,
      Annotate.fleissKappaFromCells)

  /** Streaming Krippendorff-alpha monitor — the SAME maintained
    * (item, label) cell state as [[replayFleissMonitor]], read out
    * through [[graft.operators.Annotate.krippendorffAlphaFromCells]]
    * — and because alpha TOLERATES varying participation, its
    * readout is meaningful at any point of the feed, not only at
    * panel completion. Returns the one-row (`n_items`, `n_ratings`,
    * `n_labels`, `alpha6`) frame. */
  def replayAlphaMonitor(
      ratings: DataFrame,
      itemCol: String,
      raterCol: String,
      labelCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldStateCheckpointed("replayAlphaMonitor",
        ratings.select(itemCol, raterCol, labelCol), filesPerTrigger)(
      batch => Annotate.annotationCellsOf(
        batch, itemCol, raterCol, labelCol, "replayAlphaMonitor"),
      Annotate.foldAnnotationCells,
      Annotate.krippendorffAlphaFromCells)

  /** Streaming vocabulary-saturation monitor — [[graft.operators
    * .Corpus.vocabRichness]] with the document feed as a FILE STREAM:
    * each micro-batch's token frequencies fold by SUM into
    * vocabulary-bounded versioned state, readout = the shared
    * Chao1/Good–Turing arithmetic — the live "is more crawl still
    * buying new vocabulary?" dashboard. Returns the one-row
    * (`n_tokens`, `vocab`, `f1`, `f2`, `chao1_6`, `unseen_mass6`)
    * frame. */
  def replayVocabRichnessMonitor(
      docs: DataFrame,
      textCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayVocabRichnessMonitor", docs.select(textCol),
        filesPerTrigger)(
      batch => Corpus.tokenFrequencies(batch, textCol),
      Corpus.foldTokenFrequencies,
      state => Corpus.vocabRichnessFromFrequencies(state))

  /** Streaming PER-GROUP vocabulary-saturation monitor — [[graft
    * .operators.Corpus.vocabRichnessByGroup]] over group-keyed
    * versioned frequency state: the live per-language saturation
    * dashboard. */
  def replayGroupVocabMonitor(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupVocabMonitor", docs.select(groupCol, textCol),
        filesPerTrigger)(
      batch => Corpus.groupTokenFrequencies(batch, groupCol, textCol),
      Corpus.foldGroupTokenFrequencies,
      state => Corpus.vocabRichnessByGroupFromFrequencies(state, groupCol))

  /** Streaming label-consolidation monitor — [[graft.operators
    * .Annotate.consolidateLabels]] over the SAME maintained (item,
    * label) cell state as the agreement monitors: as annotations
    * land, the consensus training-label table stays current without
    * rescanning a single rating (ties stay deterministic — the
    * argmin reads the accumulated cells). Returns the per-item
    * (`itemCol`, `consensus_label`, `n_ratings`, `n_consensus`,
    * `confidence6`) frame. */
  def replayConsensusMonitor(
      ratings: DataFrame,
      itemCol: String,
      raterCol: String,
      labelCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayConsensusMonitor",
        ratings.select(itemCol, raterCol, labelCol), filesPerTrigger)(
      batch => Annotate.annotationCellsOf(
        batch, itemCol, raterCol, labelCol, "replayConsensusMonitor"),
      Annotate.foldAnnotationCells,
      state => Annotate.consolidateLabelsFromCells(state, itemCol))

  /** Streaming PER-GROUP calibration monitor — [[graft.operators.Eval
    * .brierEceByGroup]] with the scored feed as a FILE STREAM over
    * group-keyed bins-bounded state: the live per-slice
    * confidence-honesty dashboard. */
  def replayGroupCalibrationMonitor(
      scored: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldStateCheckpointed("replayGroupCalibrationMonitor",
        scored.select(groupCol, labelCol, scoreCol), filesPerTrigger)(
      batch => Eval.groupCalibStateOf(
        batch, groupCol, labelCol, scoreCol, bins, lo, hi),
      Eval.foldGroupCalibState,
      Eval.brierEceByGroupFromState(_, groupCol))

  /** Streaming pairwise-win-matrix monitor — [[graft.operators
    * .Preference.pairwiseWinMatrix]] over the SAME maintained
    * directed win-count state as the BT leaderboard: the live
    * head-to-head table with honest Wilson intervals, kept current as
    * judgments land. Returns the per-pair (`model_a`, `model_b`, `n`,
    * `n_pass`, `rate6`, `lo6`, `hi6`) frame. */
  def replayWinMatrixMonitor(
      comparisons: DataFrame,
      winnerCol: String,
      loserCol: String,
      z: Double = 1.96,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayWinMatrixMonitor",
        comparisons.select(winnerCol, loserCol), filesPerTrigger)(
      batch => Preference.winCountsOf(
        batch, winnerCol, loserCol, "replayWinMatrixMonitor"),
      Preference.foldWinCounts,
      state => Preference.pairwiseWinMatrixFromCounts(state, z))

  /** Streaming Bradley–Terry leaderboard — [[graft.operators
    * .Preference.bradleyTerry]] with the comparison feed as a FILE
    * STREAM: directed win counts fold by SUM into pair-bounded
    * versioned state (the BT likelihood depends on the data only
    * through them), readout = the shared deterministic MM — the live
    * arena leaderboard, provably equal to the batch fit of the same
    * feed. Returns the (`model`, `n_wins`, `n_comparisons`,
    * `rating6`, `rnk`) frame. */
  def replayLeaderboardMonitor(
      comparisons: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 25,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldStateCheckpointed("replayLeaderboardMonitor",
        comparisons.select(winnerCol, loserCol), filesPerTrigger)(
      batch => Preference.winCountsOf(
        batch, winnerCol, loserCol, "replayLeaderboardMonitor"),
      Preference.foldWinCounts,
      Preference.bradleyTerryFromCounts(_, iters))

  /** Streaming calibration monitor — [[graft.operators.Eval
    * .brierEce]] with the scored feed as a FILE STREAM: per-bucket
    * (n, n_pos, exact score sum, exact Brier-term sum) fold by SUM
    * into bins-bounded versioned state, readout = the shared
    * Brier/ECE arithmetic — the live "is the model's confidence still
    * honest?" dashboard, provably equal to the batch audit. Returns
    * the one-row (`n`, `brier6`, `ece6`) frame. */
  def replayCalibrationMonitor(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayCalibrationMonitor",
        scored.select(labelCol, scoreCol), filesPerTrigger)(
      batch => Eval.calibStateOf(batch, labelCol, scoreCol, bins, lo, hi),
      Eval.foldCalibState,
      state => Eval.brierEceFromState(state))

  /** Streaming PER-GROUP HHI monitor — [[graft.operators.Stats
    * .hhiIndexByGroup]] off the SAME versioned per-group value-count
    * state as the group quantile/Gini monitors; readout =
    * [[graft.operators.Stats.hhiByGroupFromCounts]] (every per-group
    * sufficient statistic is a SUM over the grid). Returns the
    * per-group (`groupCol`, `n`, `total`, `hhi6`, `hhi_norm6`) frame. */
  def replayGroupHhiMonitor(
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupHhiMonitor",
        monitored.select(groupCol, valueCol), filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Stats.hhiByGroupFromCounts(state, groupCol))

  /** Streaming PER-GROUP Theil monitor — [[graft.operators.Stats
    * .theilIndexByGroup]] off the shared per-group grid; readout =
    * [[graft.operators.Stats.theilByGroupFromCounts]] (an integer
    * multiple of a 12dp-rounded decimal term is exact). Returns the
    * per-group (`groupCol`, `n`, `total`, `theil6`, `theil_norm6`)
    * frame. */
  def replayGroupTheilMonitor(
      monitored: DataFrame,
      groupCol: String,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupTheilMonitor",
        monitored.select(groupCol, valueCol), filesPerTrigger)(
      batch => Profile.groupSideCounts(batch, groupCol, valueCol),
      Profile.foldGroupValueCounts,
      state => Stats.theilByGroupFromCounts(state, groupCol))

  /** Streaming Theil concentration monitor — [[graft.operators.Stats
    * .theilIndex]] with the mass feed as a FILE STREAM over the SAME
    * versioned value-count state as the quantile/KS/Gini/HHI
    * monitors; readout = [[graft.operators.Stats.theilFromCounts]]
    * (an integer multiple of a 12dp-rounded decimal term is exact, so
    * the counts readout provably equals the per-row one). Returns the
    * one-row (`n`, `total`, `theil6`, `theil_norm6`) frame. */
  def replayTheilMonitor(
      monitored: DataFrame,
      valueCol: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayTheilMonitor", monitored.select(valueCol),
        filesPerTrigger)(
      batch => Profile.ksSideCounts(batch, valueCol, "cnt"),
      Profile.foldValueCounts,
      state => Stats.theilFromCounts(state))

  /** Streaming PER-GROUP association monitor — [[graft.operators
    * .Profile.categoricalAssociationByGroup]] with the row feed as a
    * FILE STREAM: each micro-batch's (group, a, b) joint counts fold
    * by SUM into cells-bounded versioned state, and the readout runs
    * the SHARED per-group chi-square / Cramér's V / MI arithmetic —
    * the drill-down dashboard ("is language⊥source WITHIN each crawl
    * snapshot, live?"), provably equal to the batch audit of the same
    * feed. Closes the association matrix's per-group column: corpus
    * AND per-group each have batch / incremental / stream. Returns
    * the per-group (`groupCol`, `n`, `dof`, `chi2_6`, `cramers_v6`,
    * `mi6`) frame. */
  def replayGroupAssociationMonitor(
      rows: DataFrame,
      groupCol: String,
      colA: String,
      colB: String,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldStateCheckpointed("replayGroupAssociationMonitor",
        rows.select(groupCol, colA, colB), filesPerTrigger)(
      batch => Profile.groupJointCountsOf(batch, groupCol, colA, colB),
      Profile.foldGroupJointCounts,
      Profile.associationByGroupFromJoint(_, groupCol))

  /** Streaming bootstrap-CI monitor — [[graft.operators.Stats
    * .bootstrapMeanCI]] with the outcome feed as a FILE STREAM: each
    * micro-batch folds its rows' `nBoot` Poisson replicate weights
    * into per-replicate (Σ, count) partials (the batch operator's own
    * one-scan fold), which merge by exact decimal/long SUM into a
    * versioned parquet state table — (nBoot+1)-row state, never a
    * rescan of earlier batches — and the final readout runs the
    * SHARED percentile arithmetic. Because each row's replicate
    * weights are a pure function of (salt, b, id) and the partials
    * are exact decimals, the micro-batch split provably cannot move
    * any replicate mean: the live CI equals the batch CI of the same
    * feed, and q225 is held to q217's verbatim oracle — closing the
    * CI matrix whole-corpus (q217) / per-group (q220) / stream
    * (this). Returns the one-row (`n`, `n_boot`, `mean6`, `lo6`,
    * `hi6`) frame. */
  def replayBootstrapMonitor(
      outcomes: DataFrame,
      valueCol: String,
      idCol: String,
      nBoot: Int = 100,
      alpha: Double = 0.05,
      salt: String = "boot",
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayBootstrapMonitor", outcomes.select(valueCol, idCol),
        filesPerTrigger)(
      batch => Stats.bootPartialsOf(batch, valueCol, idCol, nBoot, salt),
      Stats.foldBootPartials,
      state => Stats.ciFromBootPartials(state, alpha))

  /** Streaming PER-GROUP bootstrap-CI monitor — [[graft.operators
    * .Stats.bootstrapMeanCIByGroup]] with the (group, outcome, id)
    * feed as a FILE STREAM: each micro-batch folds into per-(group,
    * replicate) exact-decimal partials that merge by SUM into
    * versioned state (groups × (nBoot+1) rows — never a rescan), and
    * the readout runs the SHARED per-group percentile arithmetic —
    * one live mean CI per segment as the data lands. Weights are a
    * pure function of (salt, b, id) and the partials are exact, so
    * the split provably cannot move any group's CI — held to the
    * batch operator's verbatim oracle, closing the CI matrix's last
    * cell (per-group stream). Returns the (`groupCol`, `n`,
    * `n_boot`, `mean6`, `lo6`, `hi6`) frame. */
  def replayGroupBootstrapMonitor(
      outcomes: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      nBoot: Int = 100,
      alpha: Double = 0.05,
      salt: String = "boot",
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupBootstrapMonitor",
        outcomes.select(groupCol, valueCol, idCol), filesPerTrigger)(
      batch => Stats.groupBootPartialsOf(
        batch, groupCol, valueCol, idCol, nBoot, salt),
      Stats.foldBootPartials,
      state => Stats.groupCiFromBootPartials(state, groupCol, alpha))

  /** Fold of count-like state: `delta` unioned into `base`, `c` summed
    * per `key` — associative and commutative, the q133 bridge. */
  private def sumBy(key: String, c: String)(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy(key).agg(sum(col(c)).as(c))

  /** Streaming SCD-2 enrichment — the FACT feed as a file stream,
    * each micro-batch point-in-time joined against the STATIC
    * slowly-changing dimension by the BATCH [[graft.operators
    * .AsOfJoin.scdJoin]] verbatim, results appended: the ingest-time
    * shape of feature generation, where every arriving fact picks up
    * the dimension version valid at its own timestamp (the
    * label-leakage firewall) as it lands. Enrichment is PER-FACT-ROW
    * independent — the joined output of a fact row is a pure function
    * of (that row, the static dim) — so the micro-batch split
    * provably cannot change any row and the replay is held to the
    * batch operator's verbatim oracle (q224 vs q116's — the
    * q113/q211 argument). The dimension overlap audit runs per batch
    * (`checkNonOverlap` semantics unchanged); a production monitor
    * would cache the dim snapshot, the replay keeps its lineage
    * visible instead. */
  def replayScdEnrichment(
      facts: DataFrame,
      factKey: String,
      factTime: String,
      dim: DataFrame,
      dimKey: String,
      validFrom: String,
      validTo: String,
      filesPerTrigger: Int = 2): DataFrame = {
    def enrich(f: DataFrame) =
      AsOfJoin.scdJoin(f, factKey, factTime, dim, dimKey, validFrom, validTo)
    replay("replayScdEnrichment", fileFeed(facts, filesPerTrigger))(
      // the enriched schema, read off the batch plan without executing it
      AppendSink(enrich, Some(enrich(facts.limit(0)).schema)))
  }

  /** (arm, flag) feed of the A/B monitors: NULL arms and flags are
    * excluded as the batch operators exclude them, and the arm is cast
    * to string so a typed arm column cannot break stream==batch
    * parity. */
  private def armFeed(outcomes: DataFrame, armCol: String, flagCol: String) =
    outcomes
      .filter(col(armCol).isNotNull && col(flagCol).isNotNull)
      .select(col(armCol).cast("string").as("arm"),
        col(flagCol).cast("boolean").as("flag"))

  /** Per-arm (n, n_pass) counts of an [[armFeed]] batch. */
  private def armCounts(batch: DataFrame): DataFrame =
    batch.groupBy("arm")
      .agg(count(col("flag")).as("n"),
        sum(when(col("flag") === true, 1L).otherwise(0L)).as("n_pass"))

  private def foldArmCounts(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy("arm")
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("n_pass")).cast("long").as("n_pass"))

  /** Streaming experiment monitor — [[graft.operators.Experiment
    * .abReport]] with the OUTCOME feed as a file stream: each
    * micro-batch's per-arm (n, n_pass) counts fold by SUM into
    * versioned parquet state (split-invariant, the q133 bridge), and
    * the final readout runs the SHARED Wilson + pooled-z arithmetic —
    * the live dashboard a running experiment is actually watched on,
    * provably equal to the batch readout over the same outcomes
    * (q205 is held to q199's verbatim oracle). Rows must arrive
    * already assigned (`armCol`) with a boolean outcome; NULL
    * outcomes are excluded per the batch rule, AT THE BATCH where
    * they arrive. State is arms-bounded. */
  def replayAbMonitor(
      outcomes: DataFrame,
      armCol: String,
      flagCol: String,
      controlArm: String,
      zThreshold: Double = 1.96,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayAbMonitor",
        armFeed(outcomes, armCol, flagCol), filesPerTrigger)(
      armCounts, foldArmCounts,
      state => Experiment.abReportFromCI(
        Quality.passRateCIFromCounts(state, Seq("arm"), zThreshold),
        controlArm, zThreshold))

  /** Streaming SEQUENTIAL experiment monitor — the always-valid
    * (mSPRT) p-value LOOKED AT after every micro-batch, which is safe
    * by construction ([[graft.operators.Experiment
    * .sequentialAbReport]]'s point: a fixed-horizon z looked at each
    * batch inflates false positives — peeking bias — while the
    * always-valid p admits `min` over any number of looks). Per-arm
    * counts fold by SUM into versioned state (the [[replayAbMonitor]]
    * shape); after EACH batch the driver computes every arm's
    * always-valid p from the cumulative counts and folds the running
    * minimum — the live decision. The final-look columns are the
    * SHARED [[graft.operators.Experiment.sequentialAbFromCounts]]
    * readout, so they provably equal the batch operator's (counts
    * fold; held to the batch oracle), while `min_av_p6` /
    * `ever_crossed` / `n_looks` carry the sequential decision trail
    * (spec-pinned: min ≤ final, never crosses under a null stream,
    * crosses under a planted effect).
    *
    * Output per arm, ordered: (`arm`, `n`, `n_pass`, `rate6`,
    * `av_p6`, `significant`, `min_av_p6`, `ever_crossed`,
    * `n_looks`). */
  def replaySequentialAbMonitor(
      outcomes: DataFrame,
      armCol: String,
      flagCol: String,
      controlArm: String,
      tau: Double = 0.1,
      alpha: Double = 0.05,
      filesPerTrigger: Int = 2): DataFrame = {
    val spark = outcomes.sparkSession
    // AvailableNow foreachBatch runs looks sequentially; a plain map
    // under its own lock is enough
    val minP = scala.collection.mutable.Map.empty[String, Double]
    val looks = new AtomicInteger(0)
    // THE LOOK: always-valid p off the cumulative counts, folded into
    // the running per-arm minimum
    def look(committed: String): Unit = {
      looks.incrementAndGet()
      Experiment.sequentialAbFromCounts(
          spark.read.parquet(committed), controlArm, tau, alpha)
        .collect().foreach { r =>
          if (!r.isNullAt(4)) minP.synchronized {
            val arm = r.getString(0)
            val p = r.getDouble(4)
            minP(arm) = math.min(minP.getOrElse(arm, p), p)
          }
        }
    }
    def readout(state: DataFrame): DataFrame = {
      val fin = Experiment.sequentialAbFromCounts(state, controlArm, tau, alpha)
      val minExpr = minP.synchronized {
        minP.toSeq.sortBy(_._1)
          .foldLeft(lit(null).cast("double")) { case (e, (a, p)) =>
            when(col("arm") === a, lit(p)).otherwise(e)
          }
      }
      fin.withColumn("min_av_p6", minExpr)
        .withColumn("ever_crossed",
          when(col("min_av_p6").isNotNull, col("min_av_p6") <= alpha))
        .withColumn("n_looks", lit(looks.get().toLong))
        .orderBy("arm")
    }
    replay("replaySequentialAbMonitor",
        fileFeed(armFeed(outcomes, armCol, flagCol), filesPerTrigger))(
      FoldSink(foldStep(armCounts, foldArmCounts), readout,
        (_, committed) => look(committed)))
  }

  /** Streaming mergeable-quantile-sketch monitor — [[graft.operators
    * .Profile.sketchStateOf]] maintained over a file stream: each
    * micro-batch's own bottom-k sample folds into the versioned state
    * by min-k ([[graft.operators.Profile.foldSketchState]]), which is
    * associative, commutative, and idempotent — so the final state
    * provably equals the batch sketch WHATEVER the micro-batch split
    * (the mergeable-sketch property itself, spec-pinned), and the
    * final [[graft.operators.Profile.sketchQuantileReport]] readout
    * is held to the batch query's verbatim oracle. State is k rows,
    * ever; the accumulated history is never rescanned. */
  def replaySketchQuantileMonitor(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      ps: Seq[Double],
      k: Int = 1024,
      salt: String = "qsk",
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replaySketchQuantileMonitor",
        df.select(col(idCol).cast("long").as("id"),
          col(valueCol).cast("double").as("v")), filesPerTrigger)(
      Profile.sketchStateOf(_, "v", "id", k, salt),
      Profile.foldSketchState(_, _, k),
      Profile.sketchQuantileReport(_, df, valueCol, ps, k))

  /** Streaming PER-GROUP mergeable-quantile-sketch monitor —
    * [[graft.operators.Profile.sketchStateByGroup]] maintained over a
    * file stream: each micro-batch's own per-group bottom-k sample
    * folds into the versioned state by keyed min-k
    * ([[graft.operators.Profile.foldSketchStateByGroup]]) —
    * associative, commutative, idempotent per group, so the final
    * state provably equals the batch state WHATEVER the split, and
    * the final [[graft.operators.Profile.sketchQuantileReportByGroup]]
    * readout is held to the batch query's verbatim oracle. State is
    * ≤ k rows per group, ever; history is never rescanned. Ids ride
    * as strings end-to-end (the hashed form), so the micro-batch
    * hash equals the batch hash byte-for-byte. */
  def replayGroupSketchQuantileMonitor(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      ps: Seq[Double],
      k: Int = 1024,
      salt: String = "qsk",
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayGroupSketchQuantileMonitor",
        df.select(col(groupCol).cast("string").as("g"),
          col(idCol).cast("string").as("id"),
          col(valueCol).cast("double").as("v")), filesPerTrigger)(
      Profile.sketchStateByGroup(_, "g", "v", "id", k, salt),
      Profile.foldSketchStateByGroup(_, _, k),
      Profile.sketchQuantileReportByGroup(_, df, groupCol, valueCol, ps, k))

  /** Streaming incremental connected components — [[graft.operators
    * .Components.incrementalComponents]] with the EDGE feed as a file
    * stream: each micro-batch of new edges folds into the versioned
    * label-table state through the contracted-graph formulation (only
    * the batch-bounded contracted graph ever iterates; the
    * accumulated edge history is never rescanned). The fold theorem —
    * min-of-min-representatives is the global min — makes every
    * intermediate state a valid min-id labeling, so by induction the
    * final labels equal a full recompute over all edges, whatever the
    * micro-batch split (q206 holds this to q46's VERBATIM oracle).
    * State is nodes-bounded. Returns the final (node, comp) frame. */
  def replayIncrementalComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      filesPerTrigger: Int = 2): DataFrame = {
    val spark = edges.sparkSession
    val noLabels = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType.fromDDL("node bigint, comp bigint"))
    replay("replayIncrementalComponents", fileFeed(
        edges.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b")), filesPerTrigger))(
      FoldSink((prior, batch) => Components.incrementalComponents(
          prior.getOrElse(noLabels), batch, "a", "b"),
        identity,
        // the write consumed the fold; free the contracted-CC label
        // checkpoint before the next batch (else blocks accumulate one
        // generation per micro-batch)
        (folded, _) => Blocks.release(folded)))
  }

  /** Streaming drift monitor — [[graft.operators.Profile.drift]]'s PSI
    * kept current by a FILE STREAM of the monitored slice: each
    * micro-batch is bucketed with the REFERENCE-derived bounds
    * ([[graft.operators.Profile.histogram]]'s clamping arithmetic,
    * verbatim) and its bucket counts fold into a versioned parquet
    * histogram state table (the q133 bridge — per-bucket counts merge
    * by SUM, associative AND commutative, so micro-batch partitioning
    * provably cannot change the accumulated histogram); the final PSI
    * is [[graft.operators.Profile.psiFromCounts]] over the accumulated
    * counts against the batch-computed reference histogram — the SAME
    * arithmetic the batch operator runs, so the replay gate can hold
    * this to q128's verbatim oracle (batch fold and stream fold, two
    * formulations of one ground truth). State is bins-bounded (never
    * key- or corpus-cardinality).
    *
    * Returns the per-bucket (`bucket`, `n_ref`, `n_cur`, `psi`) frame. */
  def replayStreamingDrift(
      reference: DataFrame,
      current: DataFrame,
      c: String,
      bins: Int,
      lo: Double,
      hi: Double,
      eps: Double = 1e-6,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayStreamingDrift", current, filesPerTrigger)(
      Profile.histogram(_, c, bins, lo, hi).select(col("bucket"), col("n")),
      sumBy("bucket", "n"),
      state => Profile.psiFromCounts(
        Profile.histogram(reference, c, bins, lo, hi)
          .select(col("bucket"), col("n").as("n_ref"))
          .join(state.select(col("bucket"), col("n").as("n_cur")), "bucket"),
        eps))

  /** Streaming CATEGORICAL drift monitor —
    * [[graft.operators.Profile.categoricalDrift]]'s PSI kept current
    * by a file stream of the monitored slice, completing the drift
    * matrix (numeric batch q128 / numeric stream q169 / categorical
    * batch q180 / categorical stream): each micro-batch's per-category
    * counts fold into a versioned parquet state table (counts merge by
    * SUM — associative and commutative, so micro-batch partitioning
    * provably cannot change the accumulated frequency table; NULL
    * categories carry through the fold as the NULL key), and the final
    * per-category PSI is
    * [[graft.operators.Profile.categoricalDriftFromCounts]] over the
    * accumulated counts vs the batch-computed reference — the SAME
    * arithmetic the batch operator runs, so the replay gate holds this
    * to q180's verbatim oracle. State is category-vocabulary-bounded.
    *
    * Returns the (`category`, `n_ref`, `n_cur`, `psi`) frame. */
  def replayCategoricalDrift(
      reference: DataFrame,
      current: DataFrame,
      c: String,
      eps: Double = 1e-6,
      filesPerTrigger: Int = 2): DataFrame =
    replayFoldState("replayCategoricalDrift", current, filesPerTrigger)(
      _.groupBy(col(c).cast("string").as("category"))
        .agg(count(lit(1)).as("n")),
      sumBy("category", "n"),
      state => Profile.categoricalDriftFromCounts(
        reference.groupBy(col(c).cast("string").as("category"))
          .agg(count(lit(1)).as("n_ref")),
        state.select(col("category"), col("n").as("n_cur")),
        eps))

  /** Streaming semantic decontamination gate —
    * [[graft.operators.Similarity.semanticDecontaminate]] with the
    * EVAL side arriving as a file stream: each micro-batch is flagged
    * against the STATIC train corpus and the IVF model trained ONCE
    * outside the query, inside `foreachBatch` (the q113 bridge —
    * whole-plan batch logic no stateless stream transform chain can
    * express). This closes the decontamination matrix: lexical batch
    * (q55), lexical stream (q113), semantic batch (q110), semantic
    * stream (this). Partition-invariance is per-row independence: an
    * eval vector's flag depends only on itself, the train corpus, and
    * the model — never on other eval rows — so the micro-batch split
    * provably cannot change any flag and the replay gate can hold the
    * stream to q110's VERBATIM oracle. Stream state never
    * accumulates: the train corpus + trained model ARE the state,
    * owned outside the query ([[graft.operators.Ivf.save]]/`load` is
    * the production artifact path).
    *
    * Returns the flagged eval frame. */
  def replaySemanticGate(
      eval: DataFrame,
      train: DataFrame,
      idCol: String,
      vecCol: String,
      model: graft.operators.Ivf.Model,
      threshold: Double,
      nprobe: Int = 2,
      maxCell: Int = 10000,
      filesPerTrigger: Int = 2): DataFrame =
    replay("replaySemanticGate", fileFeed(eval, filesPerTrigger)) {
      // The train corpus and model are FROZEN for this gate's lifetime,
      // so the probe-assigned + guarded train cell table is built and
      // pinned ONCE and every micro-batch joins the blocks, instead of
      // k cosine scorings of every train vector per batch for an index
      // that cannot change. A growing ledger would invalidate this and
      // belongs to the re-plan-per-batch shape of replayNearDupGate.
      val np = math.min(nprobe, model.k)
      val index = Blocks.checkpoint(Similarity.decontaminationIndex(
        train, idCol, vecCol, model, np, maxCell))
      AppendSink(Similarity.decontaminateAgainstIndex(_,
        index, idCol, vecCol, model, threshold, np), None)
    }
}
