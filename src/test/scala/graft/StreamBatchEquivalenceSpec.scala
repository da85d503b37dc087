package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sessionize
import graft.sources.Tables
import graft.streaming.{EventStream, StreamGate}
import graft.testkit.SparkTestKit._

/** Batch-vs-stream equivalence over the real events table: the
  * streaming operators must reproduce their batch twins row-for-row.
  * The sessionize case runs MULTI-batch (time-split source files,
  * maxFilesPerTrigger=1) so state genuinely crosses micro-batch
  * boundaries — a single-batch replay would never exercise the state
  * store handoff. (The q41-q43 oracle queries check the same
  * operators against DuckDB; this spec checks the incremental
  * machinery itself, including the multi-batch path DuckDB can't see.)
  */
class StreamBatchEquivalenceSpec extends AnyFunSuite {

  private val dataDir = "/root/testdata/sf0.001"
  private val gapUs = 30L * 60 * 1000000

  private def events = Tables.events(spark, dataDir)
    .select("event_id", "ts", "user_id", "event_type", "value")

  test("stream sessionize == batch sessionize across micro-batch boundaries") {
    val s = spark
    import s.implicits._
    val ev = events
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val minUs = ev.agg(min(unix_micros(col("ts")))).head().getLong(0)
    val midUs = (minUs + maxUs) / 2
    // per-user sentinels close every real session; they ride in the
    // newer half so they land in the LAST micro-batch
    val sentinels = ev.select("user_id").distinct()
      .select(lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs + 2 * gapUs)).as("ts"),
        col("user_id"), lit("__sentinel").as("event_type"), lit(0.0).as("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-eq").toString
    // two time-ordered files written sequentially: the file source
    // processes oldest-modified first, so with maxFilesPerTrigger=1
    // the replay is a genuine two-batch stream in event-time order
    ev.filter(unix_micros(col("ts")) <= midUs)
      .coalesce(1).write.mode("append").parquet(dir)
    ev.filter(unix_micros(col("ts")) > midUs).unionByName(sentinels)
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = implicitly[org.apache.spark.sql.Encoder[EventStream.Event]].schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStream.Event]
    val q = EventStream.sessionizeStream(stream, gapUs).toDF()
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    // Bounded wait (no idleTimeout, so AvailableNow self-terminates):
    // surface a hang as a test FAILURE, never an sbt-test stall.
    if (!q.awaitTermination(120000L)) {
      q.stop()
      fail("sess_eq replay did not terminate within 120s")
    }
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "replay must span at least two non-empty micro-batches")
    val streamed = s.table("sess_eq")
      .select(col("user_id"),
        unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"),
        col("n_events"))
      .collect().map(_.toSeq).toSet
    val batch = Sessionize.sessionStats(
        Sessionize.sessionize(ev, Seq("user_id"), "ts", gapUs,
          tieBreak = Seq("event_id")),
        Seq("user_id"), "ts", "value")
      .select(col("user_id"),
        unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"),
        col("n_events"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("late-data observability: planted late rows surface in the dropped-late metric") {
    val s = spark
    // Three ordered micro-batches: batch 0 (t=0..2h) seeds windows and
    // the watermark; batch 1 (one fresh row) runs with the advanced
    // watermark, EVICTING and emitting every old window; batch 2's
    // t=1min row then targets an already-emitted window — the
    // aggregation drops it SILENTLY (the earlier-batch cases merge
    // late rows into still-live state, which is why the metric — not
    // the output — is the only place a production run sees the loss).
    val base = 1700000000000000L
    def ev(id: Long, offsetMin: Long) = row(id,
      new java.sql.Timestamp(base / 1000 + offsetMin * 60000), id, "e", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    def listFiles() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSet
    def writeBatch(rows: Seq[org.apache.spark.sql.Row], mtimeBumpMs: Long): Unit = {
      val before = listFiles()
      table("event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
        rows).coalesce(1).write.mode("append").parquet(dir)
      // the file source orders batches by modification time: stage the
      // bumps so the three batches replay in plant order (same-ms
      // writes would tie)
      (listFiles() -- before).foreach { f =>
        f.setLastModified(f.lastModified() + mtimeBumpMs)
      }
    }
    writeBatch((0L until 5L).map(i => ev(i, i * 30)), 0L)     // 0..2h
    writeBatch(Seq(ev(50L, 150)), 600000L)                    // fresh row
    writeBatch(Seq(ev(100L, 1)), 1200000L)                    // LATE row
    val schema = table(
      "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
      Seq.empty).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStream.windowedCounts(stream, "5 minutes", "5 minutes",
        "10 minutes")
      .writeStream.format("memory").queryName("late_obs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(120000L)) { q.stop(); fail("late_obs hung") }
    val obs = StreamGate.observabilityOf(q)
    assert(obs.microBatches >= 3, obs.toString)
    assert(obs.droppedLateRows >= 1,
      s"the planted late row must be counted: $obs")
    // and a well-configured gate replay reports ZERO late drops — the
    // production health check, published after every replay
    StreamGate.replayWindowedCounts(events,
      "5 minutes", "5 minutes", "10 minutes", horizonUs = 3600L * 1000000)
      .count()
    val gateObs = StreamGate.lastReplayObservability
    assert(gateObs.exists(o => o.droppedLateRows == 0 && o.microBatches >= 1),
      gateObs.toString)
  }

  test("observability outlives recentProgress retention (listener-accumulated)") {
    val s = spark
    // recentProgress keeps only the last numRecentProgressUpdates
    // events; shrink the retention to 2 and replay MORE micro-batches
    // than that — the ledger-accumulated count must still be exact
    // where a recentProgress sum would have been capped at 2.
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val prev = s.conf.get(key)
    s.conf.set(key, "2")
    try {
      val facts = s.range(0, 64)
        .select((col("id") % 4).as("k"), col("id").as("v"))
        .repartition(8) // coalesce(8) in the gate → 8 files → 8 batches
      val est = StreamGate.replayDistinctRollup(facts, Seq("k"), "v",
        filesPerTrigger = 1)
      assert(est.count() == 4)
      val obs = StreamGate.lastReplayObservability
      assert(obs.exists(_.microBatches > 2),
        s"retention-capped count leaked through: $obs")
      assert(obs.exists(_.microBatches >= 8), obs.toString)
      assert(obs.exists(_.droppedLateRows == 0), obs.toString)
    } finally s.conf.set(key, prev)
  }

  test("stream shot boundaries == batch shotBoundaries across micro-batches") {
    import graft.operators.Multimodal
    import graft.streaming.StreamGate
    // two-shot payloads (4 frames of A then 4 of B) plus a one-shot
    // control; 20 media rows so filesPerTrigger=1 over the gate's
    // 8-file coalesce forces a genuinely multi-batch replay
    val media = table("media_id bigint, payload binary",
      (0L until 20L).map { i =>
        val a = Array.fill(16)((i + 1).toByte)
        val b = if (i % 3 == 0) a // one-shot: identical halves
          else Array.tabulate(16)(j => (i * 7 + j * 13 + 1).toByte)
        row(i, (Seq.fill(4)(a) ++ Seq.fill(4)(b)).flatten.toArray)
      }).repartition(8) // the gate's coalesce(8) cannot GROW partitions
    val batch = Multimodal.shotBoundaries(media, nFrames = 8,
        frameBytes = 16, maxHamming = 8)
      .select(col("media_id"), col("n_frames"), col("n_boundaries"),
        array_join(transform(col("boundary_frames"),
          i => i.cast("string")), ",").as("bf"))
      .collect().map(_.toSeq).toSet
    val streamed = StreamGate.replayShotBoundaries(media, nFrames = 8,
        frameBytes = 16, maxHamming = 8, filesPerTrigger = 1)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; " +
        s"batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
    val obs = StreamGate.lastReplayObservability
    assert(obs.exists(o => o.microBatches >= 8 && o.droppedLateRows == 0),
      obs.toString)
  }

  test("stream PII monitor == batch piiScan totals across micro-batches") {
    import graft.operators.Quality
    import graft.streaming.StreamGate
    val docs = table("id bigint, t string",
      (0L until 24L).map { i =>
        val t = i % 4 match {
          case 0 => s"doc $i mail u$i@ex.com"
          case 1 => s"doc $i at https://ex.io/p$i"
          case 2 => s"doc $i host 10.0.0.$i"
          case _ => s"doc $i clean"
        }
        row(i, t)
      }).repartition(8)
    val batch = Quality.piiScan(docs, "id", "t")
      .agg(count(lit(1)), sum(col("email_hits")), sum(col("url_hits")),
        sum(col("ipv4_hits")), sum(col("phone_hits")),
        sum(col("pii_total")),
        sum(when(col("has_pii"), 1L).otherwise(0L)))
      .head().toSeq
    val streamed = StreamGate.replayPiiMonitor(docs, "id", "t",
      filesPerTrigger = 1).head().toSeq
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.head.asInstanceOf[Long] == 24L)
    val obs = StreamGate.lastReplayObservability
    assert(obs.exists(o => o.microBatches >= 8 && o.droppedLateRows == 0),
      obs.toString)
  }

  test("stream fingerprint == batch tableFingerprint across micro-batches") {
    import graft.operators.Quality
    import graft.streaming.StreamGate
    val df = table("k bigint, s string",
      (0L until 40L).map(i => row(i, s"v${i % 7}"))).repartition(8)
    val batch = Quality.tableFingerprint(df, Seq("k", "s")).head()
    val streamed = StreamGate.replayFingerprintMonitor(df, Seq("k", "s"),
      filesPerTrigger = 1).head()
    assert(streamed.getLong(0) == batch.getLong(0))
    assert(streamed.getDecimal(1).toBigInteger ==
      batch.getDecimal(1).toBigInteger,
      s"stream ${streamed.getDecimal(1)} vs batch ${batch.getDecimal(1)}")
    val obs = StreamGate.lastReplayObservability
    assert(obs.exists(o => o.microBatches >= 8 && o.droppedLateRows == 0),
      obs.toString)
  }

  test("stream KS drift == batch ksStatistic across micro-batches") {
    import graft.operators.Profile
    val ev = events
    val midUs = 1705363200000000L
    val ref = ev.filter(unix_micros(col("ts")) < midUs)
    val cur = ev.filter(unix_micros(col("ts")) >= midUs)
    val streamed = StreamGate.replayKsDrift(ref, cur, "value",
      filesPerTrigger = 1).head()
    val batch = Profile.ksStatistic(ref, cur, "value").head()
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(streamed.getDouble(2) >= 0.0 && streamed.getLong(0) > 0)
  }

  test("stream quantile monitor == batch exactQuantiles across count folds") {
    import graft.operators.Profile
    val ps = Seq(0.25, 0.5, 0.9)
    // repartition(8) + filesPerTrigger=1: 8 genuine versioned-state
    // handoffs, not a single-batch degenerate replay (the sf0.001
    // source is one parquet partition, which coalesce cannot widen)
    val streamed = StreamGate.replayQuantileMonitor(events.repartition(8),
      "value", ps, filesPerTrigger = 1).collect().map(_.toSeq)
    val batch = Profile.exactQuantiles(events, "value", ps)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
    // and the incremental fold is the same ground truth
    val a = Profile.ksSideCounts(
      events.filter(col("event_id") % 2 === 0), "value", "cnt")
    val b = Profile.ksSideCounts(
      events.filter(col("event_id") % 2 === 1), "value", "cnt")
    val folded = Profile.exactQuantilesFromCounts(
      Profile.foldValueCounts(a, b), ps).collect().map(_.toSeq)
    assert(folded.toSeq == batch.toSeq)
  }

  test("stream per-group quantile monitor == batch exactQuantilesByGroup across folds") {
    import graft.operators.Profile
    val ps = Seq(0.25, 0.5, 0.9)
    val rows = events.select(col("event_type"), col("value"))
    val streamed = StreamGate.replayGroupQuantileMonitor(
        rows.repartition(8), "event_type", "value", ps, filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = Profile.exactQuantilesByGroup(
      events, "event_type", "value", ps).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
    // and the incremental fold is the same ground truth
    val a = Profile.groupSideCounts(
      events.filter(col("event_id") % 2 === 0), "event_type", "value")
    val b = Profile.groupSideCounts(
      events.filter(col("event_id") % 2 === 1), "event_type", "value")
    val folded = Profile.groupQuantilesFromCounts(
        Profile.foldGroupValueCounts(a, b), "event_type", ps)
      .collect().map(_.toSeq)
    assert(folded.toSeq == batch.toSeq)
  }

  test("stream gini monitor == batch giniIndex across count folds") {
    import graft.operators.Stats
    // non-negative integer masses off the value column
    val masses = events.select((abs(col("value")) * 100).cast("long")
      .as("mass"), col("event_id"))
    val streamed = StreamGate.replayGiniMonitor(
      masses.select("mass").repartition(8), "mass", filesPerTrigger = 1).head()
    val batch = Stats.giniIndex(masses, "mass", "event_id").head()
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream hhi monitor == batch hhiIndex across count folds") {
    import graft.operators.Stats
    val masses = events.select((abs(col("value")) * 100).cast("long")
      .as("mass"))
    val streamed = StreamGate.replayHhiMonitor(
      masses.repartition(8), "mass", filesPerTrigger = 1).head()
    val batch = Stats.hhiIndex(masses, "mass").head()
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream theil monitor == batch theilIndex across count folds") {
    import graft.operators.Stats
    val masses = events.select((abs(col("value")) * 100).cast("long")
      .as("mass"))
    val streamed = StreamGate.replayTheilMonitor(
      masses.repartition(8), "mass", filesPerTrigger = 1).head()
    val batch = Stats.theilIndex(masses, "mass").head()
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream per-group association == batch categoricalAssociationByGroup") {
    import graft.operators.Profile
    val rows = events.select(
      (col("event_id") % 2).cast("string").as("half"),
      col("event_type"),
      (col("user_id") % 5).cast("string").as("bucket"))
    val streamed = StreamGate.replayGroupAssociationMonitor(
        rows.repartition(8), "half", "event_type", "bucket",
        filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = Profile.categoricalAssociationByGroup(
        rows, "half", "event_type", "bucket")
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream per-group hhi and theil monitors == batch across folds") {
    import graft.operators.Stats
    val masses = events.select(col("event_type"),
      (abs(col("value")) * 100).cast("long").as("mass"))
    val sh = StreamGate.replayGroupHhiMonitor(
        masses.repartition(8), "event_type", "mass", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    assert(sh.toSeq == Stats.hhiIndexByGroup(masses, "event_type", "mass")
      .collect().map(_.toSeq).toSeq)
    val st = StreamGate.replayGroupTheilMonitor(
        masses.repartition(8), "event_type", "mass", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    assert(st.toSeq == Stats.theilIndexByGroup(masses, "event_type", "mass")
      .collect().map(_.toSeq).toSeq)
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream agreement monitors == batch kappa/alpha across cell folds") {
    import graft.operators.Annotate
    // a complete 5-rater panel derived from events: one rating per
    // (item, rater) by construction
    val ratings = events.select(
      (col("event_id") % 200L).as("item"),
      concat(lit("r"), (col("event_id") / 200L).cast("int").cast("string"))
        .as("rater"),
      col("event_type").as("label"))
    val sf = StreamGate.replayFleissMonitor(
      ratings.repartition(8), "item", "rater", "label",
      filesPerTrigger = 1).head()
    val bf = Annotate.fleissKappa(ratings, "item", "rater", "label").head()
    assert(sf.toSeq == bf.toSeq, s"stream ${sf.toSeq} != batch ${bf.toSeq}")
    // varying participation for alpha
    val partial = ratings.filter(col("item") % 7L =!= 0L ||
      col("rater") < "r3")
    val sa = StreamGate.replayAlphaMonitor(
      partial.repartition(8), "item", "rater", "label",
      filesPerTrigger = 1).head()
    val ba = Annotate.krippendorffAlpha(
      partial, "item", "rater", "label").head()
    assert(sa.toSeq == ba.toSeq, s"stream ${sa.toSeq} != batch ${ba.toSeq}")
    // and the incremental fold is the same ground truth
    def cells(pred: org.apache.spark.sql.Column) =
      Annotate.annotationCellsOf(ratings.filter(pred),
        "item", "rater", "label", "spec")
    val folded = Annotate.fleissKappaFromCells(
      Annotate.foldAnnotationCells(
          cells(col("rater") < "r2"), cells(col("rater") >= "r2"))
        .localCheckpoint()).head()
    assert(folded.toSeq == bf.toSeq)
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream BT leaderboard == batch bradleyTerry across win-count folds") {
    import graft.operators.Preference
    val ev = events.select(col("event_id"), col("event_type"), col("value"))
    val comps = ev.as("a").join(ev.as("b"),
        col("b.event_id") === col("a.event_id") + 1L)
      .filter(col("a.event_id") % 2 === 0 &&
        col("a.value").isNotNull && col("b.value").isNotNull &&
        col("a.event_type") =!= col("b.event_type") &&
        col("a.value") =!= col("b.value"))
      .select(
        when(col("a.value") > col("b.value"), col("a.event_type"))
          .otherwise(col("b.event_type")).as("w"),
        when(col("a.value") > col("b.value"), col("b.event_type"))
          .otherwise(col("a.event_type")).as("l"))
    val streamed = StreamGate.replayLeaderboardMonitor(
        comps.repartition(8), "w", "l", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = Preference.bradleyTerry(comps, "w", "l")
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
    val foldedCounts = Preference.foldWinCounts(
        Preference.winCountsOf(
          comps.filter(col("w") < col("l")), "w", "l", "spec"),
        Preference.winCountsOf(
          comps.filter(col("w") >= col("l")), "w", "l", "spec"))
      .localCheckpoint()
    val folded = Preference.bradleyTerryFromCounts(foldedCounts)
      .collect().map(_.toSeq)
    assert(folded.toSeq == batch.toSeq)
    // the SAME folded state serves the win matrix, and its streamed
    // twin matches too
    val matrixBatch = Preference.pairwiseWinMatrix(comps, "w", "l")
      .collect().map(_.toSeq)
    assert(Preference.pairwiseWinMatrixFromCounts(foldedCounts)
      .collect().map(_.toSeq).toSeq == matrixBatch.toSeq)
    val matrixStream = StreamGate.replayWinMatrixMonitor(
        comps.repartition(8), "w", "l", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    assert(matrixStream.toSeq == matrixBatch.toSeq)
  }

  test("stream calibration monitor == batch brierEce across state folds") {
    import graft.operators.Eval
    val scored = events.select(
      (pmod(col("event_id"), lit(997L)).cast("double") / 997.0).as("s"),
      (col("value") > 0).as("label"))
    val streamed = StreamGate.replayCalibrationMonitor(
      scored.repartition(8), "label", "s", filesPerTrigger = 1).head()
    val batch = Eval.brierEce(scored, "label", "s").head()
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    val folded = Eval.brierEceFromState(
      Eval.foldCalibState(
          Eval.calibStateOf(scored.filter(col("s") < 0.5), "label", "s"),
          Eval.calibStateOf(scored.filter(col("s") >= 0.5), "label", "s"))
        .localCheckpoint()).head()
    assert(folded.toSeq == batch.toSeq)
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream consensus and per-group calibration == their batch twins") {
    import graft.operators.{Annotate, Eval}
    val ratings = events.select(
      (col("event_id") % 200L).as("item"),
      concat(lit("r"), (col("event_id") / 200L).cast("int").cast("string"))
        .as("rater"),
      col("event_type").as("label"))
    val sc = StreamGate.replayConsensusMonitor(
        ratings.repartition(8), "item", "rater", "label",
        filesPerTrigger = 1)
      .orderBy("item").collect().map(_.toSeq)
    val bc = Annotate.consolidateLabels(ratings, "item", "rater", "label")
      .orderBy("item").collect().map(_.toSeq)
    assert(sc.toSeq == bc.toSeq)
    val scored = events.select(col("event_type").as("g"),
      (pmod(col("event_id"), lit(997L)).cast("double") / 997.0).as("s"),
      (col("value") > 0).as("label"))
    val sg = StreamGate.replayGroupCalibrationMonitor(
        scored.repartition(8), "g", "label", "s", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val bg = Eval.brierEceByGroup(scored, "g", "label", "s")
      .collect().map(_.toSeq)
    assert(sg.toSeq == bg.toSeq)
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream per-group vocab monitor == batch vocabRichnessByGroup") {
    import graft.operators.Corpus
    val docs = events.select(col("event_type").as("g"),
      concat_ws(" ", col("event_type"),
        (col("user_id") % 50).cast("string"),
        (col("event_id") % 997).cast("string")).as("text"))
    val streamed = StreamGate.replayGroupVocabMonitor(
        docs.repartition(8), "g", "text", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = Corpus.vocabRichnessByGroup(docs, "g", "text")
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream per-group gini monitor == batch giniIndexByGroup across folds") {
    import graft.operators.Stats
    val masses = events.select(col("event_type"),
      (abs(col("value")) * 100).cast("long").as("mass"), col("event_id"))
    val streamed = StreamGate.replayGroupGiniMonitor(
        masses.select("event_type", "mass").repartition(8),
        "event_type", "mass", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = Stats.giniIndexByGroup(masses, "event_type", "mass", "event_id")
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream association == batch categoricalAssociation across count folds") {
    import graft.operators.Profile
    val rows = events.select(col("event_type"),
      (col("user_id") % 3).cast("string").as("b"))
    val streamed = StreamGate.replayAssociationMonitor(
      rows.repartition(8), "event_type", "b", filesPerTrigger = 1).head()
    val batch = Profile.categoricalAssociation(rows, "event_type", "b").head()
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream bootstrap CI == batch bootstrapMeanCI across partial folds") {
    val streamed = StreamGate.replayBootstrapMonitor(
      events.repartition(8), "value", "event_id",
      nBoot = 40, alpha = 0.1, salt = "sb", filesPerTrigger = 1).head()
    val batch = graft.operators.Stats.bootstrapMeanCI(
      events, "value", "event_id",
      nBoot = 40, alpha = 0.1, salt = "sb").head()
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream per-group bootstrap CI == batch bootstrapMeanCIByGroup across partial folds") {
    import graft.operators.Stats
    val streamed = StreamGate.replayGroupBootstrapMonitor(
        events.select(col("event_type"), col("value"), col("event_id"))
          .repartition(8),
        "event_type", "value", "event_id",
        nBoot = 40, alpha = 0.1, salt = "gsb", filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = Stats.bootstrapMeanCIByGroup(events, "event_type", "value",
        "event_id", nBoot = 40, alpha = 0.1, salt = "gsb")
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
    // and the incremental folds (grouped AND ungrouped) are the same
    // ground truth
    val gb = Stats.groupBootPartialsOf(
      events.filter(col("event_id") % 2 === 0), "event_type", "value",
      "event_id", 40, "gsb")
    val gd = Stats.groupBootPartialsOf(
      events.filter(col("event_id") % 2 === 1), "event_type", "value",
      "event_id", 40, "gsb")
    val gFolded = Stats.groupCiFromBootPartials(
        Stats.foldBootPartials(gb, gd).localCheckpoint(),
        "event_type", 0.1)
      .collect().map(_.toSeq)
    assert(gFolded.toSeq == batch.toSeq)
    val ub = Stats.bootPartialsOf(
      events.filter(col("event_id") % 2 === 0), "value", "event_id", 40, "usb")
    val ud = Stats.bootPartialsOf(
      events.filter(col("event_id") % 2 === 1), "value", "event_id", 40, "usb")
    val uFolded = Stats.ciFromBootPartials(
      Stats.foldBootPartials(ub, ud).localCheckpoint(), 0.1).head().toSeq
    val uBatch = Stats.bootstrapMeanCI(events, "value", "event_id",
      nBoot = 40, alpha = 0.1, salt = "usb").head().toSeq
    assert(uFolded == uBatch, s"fold $uFolded != batch $uBatch")
  }

  test("stream sequential AB monitor: final look == batch; null never crosses; effect does") {
    import graft.operators.Experiment
    // null stream: both arms identical pass rates, repartitioned so
    // the monitor genuinely looks several times
    def armRows(arm: String, pass: Int, fail: Int) =
      Seq.fill(pass)(row(arm, true)) ++ Seq.fill(fail)(row(arm, false))
    val nullDf = table("arm string, f boolean",
      armRows("control", 80, 120) ++ armRows("treat", 80, 120))
      .repartition(8)
    val mon = StreamGate.replaySequentialAbMonitor(
        nullDf, "arm", "f", "control", filesPerTrigger = 1)
      .collect().map(r => r.getString(0) -> r).toMap
    val batch = Experiment.sequentialAbReport(nullDf, "arm", "f", "control")
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("control", "treat").foreach { a =>
      // final-look columns equal the batch readout (counts fold)
      assert(mon(a).toSeq.take(6) == batch(a).toSeq.take(6), a)
    }
    assert(mon("treat").getLong(8) > 1L, "monitor must look more than once")
    // never crosses under the null: every look's p stayed above alpha
    assert(mon("treat").getDouble(6) > 0.05,
      s"null stream crossed: min p ${mon("treat").getDouble(6)}")
    assert(!mon("treat").getBoolean(7))
    // the min over looks is a genuine min: <= the final look's p
    assert(mon("treat").getDouble(6) <= mon("treat").getDouble(4))
    // a strong planted effect crosses mid-stream and stays crossed
    val effDf = table("arm string, f boolean",
      armRows("control", 40, 360) ++ armRows("treat", 360, 40))
      .repartition(8)
    val eff = StreamGate.replaySequentialAbMonitor(
        effDf, "arm", "f", "control", filesPerTrigger = 1)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(eff("treat").getDouble(6) <= 0.05 && eff("treat").getBoolean(7),
      s"planted effect must cross: ${eff("treat").toSeq}")
  }

  test("stream sketch-quantile monitor == batch sketch across min-k folds") {
    import graft.operators.Profile
    val streamed = StreamGate.replaySketchQuantileMonitor(
        events.repartition(8), "value", "event_id",
        ps = Seq(0.25, 0.5, 0.9), k = 128, filesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = Profile.sketchQuantiles(events, "value", "event_id",
        ps = Seq(0.25, 0.5, 0.9), k = 128)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
  }

  test("stream SCD-2 enrichment == batch scdJoin across micro-batches") {
    import graft.operators.AsOfJoin
    // two-version dimension over user ids; facts = the events feed
    val users = events.select(col("user_id").as("key")).distinct()
    val dim = users
      .select(col("key"), lit("v1").as("tier"),
        lit("2024-01-01").cast("timestamp").as("valid_from"),
        lit("2024-01-16").cast("timestamp").as("valid_to"))
      .unionByName(users.select(col("key"), lit("v2").as("tier"),
        lit("2024-01-16").cast("timestamp").as("valid_from"),
        lit("9999-01-01").cast("timestamp").as("valid_to")))
    val facts = events.select("event_id", "user_id", "ts")
    val streamed = StreamGate.replayScdEnrichment(facts.repartition(8),
        "user_id", "ts", dim, "key", "valid_from", "valid_to",
        filesPerTrigger = 1)
      .select("event_id", "tier").collect().map(_.toSeq).toSet
    val batch = AsOfJoin.scdJoin(facts, "user_id", "ts",
        dim, "key", "valid_from", "valid_to")
      .select("event_id", "tier").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.map(_(1)).contains("v2"))
    assert(graft.streaming.StreamGate.lastReplayObservability
      .exists(_.microBatches > 1))
  }

  test("stream windowed counts == batch windowed rollup (watermark-flushed)") {
    val streamed = StreamGate.replayWindowedCounts(events,
        "5 minutes", "5 minutes", "10 minutes", horizonUs = 3600L * 1000000)
      .select(unix_micros(col("window.start")).as("w_us"),
        col("event_type"), col("n"), col("value_sum"))
      .collect().map(_.toSeq).toSet
    val batch = events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .select(unix_micros(col("window.start")).as("w_us"),
        col("event_type"), col("n"), col("value_sum"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("replay gates keep at most one checkpointed result generation live") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StreamGate.replayDedup(events, Seq("user_id"), "1 hour").count()
    StreamGate.replayDedup(events, Seq("event_type"), "1 hour").count()
    // one fold monitor and one foreachBatch gate ride the same contract
    StreamGate.replayQuantileMonitor(events.repartition(4), "value",
      Seq(0.5), filesPerTrigger = 1).count()
    StreamGate.replayFingerprintMonitor(events.repartition(4),
      Seq("event_id", "event_type"), filesPerTrigger = 1).count()
    val out = StreamGate.replayDedup(events, Seq("user_id", "event_type"), "1 hour")
    assert(out.count() > 0)
    // each replay releases the previous one's checkpoint, so three
    // replays leave exactly the LAST result's blocks, not three sets
    val live = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(live.size <= 1,
      s"replays accumulated ${live.size} checkpointed result generations")
  }

  test("negative path: a superseded replay result fails LOUDLY, never silently") {
    // One-generation contract (StreamGate object doc): replay N's frame
    // is valid only until replay N+1 runs. Supersession unpersists the
    // frame's checkpoint blocks synchronously, and its lineage is
    // truncated (localCheckpoint) with the sink files already deleted —
    // so a stale frame must THROW on its next action, not recompute and
    // not return partial data. A caller holding two replay results at
    // once is a bug this pins as a loud, immediate failure.
    val stale = StreamGate.replayDedup(events, Seq("user_id"), "1 hour")
    assert(stale.count() > 0) // valid while current
    StreamGate.replayDedup(events, Seq("event_type"), "1 hour").count()
    val thrown = intercept[Exception] { stale.count() }
    val msg = Option(thrown.getMessage).getOrElse("") + thrown.getClass.getName
    assert(msg.toLowerCase.contains("block") || msg.toLowerCase.contains("checkpoint"),
      s"expected a block/checkpoint-loss failure, got: $thrown")
  }

  private def replayDirs(): Set[String] = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val s = java.nio.file.Files.list(tmp)
    try {
      val b = Set.newBuilder[String]
      s.forEach(p => b += p.getFileName.toString)
      b.result().filter(_.startsWith("graft_"))
    } finally s.close()
  }

  test("replay gates leave no temp dirs behind and the result outlives them") {
    val before = replayDirs()
    // result must be readable AFTER the sink files are gone — for the
    // stream's own sink, a fold monitor, and a foreachBatch append
    val out = StreamGate.replayDedup(events, Seq("user_id"), "1 hour")
    assert(out.count() > 0)
    val fold = StreamGate.replayQuantileMonitor(events.repartition(4),
      "value", Seq(0.5), filesPerTrigger = 1)
    assert(fold.count() == 1)
    val append = StreamGate.replayFingerprintMonitor(events.repartition(4),
      Seq("event_id", "event_type"), filesPerTrigger = 1)
    assert(append.head().getLong(0) == events.count())
    val leaked = replayDirs() -- before
    assert(leaked.isEmpty, s"replay left temp dirs behind: $leaked")
  }

  private def guardTrips: Seq[(String, () => Unit)] = {
    import graft.operators.Ivf
    def vec(ang: Double) = Seq(math.cos(ang).toFloat, math.sin(ang).toFloat)
    val train = table("vec_id bigint, v array<float>",
      (0L until 8L).map(i => row(i, vec(i * math.Pi / 4))))
    val model = Ivf.train(train, "vec_id", "v", k = 2, iters = 3, sampleMod = 1)
    // the same 4-gram at two benchmark positions vs a budget of one
    val bench = table("id bigint, text string", Seq(
      row(100L, "alpha beta gamma delta epsilon"),
      row(101L, "alpha beta gamma delta zeta")))
    val docs = table("id bigint, text string",
      Seq(row(1L, "x alpha beta gamma delta y")))
    Seq(
      "semantic gate maxCell" -> (() => StreamGate.replaySemanticGate(train,
        train, "vec_id", "v", model, threshold = 0.999, maxCell = 1)),
      "exact-substring maxPositionsPerGram" -> (() =>
        StreamGate.replayExactSubstringGate(docs, "id", "text", bench, "id",
          "text", minTokens = 4, maxPositionsPerGram = 1)))
  }

  test("a gate whose up-front guard fires leaks no temp dirs and no blocks") {
    guardTrips.foreach { case (label, trip) =>
      val dirsBefore = replayDirs()
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Exception](trip())
      assert(e.toString.contains("exceed"), s"$label: $e")
      val leakedDirs = replayDirs() -- dirsBefore
      assert(leakedDirs.isEmpty, s"$label left temp dirs: $leakedDirs")
      val leakedRdds = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(leakedRdds.isEmpty, s"$label left persisted RDDs: $leakedRdds")
    }
  }

  test("a failing replay clears the previous replay's observability") {
    StreamGate.replayDedup(events, Seq("user_id"), "1 hour").count()
    assert(StreamGate.lastReplayObservability.exists(_.microBatches >= 1))
    intercept[Exception](guardTrips.head._2())
    assert(StreamGate.lastReplayObservability.isEmpty,
      StreamGate.lastReplayObservability.toString)
  }

  test("a replay leaves spark.sql.shuffle.partitions as it found it") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // 7, not the suite's 4: a KB-scale replay scopes itself to 4, so
    // only a different session value shows a missed restore
    spark.conf.set(key, "7")
    try {
      assert(StreamGate.replayDedup(events, Seq("user_id"), "1 hour")
        .count() > 0)
      assert(spark.conf.get(key) == "7", "after a successful replay")
      guardTrips.foreach { case (label, trip) =>
        intercept[Exception](trip())
        assert(spark.conf.get(key) == "7", s"after a failed $label replay")
      }
    } finally spark.conf.set(key, prev)
  }

  test("replayPartitions: empty, unreadable, and multi-GB sources") {
    val empty = java.nio.file.Files.createTempDirectory("graft-rp-empty")
    val big = java.nio.file.Files.createTempDirectory("graft-rp-big")
    try {
      assert(StreamGate.replayPartitions(8, empty.toString) == 4)
      assert(StreamGate.replayPartitions(2, empty.toString) == 2)
      assert(StreamGate.replayPartitions(8, s"$empty/missing") == 8)
      assert(StreamGate.replayPartitions(0, s"$empty/missing") == 1)
      // a sparse 5 GB file: 161 target partitions, clamped to the session
      val f = new java.io.RandomAccessFile(big.resolve("part.parquet").toFile, "rw")
      try f.setLength(5L << 30) finally f.close()
      assert(StreamGate.replayPartitions(8, big.toString) == 8)
      assert(StreamGate.replayPartitions(200, big.toString) == 161)
    } finally Seq(empty, big).foreach(d =>
      StreamGate.deleteRecursively(d.toString))
  }

  test("empty sources: empty frames, zero summaries, and a named no-batch error") {
    // an empty frame still writes one schema-only source file, which
    // fires one empty micro-batch: a per-row gate returns an empty frame
    // with its schema, a summary monitor its zero row
    val media = table("media_id bigint, payload binary", Seq.empty)
    val shots = StreamGate.replayShotBoundaries(media)
    assert(shots.count() == 0)
    assert(shots.columns.toSeq ==
      Seq("media_id", "n_frames", "n_boundaries", "boundary_frames"))
    val docs = table("id bigint, t string", Seq.empty)
    val pii = StreamGate.replayPiiMonitor(docs, "id", "t").head()
    assert(pii.toSeq.forall(_ == 0L), pii.toString)
    // a file-less source fires no micro-batch at all: an inferred-schema
    // append names the gate instead of failing schema inference
    val fileless = StreamGate.Source(spark, _ => (),
      src => spark.readStream.schema(docs.schema).parquet(src))
    val e = intercept[IllegalArgumentException](
      StreamGate.replay("probeGate", fileless)(_ =>
        StreamGate.AppendSink(identity, None)))
    assert(e.getMessage.contains("probeGate saw no micro-batches"), e.getMessage)
  }

  test("stream dedup == batch distinct on the key columns") {
    val streamed = StreamGate.replayDedup(events,
        Seq("user_id", "event_type"), "10 minutes")
      .select("user_id", "event_type")
      .collect().map(_.toSeq).toSet
    val batch = events.select("user_id", "event_type").distinct()
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream funnel == batch funnel (completions early, partials sentinel-flushed)") {
    import graft.operators.Events
    val steps = Seq("view", "click", "purchase")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4))).toSet
    val streamed = rows(StreamGate.replayFunnel(events, steps)
      .select("user_id", "steps_reached", "t1_us", "tk_us", "delay_us"))
    val batch = rows(Events.funnel(events, "user_id", "ts", "event_type", steps)
      .select("user_id", "steps_reached", "t1_us", "tk_us", "delay_us"))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // crafted frame: exercise BOTH emission paths (early completion +
    // sentinel-flushed partial) and the never-started exclusion —
    // sf0.001's real users all complete, so the real table can't
    val crafted = table(
      "event_id bigint, t_us bigint, user_id bigint, event_type string, value double",
      Seq(row(1L, 10L, 1L, "view", 0.0), row(2L, 20L, 1L, "click", 0.0),
        row(3L, 30L, 1L, "purchase", 0.0),
        row(4L, 10L, 2L, "view", 0.0), row(5L, 20L, 2L, "click", 0.0),
        row(6L, 10L, 3L, "click", 0.0)))
      .select(col("event_id"), timestamp_micros(col("t_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val craftedOut = rows(StreamGate.replayFunnel(crafted, steps)
      .select("user_id", "steps_reached", "t1_us", "tk_us", "delay_us"))
    assert(craftedOut == Set((1L, 3, 10L, 30L, 20L), (2L, 2, 10L, null, null)))
  }

  test("topUsersPerWindowStream: chained aggs, heap cutoff, count-desc-id-asc ties") {
    // window [0, 300s): u1 x3 > {u2, u3} x2 (tie -> id asc) ; u4 x1
    // falls off the k=3 heap. window [300s, 600s): u5 alone.
    val us = 1000000L
    val ev = table("event_id bigint, t_us bigint, user_id bigint, event_type string, value double",
      Seq(
        row(1L, 10L * us, 1L, "a", 0.0), row(2L, 20L * us, 1L, "a", 0.0),
        row(3L, 30L * us, 1L, "a", 0.0),
        row(4L, 40L * us, 2L, "a", 0.0), row(5L, 50L * us, 2L, "a", 0.0),
        row(6L, 60L * us, 3L, "a", 0.0), row(7L, 70L * us, 3L, "a", 0.0),
        row(8L, 80L * us, 4L, "a", 0.0),
        row(9L, 310L * us, 5L, "a", 0.0)))
      .select(col("event_id"), timestamp_micros(col("t_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val got = StreamGate.replayTopUsersPerWindow(ev, k = 3,
        "5 minutes", "10 minutes", horizonUs = 3600L * us)
      .select(unix_micros(col("window.start")).as("ws"),
        col("rank"), col("user_id"), col("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      (0L, 1, 1L, 3L), (0L, 2, 2L, 2L), (0L, 3, 3L, 2L),
      (300L * us, 1, 5L, 1L)), got.toString)
  }

  test("stream left-outer interval join == batch left join incl. unmatched flush") {
    val h = 3600L * 1000000
    // base offset keeps event times off the epoch: ts=0 equals the
    // stream's INITIAL watermark and would be dropped as late data —
    // a test artifact, not a semantics case
    val b0 = 100L * h
    def ev(id: Long, tUs: Long, u: Long, ty: String) = (id, b0 + tUs, u, ty, 1.0)
    val rows = Seq(
      ev(1L, 0L, 1L, "view"), ev(2L, h / 2, 1L, "purchase"),   // matched
      ev(3L, h, 1L, "view"),                                   // unmatched
      ev(4L, 10L * h, 2L, "view"),                             // late unmatched
      ev(5L, 10L * h + 1L, 2L, "purchase"),                    // matches 4
      ev(6L, 10L * h + h / 4, 2L, "view"),                     // newest, unmatched
      ev(7L, 2L * h, 3L, "view"))                              // unmatched
    val events = table(
      "event_id bigint, t_us bigint, user_id bigint, event_type string, value double",
      rows.map { case (a, b, c, d, e) => row(a, b, c, d, e) })
      .select(col("event_id"), timestamp_micros(col("t_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val got = StreamGate.replayLeftOuterIntervalJoin(events,
        "view", "purchase", maxGap = "1 hour", watermark = "2 hours",
        horizonUs = 4L * h)
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sorted
    assert(got == Seq((1L, 2L), (3L, -1L), (4L, 5L), (6L, -1L), (7L, -1L)),
      got.toString)
  }

  test("stream incremental rollup == batch summarize across micro-batch folds") {
    import graft.operators.Maintain
    val spec = Maintain.SummarySpec(
      sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
    val rnd = new scala.util.Random(31)
    val facts = table("k string, v decimal(18,2)",
      (0 until 400).map { _ =>
        row(s"k${rnd.nextInt(9)}",
          new java.math.BigDecimal(rnd.nextInt(20001) - 10000)
            .movePointLeft(2))
      })
    // filesPerTrigger=1 over the 8-file source -> 8 genuine folds, each
    // reading state version N and writing N+1
    val got = StreamGate.replayIncrementalRollup(facts, Seq("k"), spec,
        filesPerTrigger = 1)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getDecimal(3).toPlainString, r.getDecimal(4).toPlainString)).toSeq
    val exp = Maintain.summarize(facts, Seq("k"), spec)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString,
        r.getDecimal(3).toPlainString, r.getDecimal(4).toPlainString)).toSeq
    assert(got.map(t => (t._1, t._2)) == exp.map(t => (t._1, t._2)))
    // decimal VALUES identical even though fold-count widens precision
    got.zip(exp).foreach { case (g, e) =>
      assert(new java.math.BigDecimal(g._3).compareTo(
        new java.math.BigDecimal(e._3)) == 0, s"${g._1}: ${g._3} vs ${e._3}")
      assert(g._4 == e._4 && g._5 == e._5, s"${g._1}")
    }
  }

  test("stream Kaplan-Meier == batch curve across micro-batch cell folds") {
    import graft.operators.Events
    val rnd = new scala.util.Random(47)
    val subjects = table("dur double, obs boolean",
      (0 until 300).map { _ =>
        row(rnd.nextInt(25).toDouble, rnd.nextBoolean())
      })
    val got = StreamGate.replayKaplanMeierMonitor(
      subjects, "dur", "obs", filesPerTrigger = 1)
    assertDfEquality(got, Events.kaplanMeier(subjects, "dur", "obs"))
    // incremental fold over an arbitrary (non-id-ordered) split too
    val inc = Events.kaplanMeierFromCells(Events.foldSurvivalCells(
      Events.survivalCellsOf(subjects.filter(col("dur") < 12.0),
        "dur", "obs"),
      Events.survivalCellsOf(subjects.filter(col("dur") >= 12.0),
        "dur", "obs")))
    assertDfEquality(inc, Events.kaplanMeier(subjects, "dur", "obs"))
  }

  test("stream drift PSI == batch drift across micro-batch histogram folds") {
    import graft.operators.Profile
    val ev = events
    val midUs = ev.agg(
      (((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / 2)
        .cast("long")).as("m")).head().getLong(0)
    val ref = ev.filter(unix_micros(col("ts")) <= midUs)
    val cur = ev.filter(unix_micros(col("ts")) > midUs)
    val b = ref.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      .head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    // filesPerTrigger=1 over the coalesce(8) source -> up to 8 genuine
    // folds, each reading histogram state version N and writing N+1;
    // per-bucket counts merge by SUM, so the accumulated histogram —
    // and therefore every psi contribution, computed by the SHARED
    // Profile.psiFromCounts arithmetic over identical longs — must be
    // bit-identical to the batch formulation
    val streamed = StreamGate.replayStreamingDrift(ref, cur, "value",
        bins = 12, lo = lo, hi = hi, filesPerTrigger = 1)
      .collect().map(_.toSeq).toSet
    val batch = Profile.drift(ref, cur, "value", 12, lo, hi)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.size == 12, "PSI frame must carry the full bucket grid")
  }

  test("stream categorical drift == batch categoricalDrift across frequency folds") {
    import graft.operators.Profile
    val ev = events
    val midUs = ev.agg(
      (((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / 2)
        .cast("long")).as("m")).head().getLong(0)
    val ref = ev.filter(unix_micros(col("ts")) <= midUs)
    val cur = ev.filter(unix_micros(col("ts")) > midUs)
    // filesPerTrigger=1 over the coalesce(8) source -> multiple genuine
    // state folds; category counts merge by SUM, so the accumulated
    // frequency table — and every psi through the shared
    // categoricalDriftFromCounts arithmetic — must be bit-identical
    val streamed = StreamGate.replayCategoricalDrift(ref, cur, "event_type",
        filesPerTrigger = 1)
      .collect().map(_.toSeq).toSet
    val batch = Profile.categoricalDrift(ref, cur, "event_type")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.size == 5, "all five event types must appear")
  }

  test("stream semantic gate == batch semanticDecontaminate across micro-batches") {
    import graft.operators.{Ivf, Similarity}
    // 8 train directions on the unit circle (spacing ~0.785 rad); eval
    // = 8 near-copies (offset 0.001 rad, cosine ~0.9999995 -> flagged)
    // + 8 far rotations (offset 0.3 rad, cosine ~0.955 -> clean)
    def vec(ang: Double) = Seq(math.cos(ang).toFloat, math.sin(ang).toFloat)
    val train = table("vec_id bigint, v array<float>",
      (0L until 8L).map(i => row(i, vec(i * math.Pi / 4))))
    val eval = table("vec_id bigint, v array<float>",
      (0L until 8L).map(i => row(100L + i, vec(i * math.Pi / 4 + 0.001))) ++
        (0L until 8L).map(i => row(200L + i, vec(i * math.Pi / 4 + 0.3))))
    val model = Ivf.train(train, "vec_id", "v", k = 2, iters = 3, sampleMod = 1)
    // nprobe = k: cell restriction is provably exhaustive, so the ONLY
    // claim under test is stream fold == batch, per-row independence
    val streamedDf = StreamGate.replaySemanticGate(eval, train, "vec_id", "v",
      model, threshold = 0.999, nprobe = 2, filesPerTrigger = 1)
    val streamedCols = streamedDf.columns.toSeq
    val streamed = streamedDf.collect().map(_.toSeq).toSet
    val batch = Similarity.semanticDecontaminate(eval, train, "vec_id", "v",
        model, threshold = 0.999, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.count(_(1) == true) == 8 && streamed.count(_(1) == false) == 8)
    // an empty eval frame must come back as an empty result with the
    // gate's schema — never an obscure schema-inference crash on the
    // output read (the schema-only parquet file the source write
    // leaves behind still fires one empty micro-batch; the
    // saw-no-micro-batches guard inside the gate covers a genuinely
    // file-less source)
    val empty = StreamGate.replaySemanticGate(eval.filter(lit(false)),
      train, "vec_id", "v", model, threshold = 0.999, nprobe = 2)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == streamedCols, empty.columns.mkString(","))
  }

  test("sessionize idleTimeout closes open sessions exactly once and drops the key") {
    val s = spark
    import s.implicits._
    // u1: one open session (2 in-gap events) — only the timeout can
    // close it. u2: an out-of-gap event closes session 1 the normal
    // way AND opens session 2, which again only the timeout closes.
    val ev = table(
      "event_id bigint, t_us bigint, user_id bigint, event_type string, value double",
      Seq(row(1L, 1000000L, 1L, "a", 1.0), row(2L, 2000000L, 1L, "b", 2.0),
        row(3L, 1000000L, 2L, "a", 5.0),
        row(4L, 10L * gapUs, 2L, "b", 7.0)))
      .select(col("event_id"), timestamp_micros(col("t_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-idle").toString
    ev.coalesce(1).write.mode("append").parquet(dir)
    val schema = implicitly[org.apache.spark.sql.Encoder[EventStream.Event]].schema
    val stream = s.readStream.schema(schema).parquet(dir).as[EventStream.Event]
    // Sub-second timeout + manual stop: ProcessingTimeTimeout keeps an
    // AvailableNow query scheduling empty micro-batches forever (the
    // funnelStream WARNING), so poll the sink and stop it ourselves.
    val q = EventStream.sessionizeStream(stream, gapUs,
        idleTimeout = Some("500 milliseconds")).toDF()
      .writeStream.format("memory").queryName("sess_idle")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val deadline = System.currentTimeMillis() + 60000L
    while (s.table("sess_idle").count() < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100L)
    // Grace gated on PROGRESS, not wall clock: a duplicate/resurrected
    // emission can only arrive with a completed micro-batch, so wait
    // until three more empty-input batches have run after the sink
    // filled (each one an opportunity for wrong state to fire again) —
    // a fixed sleep can be outrun on a starved host where batches
    // themselves stall, making exact-equality asserts flaky.
    val b0 = q.recentProgress.lastOption.map(_.batchId).getOrElse(-1L)
    while (q.recentProgress.count(p => p.batchId > b0 && p.numInputRows == 0) < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100L)
    q.stop()
    q.awaitTermination(30000L)
    val got = s.table("sess_idle").collect().map { r =>
      (r.getLong(0), unixMicros(r.getTimestamp(1)), unixMicros(r.getTimestamp(2)),
        r.getLong(3), r.getDouble(4))
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(got == Seq(
      (1L, 1000000L, 2000000L, 2L, 3.0),       // timeout-closed
      (2L, 1000000L, 1000000L, 1L, 5.0),       // event-closed (gap crossed)
      (2L, 10L * gapUs, 10L * gapUs, 1L, 7.0)), // timeout-closed re-open
      got.toString)
  }

  private def unixMicros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}
