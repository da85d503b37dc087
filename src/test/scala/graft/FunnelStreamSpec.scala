package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.testkit.SparkTestKit._

/** The funnelStream emission contract (EventStream scaladoc), pinned:
  * flushType is TERMINAL per key (partial emitted once, state cleared,
  * later steps start a NEW attempt), completions emit exactly once,
  * NULL timestamps/types are ignored, and flushed keys leave no state
  * behind across micro-batch boundaries. q102 checks the replay against
  * the batch oracle; this spec checks the semantics the oracle can't
  * see — post-flush behavior and the state lifetime. */
class FunnelStreamSpec extends AnyFunSuite {

  private val steps = Seq("view", "click")

  /** Replay `rows` (event_id, ts_us, user_id, event_type) through
    * funnelStream. Events with ts_us <= splitUs go into the first
    * source file, the rest into a second; with maxFilesPerTrigger=1
    * that makes a genuine two-micro-batch stream (state crosses the
    * store handoff). */
  private def replay(
      rows: Seq[(Long, java.lang.Long, Long, String)],
      name: String,
      splitUs: Long = Long.MaxValue,
      idleTimeout: Option[String] = None,
      minRows: Int = 0): Seq[(Long, Int, Long, Option[Long], Option[Long])] = {
    val s = spark
    import s.implicits._
    val ev: DataFrame = table("event_id bigint, ts_us bigint, user_id bigint, event_type string",
        rows.map(r => row(r._1, r._2, r._3, r._4)))
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), lit(0.0).as("value"))
    val dir = tempDir(s"graft-funnel-$name")
    ev.filter(col("ts").isNull || unix_micros(col("ts")) <= splitUs)
      .coalesce(1).write.mode("append").parquet(dir)
    val later = ev.filter(unix_micros(col("ts")) > splitUs)
    if (later.count() > 0) later.coalesce(1).write.mode("append").parquet(dir)
    val schema = implicitly[org.apache.spark.sql.Encoder[EventStream.Event]].schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStream.Event]
    val q = EventStream.funnelStream(stream, steps, idleTimeout = idleTimeout).toDF()
      .writeStream.format("memory").queryName(s"funnel_$name")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    if (idleTimeout.isEmpty) {
      // Bounded wait: surface a hang as a test FAILURE, never an
      // sbt-test stall (this suite once parked for ~1 h here).
      if (!q.awaitTermination(120000L)) {
        q.stop()
        fail(s"stream $name did not terminate within 120s")
      }
    } else {
      // ProcessingTimeTimeout + AvailableNow NEVER self-terminates:
      // shouldRunAnotherBatch is unconditionally `true` for
      // processing-time timeouts (spark-sql 4.1.2,
      // FlatMapGroupsWithStateExecBase), so the query keeps scheduling
      // empty micro-batches forever — awaitTermination would hang. Poll
      // the sink until the expected rows arrive (the sub-second timeout
      // fires within a few batches), give it 3 more timeout periods to
      // emit anything spurious, then stop the query ourselves.
      val deadline = System.currentTimeMillis() + 60000L
      while (s.table(s"funnel_$name").count() < minRows &&
          System.currentTimeMillis() < deadline) Thread.sleep(100L)
      // Grace gated on PROGRESS, not wall clock (see
      // StreamBatchEquivalenceSpec): a spurious late emission can only
      // arrive with a completed micro-batch, so wait for three more
      // empty-input batches after the sink filled instead of a fixed
      // sleep a starved host can outrun.
      val b0 = q.recentProgress.lastOption.map(_.batchId).getOrElse(-1L)
      while (q.recentProgress.count(p => p.batchId > b0 && p.numInputRows == 0) < 3 &&
          System.currentTimeMillis() < deadline) Thread.sleep(100L)
      q.stop()
      q.awaitTermination(30000L)
    }
    s.table(s"funnel_$name").collect().toSeq.map { r =>
      (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }.sortBy(t => (t._1, t._3))
  }

  test("flush is terminal: partial emitted once, later steps start a NEW attempt") {
    val got = replay(Seq(
      (1L, 1000000L: java.lang.Long, 1L, "view"),
      (2L, 2000000L: java.lang.Long, 1L, "__sentinel"),
      (3L, 3000000L: java.lang.Long, 1L, "view"),
      (4L, 4000000L: java.lang.Long, 1L, "click")), "terminal")
    // one partial row from the flushed attempt, one completion from the
    // fresh attempt — t1 proves the state was reset (3s, not 1s)
    assert(got == Seq(
      (1L, 1, 1000000L, None, None),
      (1L, 2, 3000000L, Some(4000000L), Some(1000000L))), got.toString)
  }

  test("completion then flush: exactly one row; flush emits nothing extra") {
    val got = replay(Seq(
      (1L, 1000000L: java.lang.Long, 2L, "view"),
      (2L, 2000000L: java.lang.Long, 2L, "click"),
      (3L, 3000000L: java.lang.Long, 2L, "__sentinel")), "completed")
    assert(got == Seq((2L, 2, 1000000L, Some(2000000L), Some(1000000L))), got.toString)
  }

  test("a step-2 event after a flush does not resurrect the flushed attempt") {
    val got = replay(Seq(
      (1L, 1000000L: java.lang.Long, 3L, "view"),
      (2L, 2000000L: java.lang.Long, 3L, "__sentinel"),
      (3L, 3000000L: java.lang.Long, 3L, "click")), "noresurrect")
    // the click belongs to no attempt: the flushed one is closed, and a
    // new one only opens at steps.head
    assert(got == Seq((3L, 1, 1000000L, None, None)), got.toString)
  }

  test("NULL timestamps/types are ignored, not NPEs (funnelSorted's filter, mirrored)") {
    val got = replay(Seq(
      (1L, 1000000L: java.lang.Long, 4L, "view"),
      (2L, null: java.lang.Long, 4L, "click"), // null ts: ignored
      (3L, 2000000L: java.lang.Long, 4L, null), // null type: ignored
      (4L, 3000000L: java.lang.Long, 4L, "click")), "nulls")
    assert(got == Seq((4L, 2, 1000000L, Some(3000000L), Some(2000000L))), got.toString)
  }

  test("flushed keys leave no state across micro-batches; idleTimeout wiring is inert in replay") {
    // batch 1: view + flush; batch 2: a fresh attempt completes. If the
    // flush had left state (stage/emitted) in the store, the second
    // attempt's t1 or emission would differ.
    val rows = Seq(
      (1L, 1000000L: java.lang.Long, 5L, "view"),
      (2L, 2000000L: java.lang.Long, 5L, "__sentinel"),
      (3L, 10000000L: java.lang.Long, 5L, "view"),
      (4L, 11000000L: java.lang.Long, 5L, "click"))
    val expected = Seq(
      (5L, 1, 1000000L, None, None),
      (5L, 2, 10000000L, Some(11000000L), Some(1000000L)))
    assert(replay(rows, "statefree", splitUs = 5000000L) == expected)
    // ProcessingTimeTimeout wiring: same replay, timeout configured.
    // The timeout MUST be sub-second: ProcessingTimeTimeout makes the
    // AvailableNow query keep scheduling empty micro-batches until the
    // registered duration expires, so a long timeout would hold the
    // replay open for its full length (a 1-hour value here once hung
    // sbt test for an hour). The completed key's tombstone times out,
    // hits the hasTimedOut branch with emitted=true, and emits nothing
    // extra — output identical to the no-timeout replay.
    assert(replay(rows, "statefree_to", splitUs = 5000000L,
      idleTimeout = Some("500 milliseconds"), minRows = expected.size) == expected)
  }

  test("idle expiry flushes a mid-funnel partial exactly once and drops the key") {
    // hasTimedOut branch: user 6 reaches stage 1 and then goes idle.
    // The 500 ms processing-time timeout fires (AvailableNow keeps
    // scheduling batches until it does), the partial is emitted via the
    // timeout path, and state.remove() drops the key — so the query
    // terminates instead of idling forever, and exactly one row exists.
    val got = replay(Seq(
      (1L, 1000000L: java.lang.Long, 6L, "view")), "idleflush",
      idleTimeout = Some("500 milliseconds"), minRows = 1)
    assert(got == Seq((6L, 1, 1000000L, None, None)), got.toString)
    // a user who never reached steps.head times out silently: stage 0
    // state is never stored (fresh => remove), so no row and no state
    val none = replay(Seq(
      (1L, 1000000L: java.lang.Long, 7L, "click")), "idlenone",
      idleTimeout = Some("500 milliseconds"))
    assert(none == Seq(), none.toString)
  }
}
