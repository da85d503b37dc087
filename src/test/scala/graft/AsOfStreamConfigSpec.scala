package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.Config
import graft.operators.{AsOfJoin, Sessionize}
import graft.streaming.EventStream
import graft.testkit.SparkTestKit._

class AsOfStreamConfigSpec extends AnyFunSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asof backward: latest right row at-or-before each left row") {
    val trades = table("k string, t timestamp, px double", Seq(
      row("a", ts("2024-01-01 10:00:05"), 100.0),
      row("a", ts("2024-01-01 10:00:10"), 101.0),
      row("b", ts("2024-01-01 10:00:07"), 50.0)))
    val quotes = table("k string, t timestamp, bid double", Seq(
      row("a", ts("2024-01-01 10:00:03"), 99.0),
      row("a", ts("2024-01-01 10:00:07"), 99.5),
      row("a", ts("2024-01-01 10:00:10"), 99.9), // tie: inclusive
      row("b", ts("2024-01-01 10:00:09"), 48.0))) // after b's trade
    val out = AsOfJoin.asofBackward(trades, quotes,
      Seq("k"), "t", "t", Seq("bid"))
      .orderBy("k", "t").collect()
    assert(out.map(r => Option(r.get(r.length - 1))).toSeq ==
      Seq(Some(99.0), Some(99.9), None))
  }

  test("scdJoin: version valid at event time, half-open bounds, gap keeps nulls") {
    val dim = table("key bigint, seg string, f bigint, t bigint", Seq(
      row(1L, "A", 10L, 20L),
      row(1L, "B", 20L, 30L)))
    val facts = table("id bigint, key bigint, ts bigint", Seq(
      row(100L, 1L, 10L),  // A (from inclusive)
      row(101L, 1L, 19L),  // A
      row(102L, 1L, 20L),  // B (to exclusive, from inclusive)
      row(103L, 1L, 29L),  // B
      row(104L, 1L, 30L),  // gap -> null
      row(105L, 1L, 5L),   // before any version -> null
      row(106L, 2L, 15L))) // unknown key -> null, row KEPT
    val got = AsOfJoin.scdJoin(facts, "key", "ts", dim, "key", "f", "t")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(3)).orNull)).toSeq
    assert(got == Seq((100L, "A"), (101L, "A"), (102L, "B"), (103L, "B"),
      (104L, null), (105L, null), (106L, null)), got.toString)
  }

  test("scdJoin: overlapping and empty validity intervals raise loudly") {
    val facts = table("id bigint, key bigint, ts bigint",
      Seq(row(100L, 1L, 15L)))
    val overlap = table("key bigint, seg string, f bigint, t bigint", Seq(
      row(1L, "A", 10L, 25L),
      row(1L, "B", 20L, 30L)))
    val e = intercept[Throwable] {
      AsOfJoin.scdJoin(facts, "key", "ts", overlap, "key", "f", "t").collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("overlapping"), msgs.take(300))
    val empty = table("key bigint, seg string, f bigint, t bigint",
      Seq(row(1L, "A", 20L, 20L)))
    intercept[Throwable] {
      AsOfJoin.scdJoin(facts, "key", "ts", empty, "key", "f", "t").collect()
    }
    // checkNonOverlap=false: caller owns the audit, join proceeds
    val dup = AsOfJoin.scdJoin(facts, "key", "ts", overlap, "key", "f", "t",
        checkNonOverlap = false)
      .collect()
    assert(dup.length == 1 && dup(0).getString(3) == "A")
  }

  test("scdBuild: last-write-wins conflicts, no-op collapse, interval tiling") {
    val changes = table("key bigint, ts bigint, seg string, seq bigint", Seq(
      row(1L, 10L, "A", 1L),
      row(1L, 10L, "B", 2L),  // same-ts conflict: seq 2 wins -> B@10
      row(1L, 15L, "B", 3L),  // no-op re-emission: collapsed
      row(1L, 20L, "C", 4L),  // real change
      row(1L, 25L, "B", 5L),  // back to an EARLIER value: new version
      row(2L, 12L, "X", 6L))) // single-version key -> open-ended
    val got = AsOfJoin.scdBuild(changes, "key", "ts", Seq("seg"),
        endOfTime = lit(99L), tieBreak = Seq("seq"))
      .orderBy("key", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (1L, "B", 10L, 20L),
      (1L, "C", 20L, 25L),
      (1L, "B", 25L, 99L),
      (2L, "X", 12L, 99L)), got.toString)
  }

  test("scdBuild: duplicate (key, ts) without tieBreak raises loudly") {
    val changes = table("key bigint, ts bigint, seg string", Seq(
      row(1L, 10L, "A"),
      row(1L, 10L, "B")))
    val e = intercept[Throwable] {
      AsOfJoin.scdBuild(changes, "key", "ts", Seq("seg"),
        endOfTime = lit(99L)).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("tieBreak"), msgs.take(300))
  }

  test("applyChanges: fold across shards — upsert, delete, reinsert, out-of-order within shard") {
    val s0 = table("key bigint, seg string, ts bigint", Seq.empty)
    val shard1 = table("key bigint, ts bigint, op string, seg string, seq bigint", Seq(
      row(1L, 12L, "upsert", "A2", 2L),
      row(1L, 10L, "upsert", "A1", 1L),  // out-of-order within shard: loses to ts 12
      row(2L, 11L, "upsert", "B1", 3L),
      row(3L, 13L, "upsert", "C1", 4L)))
    val s1 = AsOfJoin.applyChanges(s0, shard1, "key", "ts", "op",
      Seq("seg"), tieBreak = Seq("seq"))
    val got1 = s1.orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got1 == Seq((1L, "A2", 12L), (2L, "B1", 11L), (3L, "C1", 13L)),
      got1.toString)
    val shard2 = table("key bigint, ts bigint, op string, seg string, seq bigint", Seq(
      row(1L, 20L, "delete", null, 5L),   // delete key 1
      row(3L, 21L, "delete", null, 6L),   // delete then reinsert key 3
      row(3L, 22L, "upsert", "C2", 7L),
      row(4L, 23L, "upsert", "D1", 8L)))  // brand-new key
    val s2 = AsOfJoin.applyChanges(s1, shard2, "key", "ts", "op",
      Seq("seg"), tieBreak = Seq("seq"))
    val got2 = s2.orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got2 == Seq((2L, "B1", 11L), (3L, "C2", 22L), (4L, "D1", 23L)),
      got2.toString)
  }

  test("applyChanges: change beats state at equal ts; tied changes and bad ops raise") {
    val state = table("key bigint, seg string, ts bigint",
      Seq(row(1L, "OLD", 10L)))
    val same = table("key bigint, ts bigint, op string, seg string, seq bigint",
      Seq(row(1L, 10L, "upsert", "NEW", 1L)))
    val got = AsOfJoin.applyChanges(state, same, "key", "ts", "op",
        Seq("seg"), tieBreak = Seq("seq")).collect()
    assert(got.length == 1 && got(0).getString(1) == "NEW")
    val tied = table("key bigint, ts bigint, op string, seg string, seq bigint",
      Seq(row(1L, 10L, "upsert", "X", 1L), row(1L, 10L, "upsert", "Y", 1L)))
    val e = intercept[Throwable] {
      AsOfJoin.applyChanges(state, tied, "key", "ts", "op",
        Seq("seg"), tieBreak = Seq("seq")).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("tieBreak"), msgs.take(300))
    val badOp = table("key bigint, ts bigint, op string, seg string, seq bigint",
      Seq(row(1L, 11L, "UPSERT", "X", 1L)))
    val e2 = intercept[Throwable] {
      AsOfJoin.applyChanges(state, badOp, "key", "ts", "op",
        Seq("seg"), tieBreak = Seq("seq")).collect()
    }
    val msgs2 = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs2.contains("op must be"), msgs2.take(300))
  }

  test("scdBuild: null attrs compare null-safely; output passes scdJoin's audit") {
    val changes = table("key bigint, ts bigint, seg string", Seq(
      row(1L, 10L, null),
      row(1L, 15L, null),  // null == null: collapsed, not a new version
      row(1L, 20L, "A")))
    val dim = AsOfJoin.scdBuild(changes, "key", "ts", Seq("seg"),
      endOfTime = lit(99L))
    val vers = dim.orderBy("valid_from").collect()
      .map(r => (Option(r.getString(1)).orNull, r.getLong(2), r.getLong(3)))
      .toSeq
    assert(vers == Seq((null, 10L, 20L), ("A", 20L, 99L)), vers.toString)
    // Adjacent intervals touch exactly -> the default non-overlap audit
    // in scdJoin accepts the built dimension as-is.
    val facts = table("id bigint, key bigint, ts bigint", Seq(
      row(100L, 1L, 12L), row(101L, 1L, 20L), row(102L, 1L, 5L)))
    val joined = AsOfJoin.scdJoin(facts, "key", "ts",
        dim, "key", "valid_from", "valid_to")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(3)).orNull)).toSeq
    assert(joined == Seq((100L, null), (101L, "A"), (102L, null)),
      joined.toString)
  }

  test("asof backward honors tolerance") {
    val l = table("k string, t timestamp, v bigint",
      Seq(row("a", ts("2024-01-01 10:00:10"), 1L)))
    val r = table("k string, t timestamp, q bigint",
      Seq(row("a", ts("2024-01-01 09:00:00"), 7L)))
    val hit = AsOfJoin.asofBackward(l, r, Seq("k"), "t", "t", Seq("q"),
      toleranceUs = Some(2L * 3600 * 1000000)).head()
    val miss = AsOfJoin.asofBackward(l, r, Seq("k"), "t", "t", Seq("q"),
      toleranceUs = Some(60L * 1000000)).head()
    assert(hit.getAs[Long]("asof_q") == 7L)
    assert(miss.isNullAt(miss.fieldIndex("asof_q")))
  }

  test("asof forward: earliest right row at-or-after") {
    val l = table("k string, t timestamp, v bigint", Seq(
      row("a", ts("2024-01-01 10:00:00"), 1L)))
    val r = table("k string, t timestamp, q bigint", Seq(
      row("a", ts("2024-01-01 09:59:00"), 7L),
      row("a", ts("2024-01-01 10:00:30"), 8L),
      row("a", ts("2024-01-01 10:01:00"), 9L)))
    val out = AsOfJoin.asofForward(l, r, Seq("k"), "t", "t", Seq("q")).head()
    assert(out.getAs[Long]("asof_q") == 8L)
  }

  test("asof nearest: closest either side, ties backward, tolerance both sides") {
    val l = table("k string, t timestamp, v bigint", Seq(
      row("a", ts("2024-01-01 10:00:10"), 1L),   // back 8s away, fwd 5s away
      row("a", ts("2024-01-01 10:01:40"), 2L),   // back 85s, fwd 100s
      row("b", ts("2024-01-01 10:00:10"), 3L)))  // tie: 2s back vs 2s fwd
    val r = table("k string, t timestamp, q bigint", Seq(
      row("a", ts("2024-01-01 10:00:02"), 7L),
      row("a", ts("2024-01-01 10:00:15"), 8L),
      row("a", ts("2024-01-01 10:03:20"), 9L),
      row("b", ts("2024-01-01 10:00:08"), 20L),
      row("b", ts("2024-01-01 10:00:12"), 21L)))
    val out = AsOfJoin.asofNearest(l, r, Seq("k"), "t", "t", Seq("q"))
      .orderBy("v").collect()
    assert(out(0).getAs[Long]("asof_q") == 8L)  // 5s fwd beats 8s back
    assert(out(1).getAs[Long]("asof_q") == 8L)  // 85s back beats 100s fwd
    assert(out(2).getAs[Long]("asof_q") == 20L) // equal distance -> backward
    // tolerance voids BOTH sides: row 2's nearest is 85s back
    val tol = AsOfJoin.asofNearest(l, r, Seq("k"), "t", "t", Seq("q"),
        toleranceUs = Some(60L * 1000000))
      .orderBy("v").collect()
    assert(tol(0).getAs[Long]("asof_q") == 8L)
    assert(tol(1).isNullAt(tol(1).fieldIndex("asof_q")))
    // unmatched key keeps left row with nulls
    val lonely = table("k string, t timestamp, v bigint",
      Seq(row("z", ts("2024-01-01 10:00:00"), 9L)))
    val lr = AsOfJoin.asofNearest(lonely, r, Seq("k"), "t", "t", Seq("q"))
      .collect()
    assert(lr.length == 1 && lr(0).isNullAt(lr(0).fieldIndex("asof_q")))
  }

  test("sessionize: gap splits sessions per key, ids are 1-based") {
    val df = table("u bigint, t timestamp, v double", Seq(
      row(1L, ts("2024-01-01 10:00:00"), 1.0),
      row(1L, ts("2024-01-01 10:10:00"), 2.0),
      row(1L, ts("2024-01-01 11:30:00"), 3.0), // > 30min gap -> new session
      row(2L, ts("2024-01-01 10:00:00"), 4.0)))
    val out = Sessionize.sessionize(df, Seq("u"), "t", 30L * 60 * 1000000)
    val sids = out.orderBy("u", "t").collect().map(_.getAs[Long]("session_id")).toSeq
    assert(sids == Seq(1L, 1L, 2L, 1L))
    val stats = Sessionize.sessionStats(out, Seq("u"), "t", "v")
      .orderBy("u", "session_id").collect()
    assert(stats.map(_.getAs[Long]("n_events")).toSeq == Seq(2L, 1L, 1L))
  }

  test("streaming: windowed counts over a file stream reach memory sink") {
    val s = spark
    val dir = tempDir("graft-stream")
    graft.sources.Tables.events(s, "/root/testdata/sf0.001")
      .limit(200).write.mode("overwrite").parquet(dir)
    val schema = s.read.parquet(dir).schema
    val stream = EventStream.readEventStream(s, dir, schema)
    val agg = EventStream.windowedCounts(stream, "1 hour", "1 hour", "2 hours")
    val q = EventStream.runToMemory(agg, "win_counts", outputMode = "append")
    // Append mode only emits closed windows; complete-mode re-run for totals:
    q.stop()
    val q2 = EventStream.runToMemory(agg, "win_counts_c", outputMode = "complete")
    val n = s.table("win_counts_c").agg(sum("n")).head().getLong(0)
    q2.stop()
    assert(n == 200L)
  }

  test("streaming: watermarked dedup drops repeat keys within the horizon") {
    val s = spark
    import graft.testkit.SparkTestKit.spark.implicits._
    val dir = tempDir("graft-stream-dd")
    Seq(
      EventStream.Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      EventStream.Event(1L, ts("2024-01-01 10:01:00"), 1L, "click", 1.0), // dup id
      EventStream.Event(2L, ts("2024-01-01 10:02:00"), 1L, "click", 2.0),
      EventStream.Event(2L, ts("2024-01-01 10:03:00"), 2L, "view", 9.0),  // dup id
      EventStream.Event(3L, ts("2024-01-01 10:04:00"), 3L, "click", 3.0),
    ).toDS().write.mode("overwrite").parquet(dir)
    val stream = EventStream.readEventStream(s, dir, s.read.parquet(dir).schema)
    val deduped = EventStream.dedupStream(stream, Seq("event_id"), watermark = "1 hour")
    val q = EventStream.runToMemory(deduped, "dd_out")
    val ids = s.table("dd_out").select("event_id").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("csv source reads with explicit schema, no inference scan (conftest.py:180-195)") {
    val dir = java.nio.file.Paths.get(tempDir("graft-csv"))
    val f = dir.resolve("t.csv")
    java.nio.file.Files.writeString(f, "id,name,score\n1,ann,2.5\n2,bob,3.5\n")
    val df = graft.sources.Tables.readCsv(spark, f.toString,
      org.apache.spark.sql.types.StructType.fromDDL("id bigint, name string, score double"))
    assert(df.schema.toDDL == "id BIGINT,name STRING,score DOUBLE")
    assert(df.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "ann", 2.5), Seq(2L, "bob", 3.5)))
  }

  test("csv quarantine: malformed rows land raw in the corrupt column, good rows parse") {
    val dir = java.nio.file.Paths.get(tempDir("graft-csv-q"))
    java.nio.file.Files.writeString(dir.resolve("t.csv"),
      "id,name,score\n1,ann,2\nBAD,bob,3\n2,cat,4,EXTRA\n3,dan,5\n")
    val df = graft.sources.Tables.readCsvWithQuarantine(spark, dir.toString,
        org.apache.spark.sql.types.StructType.fromDDL(
          "id bigint, name string, score int"))
      .localCheckpoint()
    val good = df.filter(col("_corrupt_record").isNull)
      .select("id", "name").orderBy("id").collect().map(_.toSeq).toSeq
    assert(good == Seq(Seq(1L, "ann"), Seq(3L, "dan")))
    val bad = df.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").orderBy("_corrupt_record")
      .collect().map(_.getString(0)).toSeq
    assert(bad == Seq("2,cat,4,EXTRA", "BAD,bob,3"), bad.toString)
  }

  test("orc source roundtrips values bit-exactly with an explicit schema") {
    val dir = tempDir("graft-orc")
    val src = table("id bigint, name string, score double", Seq(
      row(1L, "ann", 2.5), row(2L, "böb é", -0.125), row(3L, null, null)))
    src.write.mode("overwrite").orc(dir)
    val back = graft.sources.Tables.readOrc(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id bigint, name string, score double"))
    assert(back.schema.toDDL == "id BIGINT,name STRING,score DOUBLE")
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      src.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("exportShardsWithManifest: manifest matches a driver-side recompute; rerun-stable") {
    val docs = table("doc_id bigint, text string",
      (0L until 40L).map(i => row(i, s"doc $i body ${"x" * (i % 7).toInt}")))
    val path = tempDir("graft-export")
    val m1 = graft.sources.Sinks.exportShardsWithManifest(
        docs, "doc_id", "text", 4, path)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    // every doc lands in exactly one shard and counts add up
    assert(m1.map(_(1).asInstanceOf[Long]).sum == 40L)
    assert(m1.map(_(0).asInstanceOf[Int]).toSet == Set(0, 1, 2, 3))
    // shards partition the permutation: round-robin means each shard's
    // positions cover pos % 4 == shard
    // rerun over the same corpus reproduces the manifest bit-for-bit
    val path2 = tempDir("graft-export2")
    val m2 = graft.sources.Sinks.exportShardsWithManifest(
        docs, "doc_id", "text", 4, path2)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(m1 == m2)
    // a corrupted export (one text flipped) changes that shard's xor
    val bent = docs.withColumn("text",
      when(col("doc_id") === 7L, lit("CORRUPTED")).otherwise(col("text")))
    val path3 = tempDir("graft-export3")
    val m3 = graft.sources.Sinks.exportShardsWithManifest(
        bent, "doc_id", "text", 4, path3)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(m1 != m3)
    Seq(path, path2, path3).foreach(p =>
      graft.streaming.StreamGate.deleteRecursively(p))
  }

  test("range join: bucketed equi-join matches the range predicate, no nested loop") {
    import graft.operators.RangeJoin
    val l = table("k string, t bigint, lid bigint", Seq(
      row("a", 100L, 1L), row("a", 250L, 2L), row("b", 100L, 3L)))
    val r = table("k string, t bigint, rid bigint", Seq(
      row("a", 120L, 10L),   // within 50 of lid 1
      row("a", 210L, 11L),   // within 50 of lid 2 (and not lid 1), adjacent bucket
      row("a", 400L, 12L),   // matches nothing
      row("b", 60L, 13L)))   // within 50 of lid 3
    val out = RangeJoin.rangeJoin(l, r, Seq("k"), "t", "t",
      deltaUs = 50L, rightValues = Seq("rid"))
    val pairs = out.select("lid", "r_rid").collect()
      .map(rr => (rr.getLong(0), rr.getLong(1))).toSet
    assert(pairs == Set((1L, 10L), (2L, 11L), (3L, 13L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("streaming: stream-static enrichment join reaches the sink") {
    val s = spark
    import graft.testkit.SparkTestKit.spark.implicits._
    val dir = tempDir("graft-stream-enrich")
    Seq(
      EventStream.Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      EventStream.Event(2L, ts("2024-01-01 10:01:00"), 2L, "view", 2.0),
      EventStream.Event(3L, ts("2024-01-01 10:02:00"), 1L, "click", 3.0),
    ).toDS().write.mode("overwrite").parquet(dir)
    val users = table("user_id bigint, segment string",
      Seq(row(1L, "gold"), row(2L, "silver")))
    // stream-static join: the static side is re-read per micro-batch,
    // no state accumulates for it. Both dimension-side shapes must
    // agree: broadcast (default, shuffle-free events) and the
    // non-broadcast degradation for a dimension too big to broadcast.
    val results = Seq(true -> "enriched_bcast", false -> "enriched_shuffle").map {
      case (bcast, sink) =>
        val stream = EventStream.readEventStream(s, dir, s.read.parquet(dir).schema)
        val enriched = EventStream.enrichStream(stream, users,
          "user_id", "user_id", Seq("segment" -> "segment"), broadcastDim = bcast)
        val q = EventStream.runToMemory(enriched, sink)
        val got = s.table(sink)
          .select("event_id", "segment").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        q.stop()
        got
    }
    assert(results.forall(_ == Map(1L -> "gold", 2L -> "silver", 3L -> "gold")))
  }

  test("streaming: stream-static exclusion join drops known keys on both paths") {
    val s = spark
    import graft.testkit.SparkTestKit.spark.implicits._
    val dir = tempDir("graft-stream-excl")
    Seq(
      EventStream.Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      EventStream.Event(2L, ts("2024-01-01 10:01:00"), 2L, "view", 2.0),
      EventStream.Event(3L, ts("2024-01-01 10:02:00"), 3L, "click", 3.0),
      EventStream.Event(4L, ts("2024-01-01 10:03:00"), 1L, "view", 4.0),
    ).toDS().write.mode("overwrite").parquet(dir)
    // duplicate keys in the known set must not duplicate output rows
    val known = table("uid bigint, why string",
      Seq(row(1L, "blocked"), row(1L, "blocked-again"), row(9L, "unused")))
    val results = Seq(true -> "excl_bcast", false -> "excl_shuffle").map {
      case (bcast, sink) =>
        val stream = EventStream.readEventStream(s, dir, s.read.parquet(dir).schema)
        val kept = EventStream.excludeKnownStream(stream, known,
          "user_id", "uid", broadcastKnown = bcast)
        val q = EventStream.runToMemory(kept, sink)
        val got = s.table(sink).select("event_id").collect().map(_.getLong(0)).toSet
        q.stop()
        got
    }
    assert(results.forall(_ == Set(2L, 3L)))
  }

  test("streaming: stateful sessionizer emits closed sessions") {
    import graft.testkit.SparkTestKit.spark.implicits._
    val s = spark
    val dir = tempDir("graft-stream2")
    Seq(
      EventStream.Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      EventStream.Event(2L, ts("2024-01-01 10:05:00"), 1L, "click", 2.0),
      EventStream.Event(3L, ts("2024-01-01 12:00:00"), 1L, "click", 4.0),
    ).toDS().write.mode("overwrite").parquet(dir)
    val stream = s.readStream.schema(implicitly[org.apache.spark.sql.Encoder[EventStream.Event]].schema)
      .parquet(dir).as[EventStream.Event]
    val sessions = EventStream.sessionizeStream(stream, 30L * 60 * 1000000)
    val q = EventStream.runToMemory(sessions.toDF(), "sessions")
    val got = s.table("sessions").collect()
    q.stop()
    // the first session (2 events) closes when event 3 arrives; the open
    // session stays in state
    assert(got.length == 1)
    assert(got.head.getAs[Long]("n_events") == 2L)
    assert(got.head.getAs[Double]("value_sum") == 3.0)
  }

  test("config: yaml parse, unpack, transforms, validation") {
    val cfg = Config.parse(
      """name: pipeline
        |paths:
        |  input: data/in.parquet
        |  output: data/out.parquet
        |mappings:
        |  a: {x: 1, y: 2}
        |cols: [c1, c2]
        |""".stripMargin)
    cfg.unpack(Seq("paths"))
    assert(cfg("input") == "data/in.parquet")
    cfg.prependDir(Seq("input"), "/srv")
    assert(cfg("input") == "/srv/data/in.parquet")
    cfg.extendAttr("cols", Seq("c3"))
    assert(cfg("cols") == Seq("c1", "c2", "c3"))
    cfg.removeFromAttr("cols", Set("c1"))
    assert(cfg("cols") == Seq("c2", "c3"))
    cfg.flattenNestedDicts(Seq("mappings"))
    assert(cfg("mappings").asInstanceOf[Map[Vector[Any], Any]]
      .contains(Vector("a", "x")))
    val res = cfg.validate(spark, requiredKeys = Seq("name", "nope"),
      pathAttrs = Seq("input"))
    assert(res.isLeft)
    val errs = res.left.toOption.get.map(_.section)
    assert(errs.contains("nope") && errs.contains("input"))
  }

  test("config: LoggingConfig creates timestamped file + console handlers (config.py:225-304)") {
    import graft.config.LoggingConfig
    val tmp = java.nio.file.Paths.get(tempDir("graft_logs"))
    val fixed = java.time.LocalDateTime.of(2026, 8, 12, 10, 30, 0)
    val lc = new LoggingConfig(baseDir = Some(tmp), clock = () => fixed)
    assert(lc.logId == "log_260812_103000")
    assert(lc.filename == "log_260812_103000.log")
    try {
      val root = lc.setLoggingConfig()
      val logger = java.util.logging.Logger.getLogger("graft.test")
      logger.setLevel(java.util.logging.Level.FINE) // opt in to DEBUG
      logger.info("hello from the engine")
      logger.fine("debug detail") // reaches the ALL-level file handler
      root.getHandlers.foreach(_.flush())
      assert(java.nio.file.Files.exists(lc.fullPath))
      val content = new String(java.nio.file.Files.readAllBytes(lc.fullPath))
      assert(content.contains("hello from the engine"))
      assert(content.contains("debug detail"))
      assert(content.contains("INFO"))
    } finally lc.close()
  }
}
