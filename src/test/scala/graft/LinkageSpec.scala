package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Linkage
import graft.operators.Linkage.FsField
import graft.testkit.SparkTestKit._

/** Fellegi–Sunter scoring contracts: hand-computed log weights, the
  * NULL-is-no-evidence rule, the rounded-score threshold, and the loud
  * validation surface. (q229 checks the full blocked pipeline against
  * DuckDB; this pins the arithmetic on hand cases.) */
class LinkageSpec extends AnyFunSuite {

  private val fields = Seq(
    FsField("seg", 0.9, 0.2), FsField("name", 0.99, 0.001))
  private def r6(v: Double) = BigDecimal(v)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("fellegiSunterScores: hand-computed weights, NULL no-evidence, threshold") {
    val left = table("lid bigint, seg string, name string", Seq(
      row(1L, "A", "alice"), row(2L, "B", "bob"), row(3L, null, "carol")))
    val right = table("rid bigint, seg string, name string", Seq(
      row(10L, "A", "alice"),   // full agree with 1
      row(20L, "B", "robert"),  // seg agrees w/ 2, name disagrees
      row(30L, "C", "carol")))  // name agrees w/ 3, seg NULL on left
    val cands = table("id_a bigint, id_b bigint", Seq(
      row(1L, 10L), row(2L, 20L), row(3L, 30L)))
    val got = Linkage.fellegiSunterScores(cands, "id_a", "id_b",
        left, "lid", right, "rid", fields, matchThreshold = 5.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
    val wSeg = math.log(0.9 / 0.2)
    val wSegNo = math.log((1.0 - 0.9) / (1.0 - 0.2))
    val wName = math.log(0.99 / 0.001)
    val wNameNo = math.log((1.0 - 0.99) / (1.0 - 0.001))
    assert(got(0) == ((1L, 10L, 2L, r6(wSeg + wName), true)), got(0).toString)
    assert(got(1) == ((2L, 20L, 1L, r6(wSeg + wNameNo), false)), got(1).toString)
    // NULL seg on the left: no evidence either way, only name scores
    assert(got(2) == ((3L, 30L, 1L, r6(wName), true)), got(2).toString)
  }

  test("estimateFsParams: EM recovers planted m/u structure, deterministic") {
    // 300 candidates: 30 true twins (name always agrees, seg agrees
    // 90%), 270 non-matches (name never agrees, seg agrees ~20% via
    // the shared g(i%5) bucket)
    val left = table("lid bigint, seg string, name string",
      (1 to 300).map(i => row(i.toLong, s"g${i % 5}", s"n$i")))
    val right = table("rid bigint, seg string, name string",
      (1 to 300).map(i => row(i.toLong,
        if (i % 10 == 0) "zz" else s"g${i % 5}", s"n$i")))
    val cands = table("id_a bigint, id_b bigint",
      (1 to 30).map(i => row(i.toLong, i.toLong)) ++
        (1 to 270).map(i => row(i.toLong, ((i * 7) % 300 + 1).toLong))
          .filterNot(r => r.getLong(0) == r.getLong(1)))
    val est = Linkage.estimateFsParams(cands, "id_a", "id_b",
      left, "lid", right, "rid", Seq("seg", "name"), iters = 40)
    assert(est.p > 0.05 && est.p < 0.2, est.toString)
    val seg = est.fields.find(_.name == "seg").get
    val name = est.fields.find(_.name == "name").get
    assert(seg.m > 0.6 && seg.u > 0.1 && seg.u < 0.35, est.toString)
    // the latent class EM finds is slightly wider than the planted one
    // (a few seg-agreeing non-matches join it), so m_name lands high
    // but not at 1 — the structure, not the exact constants, is pinned
    assert(name.m > 0.7 && name.u < 0.05, est.toString)
    assert(name.agreeWeight > seg.agreeWeight, est.toString)
    // deterministic: a rerun is bit-identical
    val est2 = Linkage.estimateFsParams(cands, "id_a", "id_b",
      left, "lid", right, "rid", Seq("seg", "name"), iters = 40)
    assert(est == est2)
    intercept[IllegalArgumentException] {
      Linkage.estimateFsParams(cands, "id_a", "id_b", left, "lid",
        right, "rid", (1 to 17).map(i => s"f$i"), iters = 5)
    }
    intercept[IllegalArgumentException] {
      Linkage.estimateFsParams(cands.limit(0), "id_a", "id_b", left, "lid",
        right, "rid", Seq("seg"), iters = 5)
    }
  }

  test("blockingReport: hand counts, dup candidates collapse, empty truth NULL") {
    val cands = table("id_a bigint, id_b bigint", Seq(
      row(1L, 10L), row(1L, 10L), row(2L, 20L), row(3L, 30L)))
    val truth = table("id_a bigint, id_b bigint", Seq(
      row(1L, 10L), row(4L, 40L)))
    val r1 = Linkage.blockingReport(cands, truth, 5L, 5L).head()
    assert(r1.toSeq == Seq(5L, 5L, 3L, 2L, 1L, r6(1.0 - 3.0 / 25.0), 0.5),
      r1.toString)
    val r2 = Linkage.blockingReport(cands, truth.limit(0), 5L, 5L).head()
    assert(r2.getLong(3) == 0L && r2.isNullAt(6), r2.toString)
    intercept[IllegalArgumentException] {
      Linkage.blockingReport(cands, truth, 0L, 5L)
    }
  }

  test("resolveEntities: transitive chains merge, singletons keep their id") {
    val records = table("rid bigint", (1L to 7L).map(row(_)))
    // chain 1-2, 2-3 (one entity via transitivity), pair 5-6;
    // 4 and 7 never matched
    val pairs = table("id_a bigint, id_b bigint", Seq(
      row(1L, 2L), row(2L, 3L), row(5L, 6L)))
    val got = Linkage.resolveEntities(records, "rid", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L), got.mkString("; "))
  }

  test("resolveEntitiesIncremental == batch resolveEntities incl. cross-shard merges") {
    import graft.operators.Components
    val records = table("rid bigint", (1L to 9L).map(row(_)))
    // base shard clusters {1,2} and {5,6}; the delta bridges 2-3 AND
    // merges the two prior entities via 6-1 — the cross-component
    // contraction the incremental path exists for
    val base = table("id_a bigint, id_b bigint", Seq(row(1L, 2L), row(5L, 6L)))
    val delta = table("id_a bigint, id_b bigint", Seq(row(2L, 3L), row(6L, 1L)))
    val all = base.unionByName(delta)
    val batch = Linkage.resolveEntities(records, "rid", all)
    val prev = Components.connectedComponents(base, "id_a", "id_b")
    val incr = Linkage.resolveEntitiesIncremental(records, "rid", prev, delta)
    assertDfEquality(incr, batch, ignoreRowOrder = true)
    // {1,2,3,5,6} one entity labeled 1; 4,7,8,9 singletons
    val rows = batch.collect().map(_.toSeq)
    assert(rows.contains(Seq(6L, 1L)) && rows.contains(Seq(4L, 4L)))
  }

  test("fsThresholds: derives the q236 cutoffs; tighter budgets move bands monotonically; loud failures") {
    import graft.operators.Linkage.{FsEstimate, FsThresholds}
    val q229Fields = Seq(FsField("c_mktsegment", 0.9, 0.2),
      FsField("c_nationkey", 0.95, 0.04), FsField("c_name", 0.99, 0.001))
    val est = FsEstimate(0.005, q229Fields)
    // the q236 derivation, pinned to the oracle's literal CASE bounds
    val th = Linkage.fsThresholds(est, muErr = 0.0011, lambdaErr = 0.0015)
    assert(th == FsThresholds(1.863353, -3.516029), th.toString)
    // monotone on the 6dp gate: a tighter false-match budget can only
    // RAISE the upper cutoff; a tighter false-non-match budget can only
    // LOWER the lower one
    val tightMu = Linkage.fsThresholds(est, muErr = 0.00005, lambdaErr = 0.0015)
    assert(tightMu.upper == 7.985846 && tightMu.upper > th.upper,
      tightMu.toString)
    assert(tightMu.lower == th.lower)
    val tightLambda = Linkage.fsThresholds(est, muErr = 0.0011,
      lambdaErr = 0.0004)
    assert(tightLambda.lower == -9.638522 && tightLambda.lower < th.lower,
      tightLambda.toString)
    // budgets tighter than the extreme patterns: loud, named failure
    assert(intercept[IllegalArgumentException] {
      Linkage.fsThresholds(est, muErr = 1e-9, lambdaErr = 0.0015)
    }.getMessage.contains("auto-matched"))
    assert(intercept[IllegalArgumentException] {
      Linkage.fsThresholds(est, muErr = 0.0011, lambdaErr = 1e-9)
    }.getMessage.contains("auto-rejected"))
    // budgets so loose the bands overlap: loud
    assert(intercept[IllegalArgumentException] {
      Linkage.fsThresholds(est, muErr = 0.5, lambdaErr = 0.5)
    }.getMessage.contains("overlap"))
    intercept[IllegalArgumentException] {
      Linkage.fsThresholds(est, muErr = 0.0, lambdaErr = 0.5)
    }
  }

  test("fellegiSunterDecisions: three bands on hand pairs, boundary inclusive, loud inverted thresholds") {
    val left = table("lid bigint, seg string, name string", Seq(
      row(1L, "A", "alice"), row(2L, "B", "bob"), row(3L, "C", "carol")))
    val right = table("rid bigint, seg string, name string", Seq(
      row(10L, "A", "alice"),    // both agree: strong match
      row(20L, "B", "robert"),   // seg only: middle
      row(30L, "X", "caroline"))) // neither: strong non-match
    val cands = table("id_a bigint, id_b bigint", Seq(
      row(1L, 10L), row(2L, 20L), row(3L, 30L)))
    val wSeg = math.log(0.9 / 0.2)
    val wSegNo = math.log((1.0 - 0.9) / (1.0 - 0.2))
    val wName = math.log(0.99 / 0.001)
    val wNameNo = math.log((1.0 - 0.99) / (1.0 - 0.001))
    val mid = r6(wSeg + wNameNo)
    // boundary discipline: upper set EXACTLY at the middle pair's
    // rounded score bands it as a match (>= is inclusive)
    val inclusive = Linkage.fellegiSunterDecisions(cands, "id_a", "id_b",
        left, "lid", right, "rid", fields,
        upperThreshold = mid, lowerThreshold = r6(wSegNo + wNameNo))
      .collect().map(r => (r.getLong(0), r.getString(4))).sortBy(_._1)
    assert(inclusive.toSeq == Seq((1L, "match"), (2L, "match"),
      (3L, "non_match")), inclusive.mkString("; "))
    // a review band strictly between the cutoffs
    val banded = Linkage.fellegiSunterDecisions(cands, "id_a", "id_b",
        left, "lid", right, "rid", fields,
        upperThreshold = r6(wSeg + wName), lowerThreshold = r6(wSegNo + wNameNo))
      .collect().map(r => (r.getLong(0), r.getString(4))).sortBy(_._1)
    assert(banded.toSeq == Seq((1L, "match"), (2L, "review"),
      (3L, "non_match")), banded.mkString("; "))
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterDecisions(cands, "id_a", "id_b",
        left, "lid", right, "rid", fields,
        upperThreshold = 1.0, lowerThreshold = 1.0)
    }
  }

  test("estimateFsParamsTraced: log-likelihood monotone non-decreasing; estimate == untraced") {
    val left = table("lid bigint, seg string, name string",
      (1 to 200).map(i => row(i.toLong, s"g${i % 4}", s"n$i")))
    val right = table("rid bigint, seg string, name string",
      (1 to 200).map(i => row(i.toLong,
        if (i % 10 == 0) "zz" else s"g${i % 4}", s"n$i")))
    val cands = table("id_a bigint, id_b bigint",
      (1 to 25).map(i => row(i.toLong, i.toLong)) ++
        (1 to 150).map(i => row(i.toLong, ((i * 11) % 200 + 1).toLong))
          .filterNot(r => r.getLong(0) == r.getLong(1)))
    val (est, trace) = Linkage.estimateFsParamsTraced(cands, "id_a", "id_b",
      left, "lid", right, "rid", Seq("seg", "name"), iters = 30)
    val rows = trace.collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(rows.length == 30 && rows.map(_._1).toSeq == (1 to 30))
    rows.sliding(2).foreach { case Array((i1, l1), (i2, l2)) =>
      assert(l2 >= l1 - 1e-9,
        s"log-likelihood decreased at iter $i2: $l1 -> $l2")
    case _ => ()
    }
    // the last steps have converged: the tail is flat at 1e-9
    assert(math.abs(rows.last._2 - rows(rows.length - 2)._2) < 1e-6,
      rows.takeRight(3).mkString("; "))
    val untraced = Linkage.estimateFsParams(cands, "id_a", "id_b",
      left, "lid", right, "rid", Seq("seg", "name"), iters = 30)
    assert(est == untraced)
  }

  test("fellegiSunterScores: fuzzy agreement rescues typos, threshold validated") {
    // 'BUILDING' vs 'BUILDINGX': JW ~0.978 — fuzzy-agrees at 0.9 where
    // exact equality disagrees; 'MACHINERY' vs 'BUILDING': ~0.49 —
    // disagrees under both predicates
    val left = table("lid bigint, seg string, name string", Seq(
      row(1L, "BUILDING", "alice"), row(2L, "MACHINERY", "bob"),
      row(3L, null, "carol")))
    val right = table("rid bigint, seg string, name string", Seq(
      row(10L, "BUILDINGX", "alice"), row(20L, "BUILDING", "bob"),
      row(30L, "HOUSEHOLD", "carol")))
    val cands = table("id_a bigint, id_b bigint", Seq(
      row(1L, 10L), row(2L, 20L), row(3L, 30L)))
    val fuzzyFields = Seq(FsField("seg", 0.9, 0.2, simThreshold = 0.9),
      FsField("name", 0.99, 0.001))
    val got = Linkage.fellegiSunterScores(cands, "id_a", "id_b",
        left, "lid", right, "rid", fuzzyFields, matchThreshold = 5.0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val wSeg = math.log(0.9 / 0.2)
    val wSegNo = math.log((1.0 - 0.9) / (1.0 - 0.2))
    val wName = math.log(0.99 / 0.001)
    // typo'd segment still agrees: full two-field evidence
    assert(got(0) == ((1L, 2L, r6(wSeg + wName))), got(0).toString)
    // cross-segment: fuzzy disagrees like exact
    assert(got(1) == ((2L, 1L, r6(wSegNo + wName))), got(1).toString)
    // NULL stays no-evidence under the fuzzy predicate too
    assert(got(2) == ((3L, 1L, r6(wName))), got(2).toString)
    // exact-threshold fields are unchanged by the new parameter: the
    // same pairs under simThreshold = 1.0 lose the typo'd agreement
    val exact = Linkage.fellegiSunterScores(cands, "id_a", "id_b",
        left, "lid", right, "rid",
        Seq(FsField("seg", 0.9, 0.2), FsField("name", 0.99, 0.001)),
        matchThreshold = 5.0)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    assert(exact(0) == ((1L, r6(wSegNo + wName))), exact(0).toString)
    intercept[IllegalArgumentException] { FsField("seg", 0.9, 0.2, 0.0) }
    intercept[IllegalArgumentException] { FsField("seg", 0.9, 0.2, 1.1) }
  }

  test("fellegiSunterScores: loud validation") {
    val df = table("lid bigint, seg string", Seq(row(1L, "A")))
    val cands = table("id_a bigint, id_b bigint", Seq(row(1L, 1L)))
    intercept[IllegalArgumentException] { FsField("seg", 0.2, 0.9) }
    intercept[IllegalArgumentException] { FsField("seg", 1.0, 0.5) }
    intercept[IllegalArgumentException] { FsField("seg", 0.5, 0.0) }
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScores(cands, "id_a", "id_b", df, "lid", df, "lid",
        Nil, 0.0)
    }
    intercept[IllegalArgumentException] { // field absent from a frame
      Linkage.fellegiSunterScores(cands, "id_a", "id_b", df, "lid", df, "lid",
        Seq(FsField("missing", 0.9, 0.1)), 0.0)
    }
    intercept[IllegalArgumentException] { // duplicate fields
      Linkage.fellegiSunterScores(cands, "id_a", "id_b", df, "lid", df, "lid",
        Seq(FsField("seg", 0.9, 0.1), FsField("seg", 0.8, 0.2)), 0.0)
    }
  }
}
