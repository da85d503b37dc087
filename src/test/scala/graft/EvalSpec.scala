package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Eval, Similarity}
import graft.testkit.SparkTestKit._

class EvalSpec extends AnyFunSuite {

  test("optimalThresholdByGroup == scalar per group; single-class groups; NULL group") {
    val df = table("g string, label boolean, s double", Seq(
      row("a", true, 0.9), row("a", true, 0.8), row("a", false, 0.7),
      row("a", true, 0.6), row("a", false, 0.5), row("a", false, 0.4),
      row("b", true, 2.0), row("b", false, 1.0),
      row(null, true, 3.0), row(null, false, 1.0),
      row("allpos", true, 0.3), row("allpos", true, 0.1),
      row("allneg", false, 0.2)))
    val got = Eval.optimalThresholdByGroup(df, "g", "label", "s")
      .collect().map(r => (Option(r.getString(0)), r.toSeq.drop(1))).toMap
    // two-class groups agree with the scalar argmax on the slice
    for (g <- Seq("a", "b")) {
      val e = Eval.optimalThreshold(df.filter(col("g") === g), "label", "s")
        .head()
      assert(got(Some(g)) == e.toSeq, s"group $g")
    }
    assert(got(Some("a")) == Seq("f1", 0.5, 3L, 1L, 0L, 2L, 0.857143))
    assert(got(None).drop(1) == Seq(1.0, 1L, 0L, 0L, 1L, 1.0))
    // no negatives: the sentinel keeps everything at F1 = 1
    assert(got(Some("allpos")) == Seq("f1", -0.9, 2L, 0L, 0L, 0L, 1.0))
    // no positives: every F1 is 0, ties resolve to the sentinel
    assert(got(Some("allneg")) == Seq("f1", -0.8, 0L, 1L, 0L, 0L, 0.0))
  }

  test("averagePrecision: hand blocks, perfect ranking, tie block, loud") {
    // blocks desc: 0.9(T) prec 1 -> 0.5; 0.7(T) prec 2/3 -> 1/3
    val df = table("label boolean, s double", Seq(
      row(true, 0.9), row(false, 0.8), row(true, 0.7), row(false, 0.6)))
    assert(Eval.averagePrecision(df, "label", "s").head().toSeq ==
      Seq(2L, 2L, 0.833333))
    // every positive above every negative: AP = 1
    val perfect = table("label boolean, s double", Seq(
      row(true, 1.0), row(true, 0.9), row(false, 0.1)))
    assert(Eval.averagePrecision(perfect, "label", "s").head()
      .getDouble(2) == 1.0)
    // a tied block shares one operating point: T,F at the same score
    // -> single block tp=1 fp=1: AP = (1/1)*(1/2) = 0.5; any
    // permutation of the tie scores the same
    val tie = table("label boolean, s double", Seq(
      row(true, 0.5), row(false, 0.5)))
    assert(Eval.averagePrecision(tie, "label", "s").head().toSeq ==
      Seq(1L, 1L, 0.5))
    // no negatives: precision 1 everywhere, AP = 1
    val allPos = table("label boolean, s double", Seq(
      row(true, 0.2), row(true, 0.8)))
    assert(Eval.averagePrecision(allPos, "label", "s").head()
      .getDouble(2) == 1.0)
    val e = intercept[IllegalArgumentException] {
      Eval.averagePrecision(
        table("label boolean, s double", Seq(row(false, 1.0))),
        "label", "s").head()
    }
    assert(e.getMessage.contains("at least one positive"))
  }

  test("optimalThreshold: hand-computed F1 argmax, youden tie-break, loud") {
    val df = table("label boolean, s double", Seq(
      row(true, 0.9), row(true, 0.8), row(false, 0.7),
      row(true, 0.6), row(false, 0.5), row(false, 0.4)))
    // f1 by threshold: -0.6->6/9, 0.4->6/8, 0.5->6/7, 0.6->4/6,
    // 0.7->4/5, 0.8->2/5, 0.9->0: argmax at 0.5
    assert(Eval.optimalThreshold(df, "label", "s").head().toSeq ==
      Seq("f1", 0.5, 3L, 1L, 0L, 2L, 0.857143))
    // youden: J = 0.5 exactly at BOTH th=0 and th=2 -> smaller wins
    val tie = table("label boolean, s double", Seq(
      row(true, 3.0), row(false, 2.0), row(true, 1.0), row(false, 0.0)))
    assert(Eval.optimalThreshold(tie, "label", "s", "youden")
      .head().toSeq == Seq("youden", 0.0, 2L, 1L, 0L, 1L, 0.5))
    // the sentinel (predict everything) can win: one F at the top
    val allin = table("label boolean, s double", Seq(
      row(false, 2.0), row(true, 1.0), row(true, 0.0)))
    val a = Eval.optimalThreshold(allin, "label", "s").head()
    assert(a.getDouble(1) == -1.0 && a.getDouble(6) == 0.8)
    val e1 = intercept[IllegalArgumentException] {
      Eval.optimalThreshold(
        table("label boolean, s double", Seq(row(true, 1.0), row(true, 0.0))),
        "label", "s").head()
    }
    assert(e1.getMessage.contains("both classes"))
    val e2 = intercept[IllegalArgumentException] {
      Eval.optimalThreshold(df, "label", "s", "accuracy")
    }
    assert(e2.getMessage.contains("unknown objective"))
  }

  private def vecTable(rows: Seq[(Long, Seq[Float])]) =
    table("vec_id bigint, embedding array<float>",
      rows.map { case (id, v) => row(id, v) })

  test("topKAllQueries: agrees with per-query bruteForceTopK on random vectors") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 40L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val df = vecTable(corpus)
    val queries = Seq(0L, 17L, 33L).map(i => i -> corpus(i.toInt)._2)
    val got = Eval.topKAllQueries(df, "vec_id", "embedding", queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    queries.foreach { case (qid, qv) =>
      val exp = Similarity.bruteForceTopK(
          df.filter(col("vec_id") =!= qid), "vec_id", "embedding", qv, 5)
        .collect().map(_.getLong(0)).toSeq
      val gotIds = (1 to 5).map(r => got((qid, r)))
      assert(gotIds == exp, s"query $qid: $gotIds vs $exp")
    }
    // the query set is a plan literal: oversize must fail loudly and
    // name the joined alternative, never build a giant plan
    val over = intercept[IllegalArgumentException] {
      Eval.topKAllQueries(df, "vec_id", "embedding", queries, 5,
        maxQueries = 2)
    }
    assert(over.getMessage.contains("topKAllQueriesJoined"), over.getMessage)
  }

  test("topKAllQueriesJoined: agrees with the literal variant on q125's geometry") {
    // the q125 shape scaled down: every 5th corpus vector is a query
    val rnd = new scala.util.Random(19)
    val corpus = (0L until 60L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val df = vecTable(corpus)
    val queries = corpus.filter(_._1 % 5 == 0)
    val qdf = vecTable(queries)
    val lit = Eval.topKAllQueries(df, "vec_id", "embedding", queries, 7)
    Seq(1, 4, 32).foreach { blocks =>
      val joined = Eval.topKAllQueriesJoined(df, "vec_id", "embedding",
          qdf, "vec_id", "embedding", 7, blocks = blocks)
      withClue(s"blocks=$blocks: ") {
        assertDfEquality(joined, lit, ignoreRowOrder = true)
      }
    }
    // excludeSelf=false keeps the self row at rank 1
    val selfIn = Eval.topKAllQueriesJoined(df, "vec_id", "embedding",
        qdf, "vec_id", "embedding", 3, excludeSelf = false)
      .filter(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(selfIn.forall { case (q, i) => q == i }, selfIn.toString)
  }

  test("retrievalMetrics: hand-computed recall/MRR/nDCG, zero-hit query kept") {
    def ranked(rows: (Long, Long, Int)*) =
      table("query_id bigint, item_id bigint, rank int",
        rows.map { case (q, i, r) => row(q, i, r) })
    val truth = ranked(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2))
    // query 1: hits at predicted ranks 1 (item 11) and 3 (item 10);
    // query 2: no hits at all
    val pred = ranked(
      (1L, 11L, 1), (1L, 99L, 2), (1L, 10L, 3),
      (2L, 98L, 1), (2L, 97L, 2))
    val got = Eval.retrievalMetrics(pred, truth,
        "query_id", "item_id", "rank", k = 3)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    val dcg1 = 1.0 / log2(2.0) + 1.0 / log2(4.0)       // hits at ranks 1, 3
    val idcg1 = 1.0 / log2(2.0) + 1.0 / log2(3.0) + 1.0 / log2(4.0)
    assert(got.map(t => (t._1, t._2, t._3)) == Seq((1L, 3L, 2L), (2L, 2L, 0L)))
    assert(math.abs(got(0)._4 - 2.0 / 3) < 1e-12)      // recall
    assert(math.abs(got(0)._5 - 1.0) < 1e-12)          // mrr: first hit rank 1
    assert(math.abs(got(0)._6 - dcg1 / idcg1) < 1e-12) // ndcg
    assert(got(1)._4 == 0.0 && got(1)._5 == 0.0 && got(1)._6 == 0.0)
  }

  test("retrievalMetrics: perfect prediction scores 1.0 everywhere; idcg capped at k") {
    def ranked(rows: (Long, Long, Int)*) =
      table("query_id bigint, item_id bigint, rank int",
        rows.map { case (q, i, r) => row(q, i, r) })
    val truth = ranked((1L, 10L, 1), (1L, 11L, 2))
    val got = Eval.retrievalMetrics(truth, truth,
        "query_id", "item_id", "rank", k = 5)
      .collect().map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.length == 1)
    val (rec, mrr, ndcg) = got(0)
    // idcg uses min(k, n_truth)=2 terms — matching the 2 hit gains
    assert(math.abs(rec - 1.0) < 1e-12)
    assert(math.abs(mrr - 1.0) < 1e-12)
    assert(math.abs(ndcg - 1.0) < 1e-12)
  }

  private def scoredTable(rows: Seq[(Boolean, Double)]) =
    table("label boolean, score double",
      rows.map { case (y, s) => row(y, s) })

  test("confusionAtThreshold: hand-computed cells; degenerate slices go NULL") {
    val got = Eval.confusionAtThreshold(
        scoredTable(Seq((true, 2.0), (true, -1.0), (false, 1.0), (false, -2.0))),
        "label", "score", 0.0)
      .collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4)) == ((4L, 1L, 1L, 1L, 1L)))
    assert(got.getDouble(5) == 0.5 && got.getDouble(6) == 0.5 &&
      got.getDouble(7) == 0.5 && got.getDouble(8) == 0.5)
    // nothing predicted positive -> precision undefined (NULL), f1 still
    // defined through the 2tp/(2tp+fp+fn) form
    val none = Eval.confusionAtThreshold(
        scoredTable(Seq((true, -1.0), (false, -2.0))), "label", "score", 0.0)
      .collect()(0)
    assert(none.isNullAt(6))
    assert(none.getDouble(8) == 0.0)
  }

  test("rocAuc: tie-averaged hand case, perfect separation, single-class NULL") {
    // pos {3, 1}, neg {1, 0}: avg ranks 1 / 2.5 / 2.5 / 4 -> auc 7/8
    val got = Eval.rocAuc(
        scoredTable(Seq((true, 3.0), (true, 1.0), (false, 1.0), (false, 0.0))),
        "label", "score")
      .collect()(0)
    assert((got.getLong(0), got.getLong(1)) == ((2L, 2L)))
    assert(got.getDouble(2) == 0.875)
    val perfect = Eval.rocAuc(
        scoredTable(Seq((true, 2.0), (true, 1.5), (false, 1.0), (false, 0.5))),
        "label", "score").collect()(0)
    assert(perfect.getDouble(2) == 1.0)
    val anti = Eval.rocAuc(
        scoredTable(Seq((false, 2.0), (true, 1.0))), "label", "score")
      .collect()(0)
    assert(anti.getDouble(2) == 0.0)
    val single = Eval.rocAuc(
        scoredTable(Seq((true, 2.0), (true, 1.0))), "label", "score")
      .collect()(0)
    assert(single.isNullAt(2))
  }

  test("rocAuc: agrees with brute-force pair counting on random scored data") {
    val rnd = new scala.util.Random(11)
    // coarse scores force plenty of cross-class ties
    val rows = (0 until 300).map(_ =>
      (rnd.nextBoolean(), (rnd.nextInt(21) - 10) / 10.0))
    val got = Eval.rocAuc(scoredTable(rows), "label", "score")
      .collect()(0).getDouble(2)
    val pos = rows.filter(_._1).map(_._2)
    val neg = rows.filterNot(_._1).map(_._2)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val exp = wins / (pos.size.toDouble * neg.size.toDouble)
    assert(math.abs(got - exp) < 1e-12, s"$got vs $exp")
  }

  test("prCurve: one-pass threshold sweep hand-computed; empty slice NULLs") {
    val scored = scoredTable(Seq(
      (true, 0.9), (true, 0.4), (false, 0.6), (false, 0.1)))
    val got = Eval.prCurve(scored, "label", "score", Seq(0.95, 0.0, 0.5))
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq
    assert(got == Seq(
      (0.0, 2L, 2L, 0L, 0L, Some(0.5), Some(1.0)),
      (0.5, 1L, 1L, 1L, 1L, Some(0.5), Some(0.5)),
      (0.95, 0L, 0L, 2L, 2L, None, Some(0.0))), got.toString)
    intercept[IllegalArgumentException] {
      Eval.prCurve(scored, "label", "score", Nil)
    }
  }

  test("liftTable: rank order, near-equal integer buckets, lift vs global rate") {
    def idScored(rows: (Long, Boolean, Double)*) =
      table("id bigint, label boolean, score double",
        rows.map { case (i, y, s) => row(i, y, s) })
    // rank desc by (score, then id asc on the 0.8 tie):
    //   id 1 (0.9 T), id 2 (0.8 T), id 3 (0.8 F), id 4 (0.3 F), id 5 (0.1 F)
    // nBuckets=2 over n=5: ranks 0-2 -> bucket 0, ranks 3-4 -> bucket 1
    val got = Eval.liftTable(
        idScored((4L, false, 0.3), (1L, true, 0.9), (3L, false, 0.8),
          (2L, true, 0.8), (5L, false, 0.1)),
        "label", "score", "id", nBuckets = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    val g = 2.0 / 5
    assert(got == Seq(
      (0, 3L, 2L, 2.0 / 3, (2.0 / 3) / g),
      (1, 2L, 0L, 0.0, 0.0)), got.toString)
    intercept[IllegalArgumentException] {
      Eval.liftTable(idScored(), "label", "score", "id")
    }
  }

  test("calibrationBins: hand-computed cells, clamping, zero-fill, decimal mean") {
    // bins=2 over [0, 1]: scores 0.1, 0.3 -> bucket 0; 1.4 clamps to 1;
    // bucket 1 otherwise empty except the clamp; a NULL score is skipped
    val df = table("label boolean, score double",
      Seq(row(true, 0.1), row(false, 0.3), row(true, 1.4),
        row(false, null)))
    val got = Eval.calibrationBins(df, "label", "score", 2, 0.0, 1.0)
      .orderBy("bucket").collect()
    assert(got.length == 2)
    val b0 = got(0)
    assert(b0.getLong(3) == 2L && b0.getLong(4) == 1L)
    assert(b0.getDouble(5) == 0.5)
    assert(math.abs(b0.getDouble(6) - 0.2) < 1e-12) // (0.1+0.3)/2 exact in decimal
    val b1 = got(1)
    assert(b1.getLong(3) == 1L && b1.getLong(4) == 1L)
    assert(b1.getDouble(5) == 1.0 && b1.getDouble(6) == 1.4)
    // an empty middle bucket still appears, metrics NULL
    val sparse = Eval.calibrationBins(
        table("label boolean, score double", Seq(row(true, 0.05), row(false, 0.95))),
        "label", "score", 3, 0.0, 1.0)
      .orderBy("bucket").collect()
    assert(sparse.length == 3)
    assert(sparse(1).getLong(3) == 0L && sparse(1).isNullAt(5) &&
      sparse(1).isNullAt(6))
  }

  test("rocAucByGroup: per-group equals filtered rocAuc; single-class NULL") {
    // group a: perfect separation (AUC 1); group b: anti-ranked (0);
    // group c: ties across classes (0.5 by average ranks); group d:
    // single-class (NULL)
    val d = table("g string, label boolean, s double", Seq(
      row("a", true, 0.9), row("a", true, 0.8), row("a", false, 0.1),
      row("b", true, 0.1), row("b", false, 0.9),
      row("c", true, 0.5), row("c", false, 0.5),
      row("d", true, 0.7), row("d", true, 0.3)))
    val got = Eval.rocAucByGroup(d, Seq("g"), "label", "s")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    assert(got == Seq(("a", 2L, 1L, 1.0), ("b", 1L, 1L, 0.0),
      ("c", 1L, 1L, 0.5), ("d", 2L, 0L, null)), got.toString)
    // generative agreement: grouped == ungrouped-per-filtered-slice
    val mixed = table("g string, label boolean, s double",
      (0 until 120).map { i =>
        val g = s"g${i % 3}"
        val lbl = (i * 7 % 5) < 2
        val sc = ((i * 31 % 17).toDouble / 17) + (if (lbl) 0.1 else 0.0)
        row(g, lbl, sc)
      })
    val grouped = Eval.rocAucByGroup(mixed, Seq("g"), "label", "s")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    Seq("g0", "g1", "g2").foreach { g =>
      val solo = Eval.rocAuc(mixed.filter(col("g") === g), "label", "s")
        .collect()(0)
      assert(grouped(g) ==
        ((solo.getLong(0), solo.getLong(1), solo.getDouble(2))), g)
    }
    intercept[IllegalArgumentException] {
      Eval.rocAucByGroup(d, Nil, "label", "s")
    }
  }

  test("reciprocalRankFusion: hand-computed fusion, ties by id, NULL excluded") {
    val a = table("id bigint, s double", Seq(
      row(1L, 3.0), row(2L, 2.0), row(3L, 1.0)))
    val b = table("id bigint, s double", Seq(
      row(2L, 9.0), row(3L, 8.0), row(4L, 7.0)))
    // k0=1: id1 1/2; id2 1/3+1/2; id3 1/4+1/3; id4 1/4
    val got = Eval.reciprocalRankFusion(Seq(a, b), "id", "s", k0 = 1, topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, 0.833333, 2L), (3L, 0.583333, 2L),
      (1L, 0.5, 1L)), got.toString)
    // equal scores rank by id: 5 before 6 in BOTH lists
    val t1 = table("id bigint, s double", Seq(row(6L, 1.0), row(5L, 1.0)))
    val t2 = table("id bigint, s double", Seq(row(5L, 1.0), row(6L, 1.0)))
    val tied = Eval.reciprocalRankFusion(Seq(t1, t2), "id", "s", 1, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(tied == Seq((5L, 1.0), (6L, 0.666667)), tied.toString)
    // NULL scores are absent, not rank-last
    val withNull = table("id bigint, s double", Seq(
      row(7L, 2.0), row(8L, null)))
    val nn = Eval.reciprocalRankFusion(
        Seq(withNull, withNull.filter(col("id") === 7L)), "id", "s", 1, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(nn == Seq(7L), nn.toString)
    intercept[IllegalArgumentException] {
      Eval.reciprocalRankFusion(Seq(a), "id", "s", 1, 3)
    }
    intercept[IllegalArgumentException] {
      Eval.reciprocalRankFusion(Seq(a, b), "id", "s", 0, 3)
    }
  }

  test("conformalThreshold: exact order statistic, small-n NULL, ties, NULL scores") {
    // g1: 9 scores 1..9, alpha=0.1 -> k = ceil(10*0.9) = 9 -> threshold 9
    // g2: 3 scores, k = ceil(4*0.9) = 4 > n -> NULL threshold (cannot
    //     promise alpha=0.1 from 3 calibration points)
    // g3: ties — scores (1,2,2,2,5,6,7,8,9), k=9 -> 9; and at alpha=0.5
    //     k = ceil(10*0.5) = 5 -> the 5th smallest = 5 regardless of
    //     tie permutation
    val cal = table("g string, s double",
      (1 to 9).map(i => row("g1", i.toDouble)) ++
        (1 to 3).map(i => row("g2", i.toDouble)) ++
        Seq(1.0, 2.0, 2.0, 2.0, 5.0, 6.0, 7.0, 8.0, 9.0).map(row("g3", _)) ++
        Seq(row("g1", null)))  // NULL scores dropped, not rank 0
    val out = Eval.conformalThreshold(cal, Seq("g"), "s", alpha = 0.1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out("g1") == ((9L, 9L, Some(9.0))))
    assert(out("g2") == ((3L, 4L, None)))
    assert(out("g3") == ((9L, 9L, Some(9.0))))
    val mid = Eval.conformalThreshold(cal, Seq("g"), "s", alpha = 0.5)
      .filter(col("g") === "g3").head()
    assert(mid.getLong(2) == 5L && mid.getDouble(3) == 5.0)
    intercept[IllegalArgumentException] {
      Eval.conformalThreshold(cal, Seq("g"), "s", alpha = 0.0)
    }
    // double-ceil overshoot guard: (149+1)*(1-0.18) is mathematically
    // exactly 123, but the double product lands at 123.00000000000001 —
    // a naive ceil yields rank 124 (one order statistic too
    // conservative); the 1e-9 backoff keeps the exact rank 123
    val big = table("g string, s double",
      (1 to 149).map(i => row("gx", i.toDouble)))
    val bx = Eval.conformalThreshold(big, Seq("g"), "s", alpha = 0.18).head()
    assert(bx.getLong(2) == 123L, s"k_rank ${bx.getLong(2)} != 123")
    assert(bx.getDouble(3) == 123.0)
  }

  test("spearmanRho: perfect/reversed/hand-computed, NULL scores excluded, tiny n") {
    def t(rows: Seq[(Long, java.lang.Double, java.lang.Double)]) =
      table("id bigint, a double, b double",
        rows.map { case (i, a, b) => row(i, a, b) })
    // identical order -> 1; exactly reversed -> -1
    val up = t((1L to 5L).map(i => (i, Double.box(i.toDouble),
      Double.box(i * 10.0))))
    assert(Eval.spearmanRho(up, "id", "a", "b").head().getDouble(2) == 1.0)
    val down = t((1L to 5L).map(i => (i, Double.box(i.toDouble),
      Double.box(-i.toDouble))))
    assert(Eval.spearmanRho(down, "id", "a", "b").head().getDouble(2) == -1.0)
    // hand case: ranks a = (0,1,2,3), b-order swaps the middle two ->
    // d = (0,1,1,0), sum_d2 = 2, rho = 1 - 12/60 = 0.8; a NULL row
    // is excluded entirely
    val hand = t(Seq(
      (1L, Double.box(1.0), Double.box(1.0)),
      (2L, Double.box(2.0), Double.box(3.0)),
      (3L, Double.box(3.0), Double.box(2.0)),
      (4L, Double.box(4.0), Double.box(4.0)),
      (5L, Double.box(9.0), null)))
    val h = Eval.spearmanRho(hand, "id", "a", "b").head()
    assert(h.getLong(0) == 4 && h.getDouble(1) == 2.0 && h.getDouble(2) == 0.8,
      h.toString)
    // fewer than two ranked rows: NULL rho, not a crash or a fake 1
    val one = Eval.spearmanRho(t(Seq((1L, Double.box(1.0), Double.box(2.0)))),
      "id", "a", "b").head()
    assert(one.getLong(0) == 1 && one.isNullAt(2))
  }

  test("kendallTauB: agrees with brute-force pair counting on random tied data") {
    val rnd = new scala.util.Random(83)
    // heavy ties on both axes — the regime tau-b's denominator exists for
    val data = (0 until 300).map(_ => (rnd.nextInt(8).toLong, rnd.nextInt(5).toLong))
    val df = table("a bigint, b bigint", data.map(t => row(t._1, t._2)))
    val got = Eval.kendallTauB(df, "a", "b").head()
    // O(n²) reference
    var c = 0L; var d = 0L; var ta = 0L; var tb = 0L
    for (i <- data.indices; j <- (i + 1) until data.length) {
      val ((a1, b1), (a2, b2)) = (data(i), data(j))
      // t_a / t_b are INDEPENDENT tie masses (a both-tied pair counts
      // in each) — the tau-b denominator's definition
      if (a1 == a2) ta += 1
      if (b1 == b2) tb += 1
      if (a1 != a2 && b1 != b2) {
        if ((a1 < a2) == (b1 < b2)) c += 1 else d += 1
      }
    }
    val t = data.length.toLong * (data.length - 1) / 2
    val expTau = BigDecimal((c - d).toDouble /
        math.sqrt((t - ta).toDouble * (t - tb).toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) == data.length.toLong, got.toString)
    assert(got.getLong(1) == c && got.getLong(2) == d, got.toString)
    assert(math.abs(got.getDouble(3) - expTau) < 2e-6, s"$got vs $expTau")
  }

  test("kendallTauB: perfect/reversed/constant-axis, NULL drop, grid guard") {
    // strictly increasing pairs, no ties: tau = 1; reversed: -1
    val up = table("a bigint, b bigint", (1L to 20L).map(i => row(i, i * 3)))
    assert(Eval.kendallTauB(up, "a", "b").head().getDouble(3) == 1.0)
    val down = table("a bigint, b bigint", (1L to 20L).map(i => row(i, -i)))
    assert(Eval.kendallTauB(down, "a", "b").head().getDouble(3) == -1.0)
    // NULL on either side: the row carries no pair at all
    val withNull = table("a bigint, b bigint",
      Seq(row(1L, 1L), row(2L, 2L), row(null, 9L), row(3L, null)))
    assert(Eval.kendallTauB(withNull, "a", "b").head().getLong(0) == 2L)
    // constant axis: tau is 0/0, reported NULL (the Cramér's V rule)
    val const = table("a bigint, b bigint", Seq(row(1L, 5L), row(1L, 7L)))
    assert(Eval.kendallTauB(const, "a", "b").head().isNullAt(3))
    // count-first grid guard: loud, names the cardinalities
    val wide = table("a bigint, b bigint",
      (1L to 40L).map(i => row(i, i % 7)))
    assert(intercept[IllegalArgumentException] {
      Eval.kendallTauB(wide, "a", "b", maxCells = 100L)
    }.getMessage.contains("cells"))
    intercept[IllegalArgumentException] { // fewer than 2 rows
      Eval.kendallTauB(table("a bigint, b bigint", Seq(row(1L, 1L))), "a", "b")
    }
    intercept[IllegalArgumentException] {
      Eval.kendallTauB(up, "a", "a")
    }
  }

  test("cohenKappa: hand-computed, NULL labels excluded, degenerate NULL, perfect 1") {
    // cells: (a,a)x4 (b,b)x3 (a,b)x2 (b,a)x1 -> n=10, agree=7,
    // rowM a=6 b=4, colM a=5 b=5, P=6*5+4*5=50
    // kappa = (10*7 - 50)/(100 - 50) = 0.4
    val rows = Seq.fill(4)(row("a", "a")) ++ Seq.fill(3)(row("b", "b")) ++
      Seq.fill(2)(row("a", "b")) ++ Seq(row("b", "a")) ++
      Seq(row(null.asInstanceOf[String], "a"), row("a", null.asInstanceOf[String]))
    val df = table("x string, y string", rows)
    val out = Eval.cohenKappa(df, "x", "y").head()
    assert(out.getLong(0) == 10L)   // NULL-labeled rows excluded
    assert(out.getLong(1) == 7L)
    assert(out.getDouble(2) == 0.4)
    // perfect agreement with >1 category -> exactly 1
    val perfect = table("x string, y string",
      Seq(row("a", "a"), row("b", "b"), row("c", "c")))
    assert(Eval.cohenKappa(perfect, "x", "y").head().getDouble(2) == 1.0)
    // both labelers constant: p_e = 1, kappa undefined -> NULL, not 0
    val constant = table("x string, y string",
      Seq(row("a", "a"), row("a", "a")))
    assert(Eval.cohenKappa(constant, "x", "y").head().isNullAt(2))
    // empty (or all-unlabeled) fails loudly
    intercept[IllegalArgumentException] {
      Eval.cohenKappa(df.filter(lit(false)), "x", "y")
    }
  }

  test("benjaminiHochberg: textbook step-up, step-up monotonicity, guards") {
    // hand-worked step-up (m=10, q=0.25): thresholds q*i/m =
    // .025 .05 .075 .1 .125 .15 .175 .2 .225 .25; the LARGEST i with
    // p_(i) <= q*i/m is 5 (.042 <= .125; every later p exceeds its
    // threshold), so ranks 1..5 reject — including .039/.041/.042,
    // which only pass via the step-up (naive per-test q/m = .025
    // would keep p1 alone)
    val ps = Seq(0.001, 0.008, 0.039, 0.041, 0.042, 0.260, 0.270,
      0.280, 0.300, 0.900)
    val df = table("id bigint, p double",
      ps.zipWithIndex.map { case (p, i) => row(i.toLong, p) })
    val got = Eval.benjaminiHochberg(df, "id", "p", q = 0.25)
      .orderBy("p_rank").collect()
      .map(r => (r.getDouble(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSeq == ps)
    assert(got.count(_._3) == 5, got.mkString(","))
    assert(got.take(5).forall(_._3) && got.drop(5).forall(!_._3))
    // contiguity invariant on random inputs: the reject set is always
    // a PREFIX of the p-ranking (never a gap)
    val rnd = new scala.util.Random(41)
    (0 until 3).foreach { trial =>
      val rdf = table("id bigint, p double",
        (0L until 60L).map(i => row(i,
          if (i % 10 == 0) rnd.nextDouble() / 500 else rnd.nextDouble())))
      val flags = Eval.benjaminiHochberg(rdf, "id", "p", q = 0.1)
        .orderBy("p_rank").collect().map(_.getBoolean(3))
      val k = flags.count(identity)
      assert(flags.take(k).forall(identity) && flags.drop(k).forall(!_),
        s"trial $trial: reject set not a prefix")
    }
    // nothing significant -> nothing rejected (cutoff 0, no crash)
    val none = table("id bigint, p double",
      (0L until 20L).map(i => row(i, 0.9 + i * 0.004)))
    assert(Eval.benjaminiHochberg(none, "id", "p", q = 0.05)
      .filter(col("rejected")).count() == 0)
    intercept[IllegalArgumentException] {
      Eval.benjaminiHochberg(df, "id", "p", q = 1.5)
    }
    intercept[IllegalArgumentException] {
      Eval.benjaminiHochberg(
        table("id bigint, p double", Seq(row(1L, 1.7))), "id", "p", 0.1)
    }
    intercept[IllegalArgumentException] {
      Eval.benjaminiHochberg(
        table("id bigint, p double", Seq(row(1L, null))), "id", "p", 0.1)
    }
  }

  test("brierEce: perfect, hedged, and confidently-wrong closed forms") {
    import graft.operators.Eval
    val perfect = table("label boolean, s double", Seq(
      row(true, 1.0), row(false, 0.0), row(true, 1.0)))
    val p = Eval.brierEce(perfect, "label", "s").head()
    assert(p.toSeq == Seq(3L, 0.0, 0.0))
    // constant 0.5 on a balanced corpus: Brier 0.25, perfectly
    // calibrated (bucket 5 claims 0.5 and realizes 0.5)
    val hedged = table("label boolean, s double", Seq(
      row(true, 0.5), row(false, 0.5), row(true, 0.5), row(false, 0.5)))
    val h = Eval.brierEce(hedged, "label", "s").head()
    assert(h.toSeq == Seq(4L, 0.25, 0.0))
    // confidently wrong: claims 0.9, realizes 0
    val wrong = table("label boolean, s double", Seq(
      row(false, 0.9), row(false, 0.9)))
    val w = Eval.brierEce(wrong, "label", "s").head()
    assert(w.toSeq == Seq(2L, 0.81, 0.9))
    // NULL scores AND NULL labels excluded (unlabeled, not negative);
    // empty is loud
    val withNull = table("label boolean, s double", Seq(
      row(true, 1.0), row(false, null), row(null, 0.95)))
    val nn = Eval.brierEce(withNull, "label", "s").head()
    assert(nn.getLong(0) == 1L && nn.getDouble(1) == 0.0)
    intercept[IllegalArgumentException] {
      Eval.brierEce(
        table("label boolean, s double", Seq(row(true, null))),
        "label", "s").head()
    }
  }

  test("brierEceByGroup == filtered ungrouped brierEce per group") {
    import graft.operators.Eval
    val scored = table("g string, label boolean, s double",
      (0 until 40).map(i => row(if (i % 2 == 0) "a" else "b",
        i % 3 == 0, (i % 10) / 10.0)))
    val grouped = Eval.brierEceByGroup(scored, "g", "label", "s").collect()
    Seq("a", "b").zipWithIndex.foreach { case (g, i) =>
      val solo = Eval.brierEce(
        scored.filter(col("g") === g), "label", "s").head()
      assert(grouped(i).getString(0) == g)
      assert(grouped(i).toSeq.drop(1) == solo.toSeq, g)
    }
  }
}
