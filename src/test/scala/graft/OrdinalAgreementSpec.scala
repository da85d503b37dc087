package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Eval}
import graft.testkit.SparkTestKit._

/** Weighted kappa / Kendall's W / RBO / vocabulary-richness
  * contracts: hand-computed closed forms and the loud validation
  * surface. (q293–q298 check the hash-derived corpora against DuckDB;
  * this pins the arithmetic.) */
class OrdinalAgreementSpec extends AnyFunSuite {

  test("weightedKappa: hand case, perfect agreement, degenerate NULL, loud") {
    // pairs (0,0)x2, (0,2), (2,0): both kappas = -1/3 by hand
    val df = table("a bigint, b bigint", Seq(
      row(0L, 0L), row(0L, 0L), row(0L, 2L), row(2L, 0L)))
    val got = Eval.weightedKappa(df, "a", "b").head()
    assert(got.getLong(0) == 4L && got.getLong(1) == 2L)
    assert(got.getDouble(2) == -0.333333 && got.getDouble(3) == -0.333333)
    val perfect = table("a bigint, b bigint",
      (0L to 4L).map(i => row(i, i)))
    val p = Eval.weightedKappa(perfect, "a", "b").head()
    assert(p.getDouble(2) == 1.0 && p.getDouble(3) == 1.0)
    // both raters constant at one level: chance disagreement 0 -> NULL
    val const = table("a bigint, b bigint", Seq(row(3L, 3L), row(3L, 3L)))
    val c = Eval.weightedKappa(const, "a", "b").head()
    assert(c.isNullAt(2) && c.isNullAt(3))
    val frac = table("a double, b double", Seq(row(1.5, 1.0)))
    val e = intercept[Exception] {
      Eval.weightedKappa(frac, "a", "b").head()
    }
    assert(e.getMessage.contains("non-negative integer"))
  }

  test("kendallW: perfect concordance 1, opposed raters 0, loud guards") {
    val items = Seq("i1", "i2", "i3", "i4")
    val perfect = table("it string, r string, s double",
      for { r <- Seq("ra", "rb", "rc"); (it, i) <- items.zipWithIndex }
        yield row(it, r, i.toDouble))
    assert(Eval.kendallW(perfect, "it", "r", "s").head().toSeq ==
      Seq(4L, 3L, 1.0))
    // two raters in exactly opposite order: every rank sum equal -> 0
    val opposed = table("it string, r string, s double",
      items.zipWithIndex.flatMap { case (it, i) =>
        Seq(row(it, "ra", i.toDouble), row(it, "rb", (3 - i).toDouble)) })
    assert(Eval.kendallW(opposed, "it", "r", "s").head().getDouble(2) == 0.0)
    val incomplete = table("it string, r string, s double", Seq(
      row("i1", "ra", 1.0), row("i2", "ra", 2.0), row("i1", "rb", 1.0)))
    val e1 = intercept[IllegalArgumentException] {
      Eval.kendallW(incomplete, "it", "r", "s").head()
    }
    assert(e1.getMessage.contains("incomplete panel"))
    val dup = table("it string, r string, s double", Seq(
      row("i1", "ra", 1.0), row("i1", "ra", 2.0),
      row("i2", "ra", 2.0), row("i1", "rb", 1.0), row("i2", "rb", 2.0)))
    val e2 = intercept[Exception] {
      Eval.kendallW(dup, "it", "r", "s").head()
    }
    assert(e2.getMessage.contains("one score per"))
  }

  test("vocabRichness: hand-computed Chao1, no-doubleton correction, fold") {
    val docs = table("text string", Seq(row("a a b c")))
    val got = Corpus.vocabRichness(docs, "text").head()
    assert(got.toSeq == Seq(4L, 3L, 2L, 1L, 5.0, 0.5))
    val noF2 = table("text string", Seq(row("a a a b c")))
    val g2 = Corpus.vocabRichness(noF2, "text").head()
    assert(g2.toSeq == Seq(5L, 3L, 2L, 0L, 4.0, 0.4))
    val parts = table("text string", Seq(row("a a"), row("b c")))
    val folded = Corpus.vocabRichnessFromFrequencies(
      Corpus.foldTokenFrequencies(
        Corpus.tokenFrequencies(parts.limit(1), "text"),
        Corpus.tokenFrequencies(parts.filter(col("text") === "b c"), "text")))
      .head()
    assert(folded.toSeq == got.toSeq)
  }

  test("rankBiasedOverlap: identical rankings near 1, disjoint tops 0") {
    val n = 100
    val df = table("id bigint, sa double, sb double",
      (0 until n).map(i => row(i.toLong, i.toDouble, i.toDouble)))
    val same = Eval.rankBiasedOverlap(df, "id", "sa", "sb",
      depth = 50, p = 0.9).head()
    assert(same.getLong(3) == 50L)
    assert(math.abs(same.getDouble(4) - (1.0 - math.pow(0.9, 50))) < 2e-6,
      same.toSeq.toString)
    // opposite rankings over 100 items: the two top-50 sets are
    // exactly complementary, every prefix to depth 50 is disjoint
    val rev = table("id bigint, sa double, sb double",
      (0 until n).map(i => row(i.toLong, i.toDouble, (n - i).toDouble)))
    val r = Eval.rankBiasedOverlap(rev, "id", "sa", "sb",
      depth = 50, p = 0.9).head()
    assert(r.getLong(3) == 0L && r.getDouble(4) == 0.0)
    // NULL ids drop before ranking; duplicate ids are loud
    val withNull = table("id bigint, sa double, sb double",
      Seq(row(null, 99.0, 99.0), row(1L, 2.0, 2.0), row(2L, 1.0, 1.0)))
    val wn = Eval.rankBiasedOverlap(withNull, "id", "sa", "sb",
      depth = 2, p = 0.9).head()
    assert(wn.getLong(0) == 2L && wn.getLong(3) == 2L)
    val dup = table("id bigint, sa double, sb double",
      Seq(row(1L, 1.0, 1.0), row(1L, 2.0, 2.0)))
    val e = intercept[IllegalArgumentException] {
      Eval.rankBiasedOverlap(dup, "id", "sa", "sb").head()
    }
    assert(e.getMessage.contains("duplicate id"))
    intercept[IllegalArgumentException] {
      Eval.rankBiasedOverlap(df, "id", "sa", "sb", depth = 0)
    }
    intercept[IllegalArgumentException] {
      Eval.rankBiasedOverlap(df, "id", "sa", "sb", p = 1.0)
    }
  }

  test("rankBiasedOverlap: leaves no checkpoint registered") {
    val df = table("id bigint, sa double, sb double",
      (0 until 20).map(i => row(i.toLong, i.toDouble, (i % 7).toDouble)))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Eval.rankBiasedOverlap(df, "id", "sa", "sb", depth = 5).head()
    assert(got.getLong(0) == 20L)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"rankBiasedOverlap left persisted RDDs $left")
  }

  test("cohenKappaByGroup == filtered ungrouped; NULL group kept") {
    val df = table("g string, a string, b string", Seq(
      row("x", "l1", "l1"), row("x", "l1", "l2"), row("x", "l2", "l2"),
      row("x", "l2", "l1"),
      row("y", "l1", "l1"), row("y", "l1", "l1"), row("y", "l2", "l2"),
      row(null, "l1", "l1"), row(null, "l1", "l2")))
    val grouped = Eval.cohenKappaByGroup(df, "g", "a", "b").collect()
    assert(grouped.length == 3 && grouped.exists(_.isNullAt(0)))
    Seq("x", "y").foreach { g =>
      val solo = Eval.cohenKappa(df.filter(col("g") === g), "a", "b").head()
      val mine = grouped.find(r => !r.isNullAt(0) && r.getString(0) == g).get
      assert(mine.getLong(1) == solo.getLong(0), g)
      assert(mine.getLong(2) == solo.getLong(1), g)
      if (solo.isNullAt(2)) assert(mine.isNullAt(3), g)
      else assert(mine.getDouble(3) == solo.getDouble(2), g)
    }
    // constant slice: chance agreement 1 -> NULL kappa
    val const = table("g string, a string, b string", Seq(
      row("c", "k", "k"), row("c", "k", "k")))
    assert(Eval.cohenKappaByGroup(const, "g", "a", "b").head().isNullAt(3))
  }

  test("vocabRichnessByGroup == filtered ungrouped, and the fold preserves it") {
    val docs = table("g string, text string", Seq(
      row("de", "a a b c"), row("de", "d"), row("zh", "x y y")))
    val grouped = Corpus.vocabRichnessByGroup(docs, "g", "text").collect()
    Seq("de", "zh").zipWithIndex.foreach { case (g, i) =>
      val solo = Corpus.vocabRichness(
        docs.filter(col("g") === g), "text").head()
      assert(grouped(i).getString(0) == g)
      assert(grouped(i).toSeq.drop(1) == solo.toSeq, g)
    }
    val folded = Corpus.vocabRichnessByGroupFromFrequencies(
      Corpus.foldGroupTokenFrequencies(
        Corpus.groupTokenFrequencies(
          docs.filter(col("text") =!= "d"), "g", "text"),
        Corpus.groupTokenFrequencies(
          docs.filter(col("text") === "d"), "g", "text")),
      "g").collect()
    assert(folded.map(_.toSeq).toSeq == grouped.map(_.toSeq).toSeq)
  }
}
