package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Classify
import graft.testkit.SparkTestKit._

/** Multinomial Naive Bayes train/score/persist (SURVEY.md §2.8). */
class ClassifySpec extends AnyFunSuite {

  // pos: "spam spam ham"; neg: "eggs ham". alpha=1:
  //   cpos: spam 2, ham 1, eggs 0; cneg: spam 0, ham 1, eggs 1
  //   totPos 3, totNeg 2, V 3; prior = ln(1/1) = 0
  private def trained() = {
    val docs = table("id bigint, text string, label boolean", Seq(
      row(1L, "spam spam ham", true),
      row(2L, "eggs ham", false)))
    Classify.trainNaiveBayes(docs, "text", "label")
  }

  test("trainNaiveBayes: hand-computed conditionals, prior, floors") {
    val m = trained()
    val vocab = m.vocab.orderBy("token").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    val eps = 1e-12
    def close(a: Double, b: Double) = math.abs(a - b) < eps
    assert(vocab.map(_._1) == Seq("eggs", "ham", "spam"))
    assert(close(vocab(0)._2, math.log(1.0 / 6.0)) &&
      close(vocab(0)._3, math.log(2.0 / 5.0)))
    assert(close(vocab(1)._2, math.log(2.0 / 6.0)) &&
      close(vocab(1)._3, math.log(2.0 / 5.0)))
    assert(close(vocab(2)._2, math.log(3.0 / 6.0)) &&
      close(vocab(2)._3, math.log(1.0 / 5.0)))
    assert(m.priorLogOdds == 0.0)
    assert(close(m.floorPos, math.log(1.0 / 6.0)))
    assert(close(m.floorNeg, math.log(1.0 / 5.0)))
  }

  test("scoreNaiveBayes: hand-computed log-odds, OOV floor, empty-token prior") {
    val m = trained()
    val apply = table("id bigint, text string", Seq(
      row(10L, "spam eggs"),   // ln(2.5) + ln(5/12) = ln(25/24) > 0
      row(11L, "eggs eggs"),   // 2 * ln(5/12) < 0
      row(12L, "zzz"),         // OOV -> floor delta = ln(5/6) < 0
      row(13L, "")))           // token "" is OOV too -> same floor delta
    val got = Classify.scoreNaiveBayes(apply, "id", "text", m)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    val eps = 1e-12
    assert(got.map(_._1) == Seq(10L, 11L, 12L, 13L))
    assert(math.abs(got(0)._2 - math.log(25.0 / 24.0)) < eps && got(0)._3)
    assert(math.abs(got(1)._2 - 2.0 * (math.log(1.0 / 6.0) - math.log(2.0 / 5.0))) < eps
      && !got(1)._3)
    val floorDelta = math.log(1.0 / 6.0) - math.log(1.0 / 5.0)
    assert(math.abs(got(2)._2 - floorDelta) < eps && !got(2)._3)
    assert(math.abs(got(3)._2 - floorDelta) < eps && !got(3)._3)
  }

  test("trainNaiveBayes rejects a single-class corpus loudly") {
    val docs = table("id bigint, text string, label boolean", Seq(
      row(1L, "a b", true), row(2L, "c d", true)))
    val e = intercept[IllegalArgumentException] {
      Classify.trainNaiveBayes(docs, "text", "label")
    }
    assert(e.getMessage.contains("both classes"))
  }

  test("save/load roundtrips bit-identically; corrupted meta fails loudly") {
    val m = trained()
    val dir = tempDir("graft-nb")
    Classify.save(m, dir)
    val spark = m.vocab.sparkSession
    val loaded = Classify.load(spark, dir)
    assert(loaded.priorLogOdds == m.priorLogOdds &&
      loaded.floorPos == m.floorPos && loaded.floorNeg == m.floorNeg)
    val apply = table("id bigint, text string", Seq(
      row(10L, "spam eggs"), row(11L, "zzz ham spam")))
    val a = Classify.scoreNaiveBayes(apply, "id", "text", m)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Classify.scoreNaiveBayes(apply, "id", "text", loaded)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b) // bit-identical, not approximately equal
    // two meta rows = corrupted artifact (stamped — row corruption is
    // what this test pins, not the version gate)
    spark.range(2).select(lit(0.0).as("prior_log_odds"),
        lit(0.0).as("floor_pos"), lit(0.0).as("floor_neg"),
        lit(1).as("format_version"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException] {
      Classify.load(spark, dir)
    }
    assert(e.getMessage.contains("corrupted"))
  }

  test("multiclass NB: separable classes recovered, floors, tie rule, validation") {
    val train = table("id bigint, text string, cls string", Seq(
      row(1L, "red red apple", "fruit"), row(2L, "green apple pie", "fruit"),
      row(3L, "steel blue truck", "vehicle"), row(4L, "red truck wheel", "vehicle"),
      row(5L, "daisy petal bloom", "flower"), row(6L, "rose petal red", "flower")))
    val model = Classify.trainMultinomialNB(train, "text", "cls")
    // vocab grid is DENSE: every (token, class) row exists
    val vocabRows = model.vocab.count()
    val vTokens = model.vocab.select("token").distinct().count()
    assert(vocabRows == vTokens * 3, s"$vocabRows rows for $vTokens tokens")
    val test = table("id bigint, text string", Seq(
      row(10L, "apple pie"),            // fruit tokens only
      row(11L, "truck wheel steel"),    // vehicle tokens only
      row(12L, "petal bloom"),          // flower tokens only
      row(13L, "zzz qqq"),              // all unseen -> prior+floor argmax
      row(14L, "")))                    // empty -> prior-only argmax
    val got = Classify.scoreMultinomialNB(test, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(10L) == "fruit" && got(11L) == "vehicle" && got(12L) == "flower")
    // uniform priors + equal class token totals -> scores tie on both
    // degenerate docs; the tie must break to the SMALLEST class name
    assert(got(13L) == "flower" && got(14L) == "flower")
    // validation: single class and NULL labels rejected loudly
    assert(intercept[IllegalArgumentException] {
      Classify.trainMultinomialNB(train.filter(col("cls") === "fruit"),
        "text", "cls")
    }.getMessage.contains("classes"))
    assert(intercept[IllegalArgumentException] {
      Classify.trainMultinomialNB(
        train.withColumn("cls",
          when(col("id") === 1L, lit(null)).otherwise(col("cls"))),
        "text", "cls")
    }.getMessage.contains("NULL label"))
    // a class whose every doc tokenizes to zero tokens (NULL text —
    // the whitespace tokenizer maps even "" to one empty token, but
    // explode drops NULL arrays) must fail loudly, not silently vanish
    // from the model (it would otherwise drop out of classTotals ->
    // never predictable, prior mass gone)
    val withEmpty = train.unionByName(table(
      "id bigint, text string, cls string",
      Seq(row(7L, null.asInstanceOf[String], "ghost"),
        row(8L, null.asInstanceOf[String], "ghost"))))
    val ge = intercept[IllegalArgumentException] {
      Classify.trainMultinomialNB(withEmpty, "text", "cls")
    }
    assert(ge.getMessage.contains("ghost") &&
      ge.getMessage.contains("no tokens"), ge.getMessage)
  }

  test("labelErrorScreen: planted flip flagged, honest labels not, fold validation") {
    // 20 cleanly separable docs ("up up up" TRUE / "down down down"
    // FALSE) + ONE label flip (id 0). Out-of-fold NB must confidently
    // disagree with exactly the flip.
    val rows = (0L until 20L).map { i =>
      val pos = i % 2 == 0
      val text = if (pos) "up up up market rally" else "down down down market crash"
      val label = if (i == 0L) !pos else pos  // plant one flip at id 0
      row(i, text, label, (i % 2).toInt)      // folds split pos/neg...
    }
    // folds must mix classes: use i < 10 as fold instead
    val df = table("id bigint, text string, lbl boolean, f int",
        rows.map { r => r })
      .withColumn("f", (col("id") % 4 < 2).cast("int"))
    val out = Classify.labelErrorScreen(df, "id", "text", "lbl", "f",
        margin = 1.0)
      .collect().map(r => (r.getLong(0), r.getBoolean(4))).toMap
    assert(out(0L), "the planted flip must be flagged")
    assert(out.count(_._2) == 1, s"only the flip should be flagged: " +
      out.filter(_._2).keys.toSeq.sorted.mkString(","))
    // every doc comes back exactly once
    assert(out.size == 20)
    // fold validation: single fold and NULL folds rejected loudly
    assert(intercept[IllegalArgumentException] {
      Classify.labelErrorScreen(df.withColumn("f", lit(1)),
        "id", "text", "lbl", "f", 1.0)
    }.getMessage.contains("folds"))
    assert(intercept[IllegalArgumentException] {
      Classify.labelErrorScreen(
        df.withColumn("f", when(col("id") === 3L, lit(null)).otherwise(col("f"))),
        "id", "text", "lbl", "f", 1.0)
    }.getMessage.contains("NULL fold"))
    // an accidentally high-cardinality fold column (here: the id
    // column, 20 distinct) trips the 2..16 bound — and does so off a
    // limit(17)-bounded driver read, never the full distinct set
    assert(intercept[IllegalArgumentException] {
      Classify.labelErrorScreen(df, "id", "text", "lbl", "id", 1.0)
    }.getMessage.contains("folds"))
  }

  test("trainLogistic: hand-computed Newton steps on the symmetric pair") {
    // (x=1, y=1), (x=-1, y=0); beta starts (0,0), mu = 0.5 exactly:
    //   g = (0, 1), H = [[0.5, 0], [0, 0.5]] -> beta1 = (0, 2)
    val df = table("x double, y boolean", Seq(
      row(1.0, true), row(-1.0, false)))
    val m1 = Classify.trainLogistic(df, Seq("x"), "y", iters = 1)
    assert(m1.beta == Vector(0.0, 2.0))
    // second step: mu(2) = 1/(1+e^-2); g_x = 2(1-mu); h_xx = 2w ->
    // delta = (1-mu)/w = 1.135335...; intercept stays exactly 0 by
    // symmetry (g_0 = 0 at every step)
    val m2 = Classify.trainLogistic(df, Seq("x"), "y", iters = 2)
    assert(m2.beta(0) == 0.0)
    assert(m2.beta(1) > 3.13 && m2.beta(1) < 3.14, m2.beta.toString)
    // scoring is the plain linear form; NULL features read NULL
    val scored = Classify.scoreLogistic(
      table("x double", Seq(row(1.0), row(-1.0),
        row(null.asInstanceOf[java.lang.Double]))), Seq("x"), m1)
      .collect()
    assert(scored(0).getDouble(1) == 2.0 && scored(0).getBoolean(2))
    assert(scored(1).getDouble(1) == -2.0 && !scored(1).getBoolean(2))
    assert(scored(2).isNullAt(1) && scored(2).isNullAt(2))
  }

  test("trainLogistic: loud guards — arity, classes, collinear Hessian") {
    val df = table("x double, y boolean", Seq(
      row(1.0, true), row(2.0, false), row(3.0, true)))
    intercept[IllegalArgumentException] {
      Classify.trainLogistic(df, Seq.empty, "y")
    }
    intercept[IllegalArgumentException] {
      Classify.trainLogistic(df,
        Seq("a", "b", "c", "d", "e", "f", "g"), "y")
    }
    intercept[IllegalArgumentException] {
      Classify.trainLogistic(df, Seq("x", "x"), "y")
    }
    val oneClass = table("x double, y boolean", Seq(
      row(1.0, true), row(2.0, true)))
    assert(intercept[IllegalArgumentException] {
      Classify.trainLogistic(oneClass, Seq("x"), "y")
    }.getMessage.contains("both classes"))
    // exactly collinear duplicate feature -> singular Hessian, loud
    val dup = table("x double, x2 double, y boolean", Seq(
      row(1.0, 1.0, true), row(2.0, 2.0, false), row(3.0, 3.0, true)))
    assert(intercept[IllegalArgumentException] {
      Classify.trainLogistic(dup, Seq("x", "x2"), "y")
    }.getMessage.contains("singular Hessian"))
  }

  test("logistic model: save/load roundtrip is bit-identical, corruption loud") {
    val df = table("x double, y boolean", Seq(
      row(1.0, true), row(-1.0, false), row(2.0, true), row(-2.0, false)))
    val model = Classify.trainLogistic(df, Seq("x"), "y", iters = 2)
    val dir = tempDir("logistic_model") + "/m"
    Classify.saveLogistic(df.sparkSession, model, dir)
    val loaded = Classify.loadLogistic(df.sparkSession, dir)
    assert(loaded.beta == model.beta)
    // a gap in the index space fails loudly
    val broken = tempDir("logistic_broken") + "/m"
    Classify.saveLogistic(df.sparkSession,
      Classify.LogisticModel(Vector(1.0, 2.0, 3.0)), broken)
    val spark = df.sparkSession
    graft.operators.ArtifactFormat.stamp(
        spark.range(1).select(lit(0).as("idx"), lit(1.0).as("beta"))
          .union(spark.range(1).select(lit(2).as("idx"), lit(3.0).as("beta"))))
      .coalesce(1).write.mode("overwrite").parquet(broken)
    assert(intercept[IllegalArgumentException] {
      Classify.loadLogistic(spark, broken)
    }.getMessage.contains("not contiguous"))
  }

  test("trainLogistic agrees with NB orientation on a separable fixture") {
    // long docs are positive, short docs negative — both the token
    // gate (NB over words) and the linear gate (over token count)
    // must point the same way on every doc
    val rows = (0 until 30).map { i =>
      val pos = i % 2 == 0
      val text = if (pos) "alpha beta gamma delta epsilon zeta"
        else "alpha beta"
      row(i.toLong, text, pos)
    }
    val docs = table("id bigint, text string, label boolean", rows)
      .withColumn("n_tok",
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("double") / 10.0)
    val nb = Classify.trainNaiveBayes(docs, "text", "label")
    val nbPred = Classify.scoreNaiveBayes(docs, "id", "text", nb)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val lr = Classify.trainLogistic(docs, Seq("n_tok"), "label", iters = 3)
    val lrPred = Classify.scoreLogistic(docs, Seq("n_tok"), lr)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.length - 1)).toMap
    (0 until 30).foreach { i =>
      assert(nbPred(i.toLong) == lrPred(i.toLong), s"doc $i disagrees")
      assert(lrPred(i.toLong) == (i % 2 == 0), s"doc $i misclassified")
    }
  }
}
