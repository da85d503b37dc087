package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Corpus
import graft.testkit.SparkTestKit._

/** Unigram-LM (SentencePiece-style) tokenizer: hand-computed Viterbi
  * lattices, the exact tie rule, deterministic hard-EM training, and
  * the artifact roundtrip (SURVEY.md §2.8). */
class UnigramSpec extends AnyFunSuite {

  private def enc(model: Corpus.UnigramModel, text: String): Seq[String] = {
    val df = table("text string", Seq(row(text)))
    Corpus.unigramEncode(df, "text", model)
      .head().getSeq[String](1).toSeq
  }

  test("unigramEncode: hand-computed lattice picks the max-probability path") {
    // vocab: a(10), b(5), ab(20); smoothed total = 11+6+21 = 38
    // ln(21/38) ≈ -0.593 beats ln(11/38)+ln(6/38) ≈ -3.086 per 'ab'
    val m = Corpus.UnigramModel(Vector(("a", 10L), ("ab", 20L), ("b", 5L)))
    assert(enc(m, "abab") == Seq("ab", "ab"))
    assert(enc(m, "aba") == Seq("ab", "a"))
    // 'ba' is not a token: forced through the single-char lattice
    assert(enc(m, "ba") == Seq("b", "a"))
    // unseen characters fall back to themselves (zero-count add-one
    // score), nothing dropped
    assert(enc(m, "xy ab") == Seq("x", "y", "ab"))
  }

  test("unigramEncode: exact score ties break to the longer token") {
    // symmetric counts make lp(ab)+lp(c) EXACTLY equal lp(a)+lp(bc)
    // (identical fixed-point addends) — the (score, len) struct max
    // must pick the longer final token, i.e. [a, bc]
    val m = Corpus.UnigramModel(Vector(
      ("a", 2L), ("ab", 5L), ("b", 2L), ("bc", 5L), ("c", 2L)))
    assert(enc(m, "abc") == Seq("a", "bc"))
  }

  test("unigramEncode: guards — overlong word is loud, empty text is empty") {
    val m = Corpus.UnigramModel(Vector(("a", 1L)))
    val e = intercept[IllegalArgumentException] {
      Corpus.unigramEncode(
        table("text string", Seq(row("a" * 65))), "text", m).collect()
    }
    assert(e.getMessage.contains("maxWordLen"))
    val out = Corpus.unigramEncode(
      table("text string", Seq(row("  "), row(null.asInstanceOf[String]))),
      "text", m).collect()
    assert(out.forall(r => r.isNullAt(1) || r.getSeq[String](1).isEmpty))
  }

  test("unigramTrainModel: hand-computed hard-EM round, pruning, ranks") {
    // words: ab×3, abab×2, cd×1 — seed counts: a=7 b=7 c=1 d=1,
    // ab=7, abab=2, aba=2, bab=2, ba=2, cd=1
    val df = table("text string", Seq(
      row("ab ab ab"), row("abab abab"), row("cd")))
    val model = Corpus.unigramTrainModel(df, "text",
      vocabSize = 6, maxTokenLen = 4, seedSize = 10, iters = 1)
    // EM round: 'ab'->[ab], 'abab'->[abab], 'cd'->[cd]; zero-count
    // multis (ba, aba, bab) pruned; vocabSize 6 = 4 singles + top-2
    // multis by count -> cd (count 1) is pruned at the final cut
    assert(model.entries.map(_._1) ==
      Vector("a", "ab", "abab", "b", "c", "d"))
    assert(model.entries.toMap == Map(
      "a" -> 0L, "b" -> 0L, "c" -> 0L, "d" -> 0L,
      "ab" -> 3L, "abab" -> 2L))
    val frame = Corpus.unigramVocabFrame(df.sparkSession, model)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // ranks by (freq desc, token); logp over smoothed total 11
    assert(frame.toSeq == Seq(
      (1L, "ab", 3L, -1.011601), (2L, "abab", 2L, -1.299283),
      (3L, "a", 0L, -2.397895), (4L, "b", 0L, -2.397895),
      (5L, "c", 0L, -2.397895), (6L, "d", 0L, -2.397895)))
    // vocabSize 7 keeps cd as well
    val m7 = Corpus.unigramTrainModel(df, "text",
      vocabSize = 7, maxTokenLen = 4, seedSize = 10, iters = 1)
    assert(m7.entries.map(_._1).contains("cd"))
    // deterministic: retrain is bit-identical
    val again = Corpus.unigramTrainModel(df, "text",
      vocabSize = 6, maxTokenLen = 4, seedSize = 10, iters = 1)
    assert(again.entries == model.entries)
  }

  test("unigramTrainModel: coverage invariant and overlong-word filter") {
    val df = table("text string", Seq(
      row("hello world"), row("hello spark"), row("w" * 20)))
    val model = Corpus.unigramTrainModel(df, "text",
      vocabSize = 12, maxTokenLen = 4, seedSize = 64, iters = 2,
      maxWordLen = 16)
    // every character of every RETAINED training word is a token
    val chars = Seq("hello", "world", "spark").flatMap(_.toSeq).distinct
    chars.foreach { c =>
      assert(model.entries.exists(_._1 == c.toString), s"missing char $c")
    }
    // encoding the training corpus reconstructs each word exactly
    val out = Corpus.unigramEncode(
      table("text string", Seq(row("hello world spark"))), "text", model)
      .head().getSeq[String](1)
    assert(out.mkString == "helloworldspark")
    // guards are loud
    intercept[IllegalArgumentException] {
      Corpus.unigramTrainModel(df, "text", vocabSize = 1)
    }
    intercept[IllegalArgumentException] {
      Corpus.unigramTrainModel(df, "text", vocabSize = 8, seedSize = 5000)
    }
  }

  test("unigram model: save/load roundtrip is bit-identical") {
    val df = table("text string", Seq(row("ab ab ab"), row("abab abab")))
    val model = Corpus.unigramTrainModel(df, "text",
      vocabSize = 5, maxTokenLen = 4, seedSize = 10, iters = 2)
    val dir = tempDir("unigram_model") + "/m"
    Corpus.unigramSave(df.sparkSession, model, dir)
    val loaded = Corpus.unigramLoad(df.sparkSession, dir)
    assert(loaded.entries == model.entries)
    assert(enc(loaded, "ababab ab") == enc(model, "ababab ab"))
  }
}
