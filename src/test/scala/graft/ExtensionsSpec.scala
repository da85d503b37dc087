package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.testkit.SparkTestKit._

class ExtensionsSpec extends AnyFunSuite {

  private def docs = table("doc_id bigint, text string", Seq(
    row(1L, "the quick brown fox jumps over the lazy dog"),
    row(2L, "the quick brown fox jumps over the lazy cat"),
    row(3L, "completely different words appear in this one here"),
    row(4L, "The quick  brown fox jumps over the lazy dog!"), // normalizes to #1
    row(5L, "le chat et le chien et la maison")))

  test("normalize + fingerprint: case/punct/space-insensitive") {
    val fps = docs.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(4L))
    assert(fps(1L) != fps(2L))
  }

  test("exact dedup keeps lowest id per fingerprint") {
    val out = Dedup.exactTextDedup(docs, "text", "doc_id")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L))
  }

  test("dedupSavingsReport: size profile, min-id retention, singleton reconcile") {
    val d = table("doc_id bigint, w bigint", Seq(
      row(1L, 10L), row(2L, 20L), row(3L, 30L),
      row(4L, 5L), row(5L, 7L), row(6L, 100L)))
    val pairs = table("id_a bigint, id_b bigint", Seq(
      row(1L, 2L), row(2L, 3L), row(4L, 5L)))
    val got = Dedup.dedupSavingsReport(d, "doc_id", "w", pairs)
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // {1,2,3}: total 60, rep w(1)=10 -> 50 removable; {4,5}: 12, rep 5
    // -> 7; {6}: singleton, 0 removable
    assert(got == Seq(
      (1L, 1L, 1L, 100L, 0L),
      (2L, 1L, 2L, 12L, 7L),
      (3L, 1L, 3L, 60L, 50L)), got.toString)
    // totals reconcile against the corpus
    assert(got.map(_._3).sum == 6L && got.map(_._4).sum == 172L)
  }

  test("trimSilence: edges trimmed, interior silence kept, degenerate payloads") {
    def hx(s: String) = s.getBytes("UTF-8").map(b => f"$b%02X").mkString
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val media = table("media_id bigint, s string", Seq(
        row(1L, "....ab.d...."), // trim both edges, KEEP interior dots
        row(2L, "abcd"),         // nothing to trim
        row(3L, "........"),     // all silent -> NULL bounds, empty trim
        row(4L, ""),             // empty -> 0 frames, NULL bounds
        row(5L, "....ab"),       // partial active tail frame
        row(6L, "ab....")))      // trailing full + partial silent frames
      .select(col("media_id"), col("s").cast("binary").as("payload"))
    val got = Multimodal.trimSilence(media, frameBytes = 4, silentByte = '.')
      .orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        r.getString(4))).toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 1L, md5s(hx("ab.d"))),
      (2L, 1L, 0L, 0L, md5s(hx("abcd"))),
      (3L, 2L, null, null, md5s("")),
      (4L, 0L, null, null, md5s("")),
      (5L, 2L, 1L, 1L, md5s(hx("ab"))),
      (6L, 2L, 0L, 0L, md5s(hx("ab..")))), got.toString)
    intercept[IllegalArgumentException] {
      Multimodal.trimSilence(media, frameBytes = 0)
    }
  }

  test("lshPlan: q14's banding is its own optimum; threshold slides rows; validation") {
    // 64 hashes at t=0.5: (16 bands, 4 rows) has curve threshold
    // (1/16)^(1/4) = 0.5 EXACTLY — the planner must find it (and q14's
    // hand-picked 16x4 is therefore the planner's own answer).
    val p = Dedup.lshPlan(64, 0.5)
    assert((p.bands, p.rows) == ((16, 4)), p.toString)
    assert(math.abs(p.curveThreshold - 0.5) < 1e-12)
    // higher thresholds need steeper curves: rows monotonically
    // non-decreasing in t for fixed hash budget
    val rows = Seq(0.2, 0.4, 0.6, 0.8, 0.95).map(Dedup.lshPlan(64, _).rows)
    assert(rows == rows.sorted, rows.toString)
    // the chosen plan beats (or ties) every other divisor split
    val best = Dedup.lshPlan(128, 0.7)
    (1 to 128).filter(128 % _ == 0).foreach { r =>
      val b = 128 / r
      var fp = 0.0; var fn = 0.0
      (0 until 4096).foreach { i =>
        val s = (i + 0.5) / 4096
        val pr = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        if (s < 0.7) fp += pr else fn += 1.0 - pr
      }
      assert(best.errorArea <= (fp + fn) / 4096 + 1e-15, s"r=$r")
    }
    intercept[IllegalArgumentException] { Dedup.lshPlan(0, 0.5) }
    intercept[IllegalArgumentException] { Dedup.lshPlan(64, 1.0) }
    // a non-default threshold picks a DIFFERENT plan with strictly
    // lower error than the t=0.5 default layout would have there
    val p9 = Dedup.lshPlan(64, 0.9)
    assert((p9.bands, p9.rows) != ((16, 4)), p9.toString)
    var fp16 = 0.0; var fn16 = 0.0
    (0 until 4096).foreach { i =>
      val s = (i + 0.5) / 4096
      val pr = 1.0 - math.pow(1.0 - math.pow(s, 4.0), 16.0)
      if (s < 0.9) fp16 += pr else fn16 += 1.0 - pr
    }
    assert(p9.errorArea < (fp16 + fn16) / 4096, p9.toString)
  }

  test("minHash banding defaults to the lshPlan optimum (bands=0 sentinel)") {
    val df = table("doc_id bigint, text string", Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text with no shared shingles at all"),
      (4L, "another unrelated document about spark catalyst planning"))
      .map(t => row(t._1, t._2)))
    // at (64 hashes, t=0.5) the optimum IS 16x4, so the defaulted call
    // must equal the historical explicit layout exactly
    val auto = Dedup.minHashNearDupPairs(df, "doc_id", "text").collect()
    val explicit = Dedup.minHashNearDupPairs(df, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5).collect()
    assert(auto.toSeq == explicit.toSeq)
    assert(auto.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // an explicit non-divisor band count still fails loudly
    intercept[IllegalArgumentException] {
      Dedup.minHashNearDupPairs(df, "doc_id", "text", bands = 7)
    }
  }

  test("entropy bits: uniform/degenerate/empty/null hand-computed") {
    val d = table("doc_id bigint, text string", Seq(
      row(1L, "w x y z"),   // 4 uniform tokens -> exactly 2 bits
      row(2L, "w w w w"),   // degenerate -> 0 bits
      row(3L, "a a b b"),   // tokens: 1 bit; chars a2 b2 sp3 over 7
      row(4L, ""),          // empty -> 0, no NaN
      row(5L, null)))       // null -> 0
    val got = d.select(col("doc_id"),
        TextFunctions.tokenEntropyBits(col("text")).as("te"),
        TextFunctions.charEntropyBits(col("text")).as("ce"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got(0)._2 == 2.0 && got(1)._2 == 0.0, got.toString)
    assert(got(3) == ((4L, 0.0, 0.0)) && got(4) == ((5L, 0.0, 0.0)),
      got.toString)
    assert(math.abs(got(2)._2 - 1.0) < 1e-12, got(2).toString)
    def h(ps: Seq[Double]) = -ps.map(p => p * math.log(p) / math.log(2)).sum
    assert(math.abs(got(2)._3 - h(Seq(2.0 / 7, 2.0 / 7, 3.0 / 7))) < 1e-9,
      got(2).toString)
  }

  test("truncationDupIds: proper prefixes flagged; duplicate-text trap; chain") {
    // 1/2 share a text that is extended by 3 — in RAW sort order the
    // equal copy sits between the text and its extension, which is
    // exactly the adjacency trap the distinct-first step exists for:
    // both copies must flag. 3/4 are equal with no extension (exact
    // dups, not truncation dups). 5 heads a prefix CHAIN
    // ("alp" < "alpha beta" < "alpha beta gamma").
    val d = table("doc_id bigint, text string", Seq(
      row(1L, "alpha beta"),
      row(2L, "alpha beta"),
      row(3L, "alpha beta gamma"),
      row(4L, "alpha beta gamma"),
      row(5L, "alp"),
      row(6L, "zzz unrelated")))
    val got = Dedup.truncationDupIds(d, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 5L), got.toString)
  }

  test("incremental dedup: unseen-in-ledger AND first-in-shard survive") {
    // ledger holds the fingerprint of doc 1's text (normalized); the
    // incoming shard carries: a ledger dup (4 normalizes to 1), an
    // in-shard dup pair (2a/2b), and a fresh doc.
    val ledger = table("t string", Seq(row("the quick brown fox")))
      .select(TextFunctions.fingerprint(col("t")).as("fp"))
    val incoming = table("doc_id bigint, text string", Seq(
      row(4L, "The quick  brown FOX!"),        // normalizes into the ledger
      row(5L, "a brand new document"),          // in-shard dup, min id wins
      row(6L, "a brand new document"),
      row(7L, "another fresh one")))
    val kept = Dedup.incrementalExactDedup(incoming, "text", "doc_id",
      ledger, "fp").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(5L, 7L))
  }

  test("incrementalKeyDedup: generic key twin — ledger misses, in-shard mins, NULL keys") {
    val ledger = table("k string", Seq(row("http://a.com/x"), row("zzz")))
    val incoming = table("id bigint, url string", Seq(
      row(4L, "http://a.com/x"),   // in the ledger: dropped
      row(5L, "http://b.com/y"),   // in-shard dup, min id wins
      row(6L, "http://b.com/y"),
      row(7L, "http://c.com/z"),
      row(8L, null),               // NULL never matches the ledger:
      row(9L, null)))              // kept, collapsed to one winner
    val kept = Dedup.incrementalKeyDedup(incoming, "url", "id",
        ledger, "k").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(5L, 7L, 8L))
    // two-shard ingest over an id-ordered split equals the batch dedup
    val all = table("id bigint, url string",
      (0L until 20L).map(i => row(i, s"u${i % 7}")))
    val s1 = all.filter(col("id") < 10L)
    val s2 = all.filter(col("id") >= 10L)
    val w1 = Dedup.exactDedupIds(s1, Seq("url"), "id")
    val inc = w1.unionByName(
      Dedup.incrementalKeyDedup(s2, "url", "id", w1.select("url"), "url")
        .select("url", "id"))
    assertDfEquality(inc.orderBy("url"),
      Dedup.exactDedupIds(all, Seq("url"), "id").orderBy("url"))
  }

  test("word shingles: distinct n-grams; short docs empty") {
    val sh = table("t string", Seq(row("a b c d"), row("a b")))
      .select(TextFunctions.wordShingles(col("t"), 3).as("s"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(sh == List(List("a_b_c", "b_c_d"), Nil))
  }

  test("ngram jaccard: near-dup high, unrelated low") {
    val pairs = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") === 1 && col("b.doc_id").isin(2, 3))
      .select(col("b.doc_id"),
        TextFunctions.ngramJaccard(col("a.text"), col("b.text"), 3).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pairs(2L) > 0.5)
    assert(pairs(3L) == 0.0)
  }

  test("minhash LSH surfaces the planted near-dup pair and the exact dup") {
    val out = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 4L)))   // jaccard 1.0 after normalization? raw shingles ~identical
    assert(out.contains((1L, 2L)))   // near-dup
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: near-dups closer in hamming than unrelated docs") {
    val hashed = Dedup.simHash32(docs, "text", "sh")
      .select("doc_id", "sh").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashed(1L), hashed(2L)) < ham(hashed(1L), hashed(3L)))
    assert(hashed.values.forall(v => v >= 0 && v <= 0xFFFFFFFFL))
  }

  test("langId picks marker-dominant language deterministically") {
    val out = docs.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(5L) == "fr")
    assert(out(3L) == "und")
  }

  test("quality metrics: exact counts, deterministic ratios") {
    val m = table("t string", Seq(row("the cat sat")))
      .select(TextFunctions.qualityMetrics(col("t")).as("m"))
      .select("m.*").head()
    assert(m.getAs[Int]("n_chars") == 11)
    assert(m.getAs[Int]("n_tokens") == 3)
    assert(m.getAs[Double]("mean_token_len") == 3.0)
    assert(m.getAs[Double]("stopword_ratio") == 1.0 / 3.0)
  }

  test("brute-force top-k: self is rank 1, ties broken by id") {
    val emb = table("vec_id bigint, embedding array<float>", Seq(
      row(0L, Seq(1.0f, 0.0f)), row(1L, Seq(0.9f, 0.1f)),
      row(2L, Seq(0.0f, 1.0f)), row(3L, Seq(1.0f, 0.0f))))
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", Seq(1.0f, 0.0f), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L, 3L, 1L))
  }

  test("ann top-k: bucket filter keeps the true neighbor for itself") {
    val emb = table("vec_id bigint, embedding array<float>",
      (0L to 20L).map(i => row(i, Seq(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat))))
    val query = Seq(math.cos(0.3).toFloat, math.sin(0.3).toFloat) // == vec 1
    val top = Similarity.annTopK(emb, "vec_id", "embedding", query, 1,
      planes = 8, maxHamming = 2)
    assert(top.head().getLong(0) == 1L)
  }

  test("windowed cosine pairs: linear equi-join shape, correct values") {
    val emb = table("vec_id bigint, embedding array<float>", Seq(
      row(0L, Seq(1.0f, 0.0f)), row(1L, Seq(1.0f, 0.0f)), row(2L, Seq(0.0f, 1.0f))))
    val out = Similarity.windowedCosinePairs(emb, "vec_id", "embedding", 2, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)))
    // plan must not contain a nested-loop join
    val plan = Similarity.windowedCosinePairs(emb, "vec_id", "embedding", 2, 0.99)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("windowed cosine pairs: bucketed join finds every in-window pair") {
    // deterministic pseudo-random vectors; threshold -1 keeps ALL pairs,
    // so the assertion is purely about the bucketed join's pair coverage
    val vecs = (0L to 23L).map { i =>
      row(i, Seq(math.cos(i * 1.7).toFloat, math.sin(i * 1.7).toFloat))
    }
    val emb = table("vec_id bigint, embedding array<float>", vecs)
    val window = 5
    val got = Similarity.windowedCosinePairs(emb, "vec_id", "embedding", window, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      a <- 0L to 23L
      b <- (a + 1) to math.min(23L, a + window)
    } yield (a, b)).toSet
    assert(got == want)
  }

  test("composed minHashSignature: width k and the union min-property") {
    val df = table("id bigint, sh array<string>", Seq(
      row(1L, Seq("a_b_c", "b_c_d")),
      row(2L, Seq("x_y_z")),
      row(3L, Seq("a_b_c", "b_c_d", "x_y_z"))))
    val sigs = df.select(col("id"), Dedup.minHashSignature(col("sh"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.values.forall(_.length == 16))
    val unionSig = sigs(1L).zip(sigs(2L)).map { case (x, y) => math.min(x, y) }
    assert(sigs(3L) == unionSig)
  }

  test("exactDedupViaWindow equals the algebraic min_by exactDedup") {
    val df = table("k string, id bigint, v string", Seq(
      row("x", 3L, "c"), row("x", 1L, "a"), row("x", 2L, "b"),
      row("y", 9L, "z"), row("y", 7L, "w")))
    val viaAgg = Dedup.exactDedup(df, Seq("k"), "id")
      .orderBy("k").collect().map(_.toSeq).toSeq
    val viaWin = Dedup.exactDedupViaWindow(df, Seq("k"), "id")
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(viaAgg == viaWin)
    assert(viaAgg == Seq(Seq("x", 1L, "a"), Seq("y", 7L, "w")))
    // payload-free variant agrees on the winner set
    val ids = Dedup.exactDedupIds(df, Seq("k"), "id")
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(ids == Seq(Seq("x", 1L), Seq("y", 7L)))
  }

  test("simhash near-dup: banded recall equals the exact hamming pair set (pigeonhole)") {
    val sigs = Dedup.simHash32(docs, "text", "sim").select(col("doc_id"), col("sim"))
    val exact = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("h", Dedup.hammingDistance32(col("a.sim"), col("b.sim")))
      .filter(col("h") <= 3)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaLsh = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaLsh == exact, s"lsh=$viaLsh exact=$exact")
  }

  test("simhash64: banded recall equals the exact hamming pair set; 32-bit low half agrees") {
    val sigs = Dedup.simHash64(docs, "text", "sim").select(col("doc_id"), col("sim"))
    val exact = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("h", Dedup.hammingDistance(col("a.sim"), col("b.sim")))
      .filter(col("h") <= 6)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // maxHamming=6 <= bands-1=7 at 8 bands: pigeonhole holds at 64 bits too
    val viaLsh = Dedup.simHashNearDupPairs64(docs, "doc_id", "text",
        maxHamming = 6, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaLsh == exact, s"lsh=$viaLsh exact=$exact")
    // width parameterization is consistent: the 64-bit signature's low
    // 32 bits ARE the 32-bit signature (same counters, same packing)
    val s32 = Dedup.simHash32(docs, "text", "s").select("doc_id", "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s64 = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    s32.foreach { case (id, v) => assert((s64(id) & 0xFFFFFFFFL) == v, s"doc $id") }
  }

  test("simhash banding: oversize buckets fail loudly by default, observable when dropped") {
    val triplets = table("doc_id bigint, text string", Seq(
      row(1L, "identical corpus entry repeated verbatim"),
      row(2L, "identical corpus entry repeated verbatim"),
      row(3L, "identical corpus entry repeated verbatim"),
      row(4L, "an entirely unrelated document body here")))
    // strict default: identical docs share every band; maxBucket=2 must raise
    val err = intercept[Throwable] {
      Dedup.simHashNearDupPairs64(triplets, "doc_id", "text",
        maxHamming = 3, bands = 4, maxBucket = 2).collect()
    }
    val messages = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("maxBucket=2"), messages.take(500))
    // dropOversize: the result loses the pairs, but the audit query
    // reports exactly what was dropped — recall loss is never invisible
    val out = Dedup.simHashNearDupPairsW(triplets, "doc_id", "text", width = 64,
      maxHamming = 3, bands = 4, maxBucket = 2, dropOversize = true).collect()
    assert(out.isEmpty)
    val stats = Dedup.simHashBucketStats(triplets, "doc_id", "text",
      width = 64, bands = 4, maxBucket = 2).head()
    assert(stats.getAs[Long]("oversize_buckets") == 4L, stats.toString)
    assert(stats.getAs[Long]("oversize_rows") == 12L, stats.toString)
    assert(stats.getAs[Int]("max_bucket_size") == 3, stats.toString)
    assert(stats.getAs[Long]("n_buckets") == 8L, stats.toString)
    // the inline observe() metrics agree — pinned with AQE off, because
    // AQE's empty-relation propagation can drop a CollectMetrics node
    // when every bucket is filtered away (the documented caveat that
    // simHashBucketStats exists to cover)
    val spark = triplets.sparkSession
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val obs = org.apache.spark.sql.Observation("simhash_bucket_stats")
      Dedup.simHashNearDupPairsW(triplets, "doc_id", "text", width = 64,
        maxHamming = 3, bands = 4, maxBucket = 2,
        dropOversize = true, bucketStats = Some(obs)).collect()
      val m = obs.get
      assert(m("oversize_buckets").asInstanceOf[Long] == 4L, m.toString)
      assert(m("max_bucket_size").asInstanceOf[Int] == 3, m.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("simhash + minhash oversize guards are count-first, minhash drops on count") {
    val triplets = table("doc_id bigint, text string", Seq(
      row(1L, "identical corpus entry repeated verbatim"),
      row(2L, "identical corpus entry repeated verbatim"),
      row(3L, "identical corpus entry repeated verbatim"),
      row(4L, "an entirely unrelated document body here")))
    // simhash strict path: the collect_list itself must be count-GATED
    // (its argument is CASE WHEN window-count <= maxBucket, so an
    // oversize bucket aggregates an empty list, never its members) and
    // fed by the spillable window count BELOW it (plan prints
    // top-down) — the no-OOM guarantee, machine-checked. The raise
    // filter then acts on the counted long above, after observe().
    val plan = Dedup.simHashNearDupPairs64(triplets, "doc_id", "text",
        maxHamming = 3, bands = 4, maxBucket = 2)
      .queryExecution.optimizedPlan.toString
    val agg = plan.indexOf("collect_list(CASE WHEN")
    assert(agg >= 0, plan.take(2000))
    val win = plan.indexOf("windowspecdefinition", agg)
    assert(win > agg, s"no window count below the gated aggregate\n${plan.take(2000)}")
    assert(plan.contains("raise_error"), plan.take(2000))
    // minhash skew guard: identical docs collide in every band; with
    // maxBucket below the clone count every bucket is dropped on its
    // COUNT (no pairs, no error); raising the cap restores the pairs.
    val clones = table("doc_id bigint, text string",
      (1L to 6L).map(i => row(i, "the very same document text each time")))
    assert(Dedup.minHashNearDupPairs(clones, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5,
      maxBucket = 4).count() == 0L)
    assert(Dedup.minHashNearDupPairs(clones, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5,
      maxBucket = 6).count() == 15L) // all C(6,2) exact-dup pairs
  }

  test("lsh all-pairs cosine near-dup recovers planted twins, never n^2") {
    // two tight clusters + isolated vectors; only intra-cluster pairs
    // clear the 0.9 threshold
    val emb = table("vec_id bigint, embedding array<float>", Seq(
      row(1L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),
      row(2L, Seq(1.0f, 0.02f, 0.0f, 0.0f)),   // twin of 1
      row(3L, Seq(0.0f, 0.0f, 1.0f, 0.01f)),
      row(4L, Seq(0.0f, 0.0f, 1.0f, 0.03f)),   // twin of 3
      row(5L, Seq(0.5f, -0.5f, 0.5f, -0.5f)))) // isolated
    val out = Similarity.lshCosineNearDupPairs(emb, "vec_id", "embedding",
        dims = 4, threshold = 0.9, planes = 8, bands = 8)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    assert(!out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("ivf: deterministic train/assign/search recovers cluster neighbors with pruning") {
    import graft.operators.Ivf
    // two tight clusters around orthogonal axes
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.0f, 0.0f) else Seq(0.0f, 0.0f, 1.0f, 0.0f)
      row(i.toLong, base.updated(1, 0.01f * (i / 2)).map(_.toFloat))
    }
    val emb = table("vec_id bigint, embedding array<float>", rows)
    val model = Ivf.train(emb, "vec_id", "embedding", k = 2, iters = 3)
    assert(model.k == 2)
    // determinism: retraining yields the identical model
    val model2 = Ivf.train(emb, "vec_id", "embedding", k = 2, iters = 3)
    assert(model.centroids.map(_.toSeq) == model2.centroids.map(_.toSeq))
    val assigned = Ivf.assign(emb, "embedding", model)
    // the two axis clusters land in different cells
    val cellsByParity = assigned.collect()
      .groupBy(_.getLong(0) % 2).map { case (p, rs) => p -> rs.map(_.getAs[Int]("cell")).toSet }
    assert(cellsByParity(0L).size == 1 && cellsByParity(1L).size == 1)
    assert(cellsByParity(0L) != cellsByParity(1L))
    // nprobe=1 search returns only same-cluster vectors
    val query = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val top = Ivf.search(assigned.filter(col("vec_id") =!= 0L),
      "vec_id", "embedding", model, query, topK = 3, nprobe = 1)
    val ids = top.collect().map(_.getLong(0))
    assert(ids.forall(_ % 2 == 0), s"got ${ids.toSeq}")
    assert(ids.length == 3)
  }

  test("ivf assignProbes: rank-1 equals assign, probe sets ranked, nprobe=k covers all") {
    import graft.operators.Ivf
    val model = Ivf.Model(Vector(
      Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f), Array(0.0f, 0.0f, 1.0f)))
    // hand-ranked probes: v10 orders cells (0, 1, 2); v11 orders (1, 2, 0)
    val df = table("vec_id bigint, embedding array<float>", Seq(
      row(10L, Seq(0.9f, 0.4f, 0.1f)),
      row(11L, Seq(0.1f, 0.9f, 0.4f))))
    def probes(np: Int): Map[Long, Seq[Int]] =
      Ivf.assignProbes(df, "embedding", model, np).collect()
        .groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getAs[Int]("cell")).toSeq }
    val p2 = probes(2)
    assert(p2(10L) == Seq(0, 1) && p2(11L) == Seq(1, 2), p2.toString)
    // the first probe IS assign's argmax cell for every vector
    val argmax = Ivf.assign(df, "embedding", model).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    assert(p2.forall { case (id, cells) => cells.head == argmax(id) })
    // ... INCLUDING at exact cosine ties: (0.5, 0.5, 0) scores cells 0
    // and 1 identically; assign breaks ties high (struct max), and
    // assignProbes' (-cos, -cell) ranking must agree on rank 1.
    val tied = table("vec_id bigint, embedding array<float>", Seq(
      row(20L, Seq(0.5f, 0.5f, 0.0f))))
    val tieAssign = Ivf.assign(tied, "embedding", model).head().getAs[Int]("cell")
    val tieProbes = Ivf.assignProbes(tied, "embedding", model, 2).collect()
      .map(_.getAs[Int]("cell")).toSeq
    assert(tieAssign == 1 && tieProbes == Seq(1, 0),
      s"tie-break drift: assign=$tieAssign probes=$tieProbes")
    // nprobe = k probes every cell exactly once
    val p3 = probes(3)
    assert(p3.values.forall(_.sorted == Seq(0, 1, 2)), p3.toString)
    intercept[IllegalArgumentException] {
      Ivf.assignProbes(df, "embedding", model, 4)
    }
  }

  test("ivf searchBatch: agrees with per-query single search") {
    import graft.operators.Ivf
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.0f, 0.0f) else Seq(0.0f, 0.0f, 1.0f, 0.0f)
      row(i.toLong, base.updated(1, 0.01f * (i / 2)).map(_.toFloat))
    }
    val emb = table("vec_id bigint, embedding array<float>", rows)
    val model = Ivf.train(emb, "vec_id", "embedding", k = 2, iters = 3)
    val queries = emb.filter(col("vec_id") < 2L)
    val corpus = Ivf.assign(emb.filter(col("vec_id") >= 2L), "embedding", model)
    val batch = Ivf.searchBatch(corpus, "vec_id", "embedding", model,
        queries, "vec_id", "embedding", topK = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), math.round(r.getDouble(1) * 1e9)))
      .toSet
    val single = queries.collect().flatMap { qr =>
      val qid = qr.getLong(0)
      val qv = qr.getSeq[Float](1)
      Ivf.search(corpus, "vec_id", "embedding", model, qv, topK = 3, nprobe = 1)
        .collect().map(r => (qid, r.getLong(0), math.round(r.getDouble(1) * 1e9)))
    }.toSet
    assert(batch == single)
  }

  test("connected components: chains, cliques, and disjoint groups get min-id labels") {
    import graft.operators.Components
    // chain 1-2-3-4 (diameter 3), clique 10-11-12, isolated edge 20-21
    val edges = table("a bigint, b bigint", Seq(
      row(1L, 2L), row(2L, 3L), row(3L, 4L),
      row(10L, 11L), row(11L, 12L), row(10L, 12L),
      row(20L, 21L)))
    val comps = Components.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // non-convergence fails loudly, never returns partial clusters
    val longChain = table("a bigint, b bigint",
      (0L until 10L).map(i => row(i, i + 1)))
    intercept[IllegalArgumentException] {
      Components.connectedComponents(longChain, "a", "b", maxIters = 2)
    }
  }

  test("embeddingHealthReport: norms, zero vectors, anisotropy extremes, ragged rejection") {
    // unit vectors spread over the circle: mean cosine to the (near-
    // zero) centroid is ~0 — the healthy isotropic reading
    def circle(k: Int) = table("id bigint, v array<float>",
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        row(i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
      })
    val healthy = Similarity.embeddingHealthReport(circle(8), "id", "v").head()
    assert(healthy.getLong(0) == 8 && healthy.getInt(1) == 2 &&
      healthy.getLong(2) == 0)
    assert(healthy.getDouble(3) == 1.0) // unit norms exactly
    // the full circle cancels to a ZERO centroid: the isotropic limit
    // reports 0 instead of a NULL cosine blow-up
    assert(healthy.getDouble(6) == 0.0, healthy.toString)
    // a slightly asymmetric spread has a real (small) centroid: the
    // cosine path itself runs, and the mean stays far from collapse
    val spread = table("id bigint, v array<float>",
      Seq(0.0, 0.5, 1.2, 2.2, 3.3, 4.5).zipWithIndex.map { case (a, i) =>
        row(i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
      })
    val sp = Similarity.embeddingHealthReport(spread, "id", "v").head()
    assert(math.abs(sp.getDouble(6)) < 0.5 && sp.getDouble(6) != 0.0,
      sp.toString)
    // collapsed representation: every vector identical -> mean cosine 1
    val collapsed = table("id bigint, v array<float>",
      (0 until 6).map(i => row(i.toLong, Seq(3.0f, 4.0f))))
    val c = Similarity.embeddingHealthReport(collapsed, "id", "v").head()
    assert(c.getDouble(3) == 5.0 && c.getDouble(6) == 1.0, c.toString)
    // zero vectors are counted and excluded from the cosine mean
    val withZero = table("id bigint, v array<float>", Seq(
      row(1L, Seq(1.0f, 0.0f)), row(2L, Seq(0.0f, 0.0f))))
    val z = Similarity.embeddingHealthReport(withZero, "id", "v").head()
    assert(z.getLong(2) == 1, z.toString)
    // ragged dimensionalities fail loudly
    val ragged = table("id bigint, v array<float>", Seq(
      row(1L, Seq(1.0f)), row(2L, Seq(1.0f, 2.0f))))
    assert(intercept[IllegalArgumentException] {
      Similarity.embeddingHealthReport(ragged, "id", "v")
    }.getMessage.contains("ragged"))
  }

  test("incrementalComponents: fold == recompute across merge/chain/new/no-op batches") {
    import graft.operators.Components
    def cc(edges: Seq[(Long, Long)]) = Components.connectedComponents(
      table("a bigint, b bigint", edges.map { case (a, b) => row(a, b) }),
      "a", "b")
    def fold(prev: org.apache.spark.sql.DataFrame, edges: Seq[(Long, Long)]) =
      Components.incrementalComponents(prev,
        table("a bigint, b bigint", edges.map { case (a, b) => row(a, b) }),
        "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val old = Seq((1L, 2L), (3L, 4L), (10L, 11L))
    val prev = cc(old)
    // MERGE: a new edge joins components {1,2} and {3,4} -> all label 1
    assert(fold(prev, Seq((2L, 3L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // CHAIN-EXTEND + NEW COMPONENT + NO-OP intra-component edge
    assert(fold(prev, Seq((4L, 5L), (20L, 21L), (10L, 11L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 3L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // a lower-id NEW node becomes the merged component's label
    assert(fold(prev, Seq((0L, 4L))) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L,
        10L -> 10L, 11L -> 10L))
    // generative: random old/new splits agree with the full recompute
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val all = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val (o, n) = all.partition(_ => rnd.nextBoolean())
      if (o.nonEmpty && n.nonEmpty) {
        val full = cc(all).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(fold(cc(o), n) == full, "incremental fold != full recompute")
      }
    }
    // a non-min-id labeling is rejected loudly
    val badLabels = table("node bigint, comp bigint", Seq(row(1L, 5L)))
    val e = intercept[Exception] {
      Components.incrementalComponents(badLabels,
        table("a bigint, b bigint", Seq(row(1L, 2L))), "a", "b").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString
    assert(msgs.contains("min-id"), msgs.take(300))
  }

  test("star-contraction components: long chains converge in O(log^2) rounds") {
    import graft.operators.Components
    // chain of diameter 100 with PERMUTED ids (37 is coprime to 101, so
    // i -> 37*i mod 101 visits every id once): min-label propagation
    // would need ~100 iterations — past its default bound — while star
    // contraction halves distances every round.
    val perm = (0 to 100).map(i => (37L * i) % 101L)
    val chain = table("a bigint, b bigint",
      perm.sliding(2).map(p => row(p(0), p(1))).toSeq)
    intercept[IllegalArgumentException] {
      Components.connectedComponents(chain, "a", "b") // diameter > 25
    }
    val starLabels = Components.connectedComponentsStar(chain, "a", "b", maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starLabels == (0L to 100L).map(_ -> 0L).toMap)
    // mixed graph: agrees exactly with the min-label formulation
    val edges = table("a bigint, b bigint", Seq(
      row(1L, 2L), row(2L, 3L), row(3L, 4L),
      row(10L, 11L), row(11L, 12L), row(10L, 12L),
      row(20L, 21L), row(30L, 30L))) // incl. a self-loop singleton
    val star = Components.connectedComponentsStar(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minLabel = Components.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == minLabel)
    // seeded random graphs: the two formulations agree edge-set for
    // edge-set (40 nodes, varying density)
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val es = Seq.fill(60)(row(rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val g = table("a bigint, b bigint", es)
      val s1 = Components.connectedComponentsStar(g, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val s2 = Components.connectedComponents(g, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(s1 == s2)
    }
  }

  test("connected components: edge lineage executes exactly once across iterations") {
    import graft.operators.Components
    import spark.implicits._
    // Regression gate for the round-5 defect: the symmetrized edge
    // frame must be checkpointed, or every label-propagation iteration
    // re-executes the caller's whole upstream pipeline (for dedup flows
    // that is the full MinHash-LSH pair detection, times the iteration
    // count). The accumulator counts edge-lineage row reads; a chain of
    // diameter 6 forces ~7 iterations, so any per-iteration recompute
    // multiplies the count well past the single-materialization value.
    val acc = spark.sparkContext.longAccumulator("edge-rows-read")
    val edges = (0L until 6L).map(i => (i, i + 1)).toDF("a", "b")
      .as[(Long, Long)]
      .map { e => acc.add(1); e }
      .toDF("a", "b")
    val comps = Components.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == (0L to 6L).map(_ -> 0L).toMap)
    // sym = edges UNION reversed-edges, so ONE materialization reads the
    // 6-row lineage exactly twice (12); per-iteration recompute would
    // add 12 more per iteration.
    assert(acc.value == 12L,
      s"edge lineage re-executed across iterations: ${acc.value} row reads, expected 12")
  }

  test("connected components: superseded checkpoints are released, not leaked") {
    import graft.operators.Components
    // Lifecycle gate: checkpoint blocks die with the call, not with
    // some later driver GC. Only the frames the RETURNED plan reads
    // may remain persisted: the final labels (min-label), or the node
    // set + final star forest (star contraction). Without the explicit
    // release, min-label on a diameter-6 chain leaves ~9 persisted
    // RDDs per call and a long-lived session accumulates them without
    // bound.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = table("a bigint, b bigint",
      (0L until 7L).map(i => row(i, i + 1)))
    val labels = Components.connectedComponents(chain, "a", "b")
    assert(labels.count() == 8L)
    val leakedMin = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leakedMin.size <= 1,
      s"min-label components leaked ${leakedMin.size} persisted RDDs (allowed: final labels only)")
    val beforeStar = spark.sparkContext.getPersistentRDDs.keySet
    val starLabels = Components.connectedComponentsStar(chain, "a", "b")
    assert(starLabels.count() == 8L)
    val leakedStar = spark.sparkContext.getPersistentRDDs.keySet -- beforeStar
    assert(leakedStar.size <= 2,
      s"star components leaked ${leakedStar.size} persisted RDDs (allowed: nodes + final forest)")
  }

  test("loan components: final label blocks released after use, even on throw") {
    import graft.operators.{Blocks, Components}
    // The loan variant closes the one gap the plain method must leave:
    // the returned plan's own checkpoint blocks. After the loan, ZERO
    // persisted RDDs may remain — also when `use` throws (the finally
    // path).
    val chain = table("a bigint, b bigint",
      (0L until 7L).map(i => row(i, i + 1)))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = Components.withConnectedComponents(chain, "a", "b")(_.count())
    assert(n == 8L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "min-label loan left persisted RDDs behind")
    val boom = intercept[RuntimeException] {
      Components.withConnectedComponents(chain, "a", "b") { labels =>
        labels.count(); throw new RuntimeException("consumer failed")
      }
    }
    assert(boom.getMessage == "consumer failed")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "throwing consumer left persisted RDDs behind")
    // And the generic walker finds a checkpoint BEHIND a derived leaf:
    // withContiguousRowIds checkpoints the sorted RDD underneath its
    // id-attaching mapPartitions — a dependency, not the leaf itself.
    import graft.operators.General
    val ids = General.withContiguousRowIds(
      table("k bigint", (0L until 100L).map(row(_))), Seq("k"))
    assert(ids.count() == 100L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "expected the sorted checkpoint to be persisted while the frame is live")
    Blocks.release(ids)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "Blocks.release missed the checkpoint behind the derived leaf")
  }

  test("Blocks.scoped: keeps what the result reads, frees the rest, owns only its own") {
    import graft.operators.Blocks
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    def rddIds(df: DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    def added(before: Set[Int]): Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    val base = table("k bigint", (0L until 20L).map(row(_)))
    val before = sc.getPersistentRDDs.keySet.toSet
    // a block the result reads is kept; one it does not read is freed
    var unread: DataFrame = null
    val out = Blocks.scoped { s =>
      unread = s.checkpoint(base.filter(col("k") % 2 === 0))
      s.checkpoint(base.filter(col("k") % 2 === 1)).select((col("k") * 2).as("k2"))
    }
    assert(added(before) == rddIds(out), "only the result's own checkpoint survives")
    assert(!added(before).exists(rddIds(unread)))
    assert(out.count() == 10L)
    Blocks.release(out)
    // the frame fields of a tuple result count as the result's frames
    val (kept, n) = Blocks.scoped { s => (s.checkpoint(base), 1) }
    assert(added(before) == rddIds(kept) && kept.count() == 20L && n == 1)
    Blocks.release(kept)
    // a result that is not a frame frees everything
    assert(Blocks.scoped(s => s.checkpoint(base).count()) == 20L)
    assert(added(before).isEmpty)
    // release rejects frames the scope did not checkpoint, and the
    // throw still frees what the scope owns
    intercept[IllegalArgumentException] {
      Blocks.scoped(s => s.release(s.checkpoint(base).filter(col("k") > 3)))
    }
    intercept[IllegalArgumentException](Blocks.scoped(_.release(base)))
    intercept[IllegalArgumentException] {
      Blocks.scoped { outer =>
        val c = outer.checkpoint(base)
        Blocks.scoped(inner => inner.release(c))
      }
    }
    assert(added(before).isEmpty)
  }

  /** The persisted RDDs `df`'s plan reaches: its RDD-backed leaves and
    * their dependency graphs. */
  private def persistedReach(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.LogicalRDD
    def walk(r: RDD[_]): Set[Int] = r.dependencies.map(d => walk(d.rdd)).toSet.flatten + r.id
    val all = df.queryExecution.analyzed.collect { case lr: LogicalRDD => walk(lr.rdd) }.flatten.toSet
    all.intersect(spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  private def prefixFixture = table("k bigint, v bigint", (0L until 20L).map(i => row(i, i)))

  test("Blocks.scoped: nested primitives inside a scope returning a value leave no checkpoint") {
    import graft.operators.{Blocks, General}
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val n = Blocks.scoped { _ =>
      General.withPrevValue(
        General.withRunningTotal(prefixFixture, Seq("k"), "v", "rt"),
        Seq("k"), "rt", "prev_rt").count()
    }
    assert(n == 20L)
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"nested primitives left $left registered")
  }

  test("Blocks.scoped: a scope returning the outer primitive's frame keeps only what it reaches") {
    import graft.operators.{Blocks, General}
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = Blocks.scoped { _ =>
      General.withPrevValue(
        General.withRunningTotal(prefixFixture, Seq("k"), "v", "rt"),
        Seq("k"), "rt", "prev_rt")
    }
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.nonEmpty && left == persistedReach(out),
      s"left $left registered, the frame reaches ${persistedReach(out)}")
    assert(out.count() == 20L)
    // rt(k) = 0 + 1 + ... + (k-1); prev_rt(k) = rt(k-1)
    val got = out.select("k", "prev_rt").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(0L).isEmpty && got(1L).contains(0L) && got(19L).contains(153L))
    Blocks.release(out)
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty)
    // outside any scope the checkpoint is still made, and is the caller's
    val bare = General.withRunningTotal(prefixFixture, Seq("k"), "v", "rt")
    assert(bare.count() == 20L && persistedReach(bare).nonEmpty)
    Blocks.release(bare)
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty)
  }

  test("Blocks.scoped: a nested scope hands its result's blocks to the enclosing scope") {
    import graft.operators.Blocks
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val n = Blocks.scoped { _ =>
      Blocks.scoped(s => s.checkpoint(prefixFixture)).count()
    }
    assert(n == 20L)
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"the inner scope's result left $left registered")
  }

  /** The source files under `root` and the `file:line` of every code
    * line (comment lines excluded) in them that contains `needle`,
    * files named in `skip` excepted. */
  private def codeLinesNaming(root: String, needle: String,
      skip: Set[String] = Set.empty): (Int, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(root)
    assert(java.nio.file.Files.isDirectory(dir), s"no $dir under ${sys.props("user.dir")}")
    val walk = java.nio.file.Files.walk(dir)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = for {
      f <- files if !skip(f.getFileName.toString)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim if !code.startsWith("//") && !code.startsWith("*") &&
        !code.startsWith("/*") && code.contains(needle)
    } yield s"$f:${i + 1}"
    (files.size, offenders)
  }

  test("localCheckpoint is called only in Blocks") {
    // every checkpoint has one owner only while Blocks makes them all
    // (and a reliable-checkpoint mode stays a change to Blocks alone)
    val (files, offenders) = codeLinesNaming("src/main/scala",
      "localCheckpoint(", skip = Set("Blocks.scala"))
    assert(files > 10 && offenders.isEmpty,
      s"localCheckpoint( outside Blocks: ${offenders.mkString(", ")}")
  }

  test("no operator names graft.streaming") {
    // streaming depends on operators, never the reverse: a monitor is a
    // value the operators define and StreamGate.monitor replays
    val (files, offenders) =
      codeLinesNaming("src/main/scala/graft/operators", "graft.streaming")
    assert(files > 10 && offenders.isEmpty,
      s"graft.streaming named under operators: ${offenders.mkString(", ")}")
  }

  test("keepBestPerCluster: max-score survivor, ties by id, singletons kept") {
    val docs = table("doc_id bigint, score int", Seq(
      row(1L, 5), row(2L, 9), row(3L, 9),   // cluster A: 2 wins (tie -> lower id)
      row(10L, 1), row(11L, 7),             // cluster B: 11 wins
      row(20L, 0)))                         // unlabeled singleton: kept
    val labels = table("node bigint, comp bigint", Seq(
      row(1L, 1L), row(2L, 1L), row(3L, 1L),
      row(10L, 10L), row(11L, 10L)))
    val kept = Dedup.keepBestPerCluster(docs, "doc_id", "score", labels)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 11L, 20L))
  }

  test("components: min-label and star contraction agree on random graphs") {
    import graft.operators.Components
    // deterministic pseudo-random edge sets: both formulations must
    // produce the identical (node, min-reachable-id) labeling on
    // arbitrary topology, not just the oracle query's near-cliques
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 24
      val edges = (0 until 30)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => row(a, b) }
      val df = table("a bigint, b bigint", edges)
      val minLabel = Components.connectedComponents(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Components.connectedComponentsStar(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(minLabel == star, s"trial $trial: formulations disagree")
    }
  }

  test("operator failure paths release every checkpoint") {
    import graft.operators.{Classify, Components, Graph, Stats}
    // Each call throws after (or while) it materializes a checkpoint.
    // With no returned frame to keep alive, it must leave ZERO new
    // persisted RDDs behind.
    val chain = table("a bigint, b bigint",
      (0L until 7L).map(i => row(i, i + 1))) // diameter 7
    val nbDocs = table("text string, cls string", Seq(
      row("red apple", "fruit"), row("green leaf", "plant"),
      row("ripe pear", null)))
    val negMass = table("g string, x bigint", Seq(row("a", 3L), row("b", -1L)))
    val cases: Seq[(String, Class[_ <: Throwable], String, () => Any)] = Seq(
      ("min-label components, maxIters = 1", classOf[IllegalArgumentException],
        "did not converge",
        () => Components.connectedComponents(chain, "a", "b", maxIters = 1)),
      ("star components, maxRounds = 1", classOf[IllegalArgumentException],
        "did not converge",
        () => Components.connectedComponentsStar(chain, "a", "b", maxRounds = 1)),
      ("pageRank on zero edges", classOf[IllegalArgumentException],
        "at least one edge",
        () => Graph.pageRank(chain.filter(lit(false)), "a", "b", iterations = 2)),
      ("kCore, maxRounds = 1", classOf[IllegalArgumentException],
        "did not converge",
        () => Graph.kCore(chain, "a", "b", k = 2, maxRounds = 1)),
      ("multinomial NB with a NULL label", classOf[IllegalArgumentException],
        "NULL label",
        () => Classify.trainMultinomialNB(nbDocs, "text", "cls")),
      // the raise_error guard fires inside the eager checkpoint job
      ("theilDecomposition with a negative mass", classOf[Exception],
        "non-negative integer",
        () => Stats.theilDecomposition(negMass, "g", "x")))
    cases.foreach { case (label, expected, fragment, call) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Throwable](call())
      assert(expected.isInstance(e) && e.getMessage.contains(fragment),
        s"$label: unexpected $e")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$label leaked ${leaked.size} persisted RDDs")
    }
  }

  test("multimodal: stub decode populates features; null payload survives") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "payload", "media_type", "meta"))
    val feats = Multimodal.extractFeatures(media)
    val r1 = feats.filter(col("media_id") === 1L).head()
    val text1 = "the quick brown fox jumps over the lazy dog"
    assert(r1.getAs[Int]("n_bytes") == text1.length)
    assert(r1.getAs[Int]("width") == text1.length % 640 + 1)
    assert(r1.getAs[String]("checksum").length == 32)
    // the built-in path must stay inside codegen: no object serialization
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"), plan)
    // the pluggable-codec path agrees with the expression path row-for-row
    val viaDecoder = Multimodal.extractFeaturesWith(media, Multimodal.StubDecoder)
    assert(viaDecoder.orderBy("media_id").collect().map(_.toSeq).toSeq ==
      feats.orderBy("media_id").collect().map(_.toSeq).toSeq)
    // withDHash appends the native DHash64 signature: the empty-payload
    // degenerate is 0, non-empty payloads get the gradient value the
    // expression spec pins, NULL payloads a NULL signature
    val hashed = Multimodal.withDHash(media)
    assert(hashed.schema.fieldNames.last == "dhash")
    val byId = hashed.select(col("media_id"), col("dhash")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(byId(1L).exists(_ != 0L)) // real text -> non-trivial gradient bits
    val e = graft.expressions.DHash64(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.BinaryType, nullable = true))
    assert(byId(1L).contains(e.eval(org.apache.spark.sql.catalyst.InternalRow(
      text1.getBytes("UTF-8"))).asInstanceOf[Long]))
  }

  test("multimodal: frame-set near-dup pairs, exact jaccard, hot-frame guard") {
    // 128-byte payloads, 4 frames x 16 bytes (stride 32): B differs
    // from A only in byte 0 -> frames 1-3 shared; C is unrelated. Two
    // geometry traps pinned here: bytes must vary WITHIN a frame (a
    // constant frame has a flat gradient and dHashes to 0), and a
    // frame must span >1 byte per 9-cell grid row (an 8-byte frame
    // maps each row to ONE byte — flat again), so frameBytes >= ~16
    val a = (0 until 128).map(i => ('A' + (i * 7) % 26).toChar).mkString
    val b = "z" + a.substring(1)
    val c = (0 until 128).map(i => ('a' + (i * 11) % 26).toChar).mkString
    val media = table("media_id bigint, s string", Seq(
        row(1L, a), row(2L, b), row(3L, c)))
      .select(col("media_id"), col("s").cast("binary").as("payload"))
    val got = Multimodal.frameNearDupPairs(media, nFrames = 4,
        frameBytes = 16, threshold = 0.6, maxFrameBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5))).toSeq
    // A has 4 distinct frame hashes, B shares 3 -> jaccard 3/5 = 0.6
    assert(got == Seq((1L, 2L, 3L, 0.6)), got.toString)
    // three identical payloads: every frame signature sits in 3 media,
    // tripping a maxFrameBucket=2 guard loudly...
    val hot = table("media_id bigint, s string",
        Seq(row(1L, a), row(2L, a), row(3L, a)))
      .select(col("media_id"), col("s").cast("binary").as("payload"))
    val e = intercept[Exception] {
      Multimodal.frameNearDupPairs(hot, 4, 16, 0.6, maxFrameBucket = 2)
        .collect()
    }
    assert(e.getMessage.contains("appears in more than 2"), e.getMessage)
    // ...and dropping oversize signatures drops the pairs, not the job
    val dropped = Multimodal.frameNearDupPairs(hot, 4, 16, 0.6,
      maxFrameBucket = 2, dropOversize = true).collect()
    assert(dropped.isEmpty)
    intercept[IllegalArgumentException] {
      Multimodal.frameNearDupPairs(media, 4, 16, 0.6, maxFrameBucket = 1)
    }
  }

  test("shotBoundaries: cuts at content switches, one-shot payloads, degenerate inputs") {
    // chunk-aligned two-shot payload: 4 repeats of A then 4 of B with
    // nFrames=8, frameBytes=72, stride = 576/8 = 72 -> frames 0-3 = A,
    // 4-7 = B: exactly one cut at frame 4 (72-byte frames give every
    // dHash grid cell its own byte, so distinct chunks differ widely)
    val a = (0 until 72).map(i => ('A' + (i * 7) % 26).toChar).mkString
    val b = (0 until 72).map(i => ('z' - (i * 5) % 26).toChar).mkString
    val twoShot = a * 4 + b * 4
    val oneShot = a * 8
    val media = table("media_id bigint, s string", Seq(
        row(1L, twoShot), row(2L, oneShot), row(3L, null)))
      .select(col("media_id"), col("s").cast("binary").as("payload"))
    val got = Multimodal.shotBoundaries(media, nFrames = 8, frameBytes = 72,
        maxHamming = 8)
      .orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3))).toSeq
    assert(got == Seq(
      (1L, 8L, 1L, Seq(4)),          // one cut, at the first B frame
      (2L, 8L, 0L, Seq.empty)),      // constant content: no cuts
      got.toString)                   // NULL payload: no row
    // three-shot: cuts at both switches
    val threeShot = table("media_id bigint, s string",
        Seq(row(9L, a * 4 + b * 2 + a * 2)))
      .select(col("media_id"), col("s").cast("binary").as("payload"))
    val cuts3 = Multimodal.shotBoundaries(threeShot, 8, 72, 8)
      .head().getSeq[Int](3)
    assert(cuts3 == Seq(4, 6), cuts3.toString)
    intercept[IllegalArgumentException] {
      Multimodal.shotBoundaries(media, nFrames = 1)
    }
    intercept[IllegalArgumentException] {
      Multimodal.shotBoundaries(media, nFrames = 8, frameBytes = 8)
    }
    intercept[IllegalArgumentException] {
      Multimodal.shotBoundaries(media, nFrames = 8, frameBytes = 16,
        maxHamming = 64)
    }
  }

  test("frameNearDupPairs: prefix-filter candidates lose nothing vs brute force") {
    // The PPJoin prefix filter is a pruning THEOREM, not a heuristic —
    // pin it generatively: mutated copies (high Jaccard), shared
    // boilerplate segments (hot signatures that must fall out of
    // prefixes without losing the real pairs), and unrelated payloads.
    val rnd = new scala.util.Random(77)
    val boiler = (0 until 64).map(i => ('A' + (i * 5) % 26).toChar).mkString
    val bases = (0 until 15).map { k =>
      val body = (0 until 96).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
      boiler + body // every media shares the boilerplate head frames
    }
    val rows = bases.zipWithIndex.flatMap { case (s, k) =>
      val mutAt = 64 + rnd.nextInt(96)
      val mutated = s.substring(0, mutAt) + "#" + s.substring(mutAt + 1)
      Seq(row(k.toLong, s), row(100L + k, mutated))
    }
    val media = table("media_id bigint, s string", rows)
      .select(col("media_id"), col("s").cast("binary").as("payload"))
    val got = Multimodal.frameNearDupPairs(media, nFrames = 6,
        frameBytes = 16, threshold = 0.5, maxFrameBucket = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val sets = Multimodal.sampleFrames(media, 6, 16)
      .select(col("media_id"), explode(col("frames")).as("f"))
      .select(col("media_id"),
        graft.expressions.GraftFunctions.dhash64(media, col("f")).as("fh"))
      .distinct().collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(1)).toSet
      }
    val ids = sets.keys.toSeq.sorted
    val exp = (for {
      a <- ids; b <- ids if a < b
      sh = (sets(a) intersect sets(b)).size
      j = sh.toDouble / (sets(a).size + sets(b).size - sh)
      if j >= 0.5
    } yield ((a, b), (sh.toLong, sets(a).size.toLong, sets(b).size.toLong, j)))
      .toMap
    assert(got == exp,
      s"missing: ${(exp.keySet -- got.keySet).take(5)}; " +
        s"extra: ${(got.keySet -- exp.keySet).take(5)}")
    assert(exp.size >= 15, s"only ${exp.size} qualifying pairs — vacuous")
  }

  test("multimodal: resize planning fits max box, preserves aspect, never upscales") {
    val feats = table("media_id bigint, width int, height int", Seq(
      row(1L, 640, 480),   // downscale, bound by width
      row(2L, 100, 400),   // downscale, bound by height
      row(3L, 50, 40),     // already fits: untouched
      row(4L, null, null)))// undecodable: stays null
    val planned = Multimodal.resizePlan(feats, maxW = 320, maxH = 240)
      .orderBy("media_id").collect()
    assert((planned(0).getInt(4), planned(0).getInt(5)) == (320, 240))
    assert((planned(1).getInt(4), planned(1).getInt(5)) == (60, 240))
    assert((planned(2).getInt(4), planned(2).getInt(5)) == (50, 40))
    assert(planned(3).isNullAt(4) && planned(3).isNullAt(5))
  }

  test("multimodal: frame sampling slices evenly-spaced byte windows, map-only") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, nFrames = 4, frameBytes = 8)
    val r1 = frames.filter(col("media_id") === 1L).head()
    val text1 = "the quick brown fox jumps over the lazy dog" // 43 bytes
    val got = r1.getSeq[Array[Byte]](1)
    assert(got.length == 4)
    val stride = math.max(text1.length / 4, 1)
    got.zipWithIndex.foreach { case (frame, i) =>
      val expected = text1.drop(i * stride).take(8)
      assert(new String(frame) == expected, s"frame $i")
    }
    assert(r1.getAs[Int]("n_bytes") == text1.length)
    // map-only: no exchange in the plan
    assert(!frames.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
