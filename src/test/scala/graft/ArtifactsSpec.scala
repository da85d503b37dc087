package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Ivf}
import graft.testkit.SparkTestKit._

/** Trained-artifact persistence: BPE merge tables, vocabularies, and
  * IVF models survive a parquet save/load roundtrip BIT-IDENTICALLY —
  * the train-once / load-everywhere pipeline shape (the reference
  * externalizes pipeline state to files the same way,
  * `/root/reference/ons_utils/config/config.py:100-136`). */
class ArtifactsSpec extends AnyFunSuite {

  test("BPE merges: train -> save -> load encodes bit-identically to the in-JVM table") {
    val corpus = table("id bigint, text string", Seq(
      row(1L, "hug pug hug hugs"), row(2L, "hug pug bun")))
    val mergesDf = Corpus.bpeMerges(corpus, "text", 8)
    val inJvm = Corpus.collectMerges(mergesDf)
    val dir = tempDir("graft-merges")
    Corpus.saveMerges(mergesDf, dir)
    val loaded = Corpus.loadMerges(spark, dir)
    assert(loaded == inJvm, s"loaded $loaded != trained $inJvm")
    val a = Corpus.bpeEncode(corpus, "text", inJvm)
      .orderBy("id").collect().map(_.getSeq[String](2)).toSeq
    val b = Corpus.bpeEncode(corpus, "text", loaded)
      .orderBy("id").collect().map(_.getSeq[String](2)).toSeq
    assert(a == b)
  }

  test("BPE merges: a corrupted persisted table fails loudly at load") {
    val dir = tempDir("graft-merges-bad")
    // doubled-append corruption: same pair under two ranks (stamped —
    // the row corruption is what this test pins, not the version gate)
    table("merge_rank int, lhs string, rhs string, merged string, pair_freq bigint",
      Seq(row(1, "a", "b", "ab", 5L), row(2, "a", "b", "ab", 5L)))
      .withColumn("format_version", lit(1))
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException](Corpus.loadMerges(spark, dir))
    assert(e.getMessage.contains("duplicate"))
    // and saveMerges refuses to CREATE such an artifact in the first place
    intercept[IllegalArgumentException](Corpus.saveMerges(
      table("merge_rank int, lhs string, rhs string",
        Seq(row(1, "a", "b"), row(3, "c", "d"))), tempDir("graft-merges-gap")))
  }

  test("vocabulary: save -> load roundtrips rows; corrupted ids fail loudly") {
    val vocab = Corpus.vocabularyFromFrequencies(
      table("token string, freq bigint", Seq(
        row("the", 10L), row("hug", 7L), row("pug", 7L), row("a", 1L))))
    val dir = tempDir("graft-vocab")
    Corpus.saveVocabulary(vocab, dir)
    val loaded = Corpus.loadVocabulary(spark, dir)
    assertDfEquality(
      loaded.orderBy("token_id"), vocab.orderBy("token_id"),
      ignoreNullable = true)
    // gapped ids (a dropped row) are rejected by the load validation
    val bad = tempDir("graft-vocab-bad")
    vocab.filter(col("token_id") =!= 1L)
      .withColumn("format_version", lit(1))
      .write.mode("overwrite").parquet(bad)
    val e = intercept[IllegalArgumentException](Corpus.loadVocabulary(spark, bad))
    assert(e.getMessage.contains("contiguous"))
    // duplicated token under two ids
    val dup = tempDir("graft-vocab-dup")
    vocab.withColumn("token", lit("same"))
      .withColumn("format_version", lit(1))
      .write.mode("overwrite").parquet(dup)
    intercept[IllegalArgumentException](Corpus.loadVocabulary(spark, dup))
  }

  test("artifact format versioning: wrong or missing versions are rejected by every loader") {
    import graft.operators.{ArtifactFormat, Classify, Pq}
    assert(ArtifactFormat.Version == 1)
    // wrong version: a future build's artifact must not be mis-read
    val future = tempDir("graft-merges-future")
    table("merge_rank int, lhs string, rhs string, merged string, pair_freq bigint",
      Seq(row(1, "a", "b", "ab", 5L)))
      .withColumn("format_version", lit(99))
      .write.mode("overwrite").parquet(future)
    val e1 = intercept[IllegalArgumentException](Corpus.loadMerges(spark, future))
    assert(e1.getMessage.contains("format_version 99"), e1.getMessage)
    // missing version: a pre-versioning artifact names its cause
    val old = tempDir("graft-ivf-old")
    table("cell int, centroid array<float>",
      Seq(row(0, Seq(1.0f, 0.0f)), row(1, Seq(0.0f, 1.0f))))
      .write.mode("overwrite").parquet(old)
    val e2 = intercept[IllegalArgumentException](Ivf.load(spark, old))
    assert(e2.getMessage.contains("no format_version"), e2.getMessage)
    // every save stamps: a fresh roundtrip works for all five families
    val corpus = table("id bigint, text string", Seq(row(1L, "hug pug hug")))
    val md = tempDir("graft-ver-merges")
    Corpus.saveMerges(Corpus.bpeMerges(corpus, "text", 2), md)
    assert(Corpus.loadMerges(spark, md).size == 2)
    val pqBad = tempDir("graft-pq-future")
    table("sub int, cell int, centroid array<float>",
      Seq(row(0, 0, Seq(1.0f))))
      .withColumn("format_version", lit(2))
      .write.mode("overwrite").parquet(pqBad)
    assert(intercept[IllegalArgumentException](Pq.load(spark, pqBad))
      .getMessage.contains("format_version 2"))
    val nbOld = tempDir("graft-nb-old")
    spark.range(1).select(lit(0.0).as("prior_log_odds"),
        lit(0.0).as("floor_pos"), lit(0.0).as("floor_neg"))
      .write.mode("overwrite").parquet(s"$nbOld/meta")
    assert(intercept[IllegalArgumentException](Classify.load(spark, nbOld))
      .getMessage.contains("no format_version"))
  }

  test("IVF model: train -> save -> load is bit-identical and assigns/probes identically") {
    val rnd = new scala.util.Random(7)
    val emb = table("vec_id bigint, embedding array<float>",
      (0 until 40).map(i =>
        row(i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))))
    val model = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val dir = tempDir("graft-ivf")
    Ivf.save(spark, model, dir)
    val loaded = Ivf.load(spark, dir)
    assert(loaded.k == model.k)
    model.centroids.zip(loaded.centroids).zipWithIndex.foreach {
      case ((a, b), i) =>
        assert(java.util.Arrays.equals(a, b), s"centroid $i drifted in parquet")
    }
    def cells(m: Ivf.Model) = Ivf.assign(emb, "embedding", m).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    assert(cells(loaded) == cells(model))
    def probes(m: Ivf.Model) = Ivf.assignProbes(emb, "embedding", m, 2).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("cell"))).toSet
    assert(probes(loaded) == probes(model))
  }

  test("PQ model: train -> save -> load is bit-identical and encodes/ranks identically") {
    import graft.operators.Pq
    val rnd = new scala.util.Random(9)
    val emb = table("vec_id bigint, embedding array<float>",
      (0 until 60).map(i =>
        row(i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))))
    val model = Pq.train(emb, "vec_id", "embedding", m = 4, k = 4, iters = 2)
    val dir = tempDir("graft-pq")
    Pq.save(spark, model, dir)
    val loaded = Pq.load(spark, dir)
    assert(loaded.m == model.m && loaded.k == model.k &&
      loaded.dsub == model.dsub)
    for (s <- 0 until model.m; c <- 0 until model.k)
      assert(java.util.Arrays.equals(model.codebooks(s)(c),
        loaded.codebooks(s)(c)), s"sub $s cell $c drifted in parquet")
    def codes(m: Pq.Model) = Pq.encode(emb, "embedding", m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2).toList).toMap
    assert(codes(loaded) == codes(model))
    val q = Seq.fill(8)(rnd.nextFloat())
    def top(m: Pq.Model) = Pq.searchAdc(
        Pq.encode(emb, "embedding", m).select("vec_id", "pq_code"),
        "vec_id", "pq_code", m, q, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(top(loaded) == top(model))
  }

  test("PQ model: corrupted persisted models fail loudly at load") {
    import graft.operators.Pq
    val holes = tempDir("graft-pq-bad1")
    table("sub int, cell int, centroid array<float>", Seq(
      row(0, 0, Seq(1.0f, 0.0f)), row(0, 2, Seq(0.0f, 1.0f)),
      row(1, 0, Seq(1.0f, 1.0f)), row(1, 1, Seq(0.0f, 0.5f))))
      .withColumn("format_version", lit(1))
      .write.mode("overwrite").parquet(holes)
    val e1 = intercept[IllegalArgumentException](Pq.load(spark, holes))
    assert(e1.getMessage.contains("tile"))
    val ragged = tempDir("graft-pq-bad2")
    table("sub int, cell int, centroid array<float>", Seq(
      row(0, 0, Seq(1.0f, 0.0f)), row(0, 1, Seq(0.0f, 1.0f, 0.7f))))
      .withColumn("format_version", lit(1))
      .write.mode("overwrite").parquet(ragged)
    val e2 = intercept[IllegalArgumentException](Pq.load(spark, ragged))
    assert(e2.getMessage.contains("uniform"))
  }

  test("IVF model: corrupted persisted models fail loudly at load") {
    val nonContig = tempDir("graft-ivf-bad1")
    table("cell int, centroid array<float>", Seq(
      row(0, Seq(1.0f, 0.0f)), row(2, Seq(0.0f, 1.0f))))
      .withColumn("format_version", lit(1))
      .write.mode("overwrite").parquet(nonContig)
    val e1 = intercept[IllegalArgumentException](Ivf.load(spark, nonContig))
    assert(e1.getMessage.contains("contiguous"))
    val ragged = tempDir("graft-ivf-bad2")
    table("cell int, centroid array<float>", Seq(
      row(0, Seq(1.0f, 0.0f)), row(1, Seq(0.0f, 1.0f, 0.5f))))
      .withColumn("format_version", lit(1))
      .write.mode("overwrite").parquet(ragged)
    val e2 = intercept[IllegalArgumentException](Ivf.load(spark, ragged))
    assert(e2.getMessage.contains("uniform"))
  }
}
