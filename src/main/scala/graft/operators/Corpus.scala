package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.functions.TextFunctions

/** Corpus-level statistics for training-data pipelines. */
object Corpus {

  /** Token frequency table: explode the token stream, count per token.
    * The canonical explode -> aggregate shape: partial (map-side)
    * aggregation collapses each partition's counts before the single
    * hash shuffle on token, so the shuffle carries one row per distinct
    * token per partition — vocabulary-bounded, not corpus-bounded. */
  def tokenFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))

  /** Vocabulary-richness estimate — Chao1 + Good–Turing unseen mass
    * over the corpus' token frequencies: "how many distinct tokens
    * does the POPULATION hold, and what fraction of the next crawl's
    * token mass will be unseen types?" — the vocabulary-saturation
    * readout that says whether more data still buys new vocabulary.
    * `Chao1 = S + f1²/(2·f2)` (the bias-corrected `S + f1(f1−1)/2`
    * when no token occurs exactly twice), `P_unseen = f1/N` — S the
    * observed vocabulary, f1/f2 the singleton/doubleton type counts,
    * N total tokens. All integers until one division each (6dp gate).
    *
    * Scale shape: the [[tokenFrequencies]] vocabulary-bounded count
    * pass, then ONE aggregation over the frequency table. Output: one
    * row — (`n_tokens`, `vocab`, `f1`, `f2`, `chao1_6`,
    * `unseen_mass6`). */
  def vocabRichness(df: DataFrame, textCol: String): DataFrame =
    vocabRichnessFromFrequencies(tokenFrequencies(df, textCol))

  /** [[vocabRichness]]' readout over an accumulated (token, freq)
    * table — token counts fold by SUM ([[foldTokenFrequencies]]), so
    * the incremental and streaming estimates provably equal the batch
    * one: the saturation dashboard stays current as the crawl lands
    * without rescanning a shard. */
  def vocabRichnessFromFrequencies(freq: DataFrame): DataFrame = {
    val spark = freq.sparkSession
    val row = freq.agg(
      coalesce(sum(col("freq")), lit(0L)).as("n"),
      count(lit(1)).as("s"),
      sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("freq") === 2L, 1L).otherwise(0L)).as("f2")).head()
    val (n, s, f1, f2) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3))
    require(n > 0L, "vocabRichness: the corpus has no tokens")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val chao1 =
      if (f2 > 0L) s.toDouble +
        (BigDecimal(f1) * BigDecimal(f1)).toDouble /
          (BigDecimal(2L) * BigDecimal(f2)).toDouble
      else s.toDouble +
        (BigDecimal(f1) * BigDecimal(f1 - 1L)).toDouble / 2.0
    val unseen = f1.toDouble / n.toDouble
    import spark.implicits._
    Seq((n, s, f1, f2, r6(chao1), r6(unseen)))
      .toDF("n_tokens", "vocab", "f1", "f2", "chao1_6", "unseen_mass6")
  }

  /** The (token, freq) state fold: union + one vocabulary-bounded
    * re-aggregation; counts merge by SUM. */
  def foldTokenFrequencies(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("token").agg(sum(col("freq")).as("freq"))

  /** [[vocabRichness]] as a [[FoldMonitor]] over the (token, freq)
    * state: the live "is more crawl still buying new vocabulary?"
    * dashboard. */
  def vocabRichnessMonitor(textCol: String): FoldMonitor =
    FoldMonitor("vocabRichnessMonitor", _.select(textCol),
      tokenFrequencies(_, textCol), foldTokenFrequencies,
      vocabRichnessFromFrequencies)

  /** Per-group [[vocabRichness]] — saturation PER SLICE ("is the
    * German crawl saturated while Chinese still buys new types?"):
    * the whole Chao1/Good–Turing readout runs IN the plan over the
    * group-keyed frequency table (group cardinality unbounded). A
    * NULL group is its own stratum. Output: one row per group —
    * (`groupCol` as STRING, `n_tokens`, `vocab`, `f1`, `f2`,
    * `chao1_6`, `unseen_mass6`), ordered by group. */
  def vocabRichnessByGroup(
      df: DataFrame, groupCol: String, textCol: String): DataFrame =
    vocabRichnessByGroupFromFrequencies(
      groupTokenFrequencies(df, groupCol, textCol), groupCol)

  /** One shard's GROUP-KEYED frequency table — `(__g, token, freq)`;
    * folds with [[foldGroupTokenFrequencies]]. */
  def groupTokenFrequencies(
      df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(col(groupCol).cast("string").as("__g"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("__g", "token").agg(count(lit(1)).as("freq"))

  /** The group-keyed frequency fold. */
  def foldGroupTokenFrequencies(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__g", "token")
      .agg(sum(col("freq")).as("freq"))

  /** [[vocabRichnessByGroup]] as a [[FoldMonitor]] over the
    * `(__g, token, freq)` state: per-language saturation, live. */
  def groupVocabMonitor(groupCol: String, textCol: String): FoldMonitor =
    FoldMonitor("groupVocabMonitor", _.select(groupCol, textCol),
      groupTokenFrequencies(_, groupCol, textCol), foldGroupTokenFrequencies,
      vocabRichnessByGroupFromFrequencies(_, groupCol))

  /** [[vocabRichnessByGroup]]'s readout over accumulated
    * `(__g, token, freq)` state — shared verbatim by the batch
    * operator, the incremental fold, and the streaming monitor.
    * `f1²` rides DECIMAL(38,0) before the double cast (a long f1
    * square overflows near 3e9 singleton types — the 100 TB
    * regime). */
  def vocabRichnessByGroupFromFrequencies(
      freq: DataFrame, groupCol: String): DataFrame = {
    val f1D = col("f1").cast("decimal(38,0)")
    freq.groupBy("__g").agg(
        sum(col("freq")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("freq") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("__g").as(groupCol), col("n_tokens"), col("vocab"),
        col("f1"), col("f2"),
        round(when(col("f2") > 0L,
            col("vocab").cast("double") +
              (f1D * f1D).cast("double") /
                (lit(2).cast("decimal(38,0)") * col("f2")).cast("double"))
          .otherwise(col("vocab").cast("double") +
            (f1D * (f1D - 1)).cast("double") / lit(2.0)), 6)
          .as("chao1_6"),
        round(col("f1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("unseen_mass6"))
      .orderBy(groupCol)
  }

  /** Document-frequency table: in how many documents each distinct
    * token appears. `array_distinct` before the explode keeps the
    * shuffle per-document-distinct — a token repeated 1000x in one doc
    * adds one row, which also bounds skew on stopwords. */
  def documentFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))

  /** Sliding-window token chunking — the packing step ahead of
    * tokenizer/training: each document's token stream splits into
    * `chunkSize`-token windows advancing by `stride` (stride <
    * chunkSize gives overlapping context windows). Pure built-ins
    * (sequence/transform/slice + posexplode): map-only until the
    * explode, which multiplies rows by ~n/stride — no shuffle at all.
    * Documents yield at least one (possibly short) chunk; the final
    * window holds the tail. */
  def chunkTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0)
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    val nChunks = greatest(
      (ceil((n - lit(chunkSize)).cast("double") / stride) + 1).cast("int"),
      lit(1))
    df.select(col(idCol), toks.as("__toks"), nChunks.as("__nc"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => slice(col("__toks"), i * stride + 1, lit(chunkSize)))))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk_tokens")
      .withColumn("n_chunk_tokens", size(col("chunk_tokens")))
  }

  /** TF-IDF weights per (document, token): smoothed
    * `tf * (ln((N+1)/(df+1)) + 1)`. Plan shape: one explode+count for
    * per-doc term frequencies (shuffle bounded by distinct (doc,
    * token)), the document-frequency table joined in. N is taken from a
    * scalar count (a column-pruned metadata-cheap job), not a window
    * over the corpus.
    *
    * The df-table join is deliberately UNHINTED: "vocabulary-bounded"
    * is not "broadcastable" — web-scale text has 10^8-10^9 distinct
    * tokens (typos, ids, code), and a forced broadcast() bypasses
    * Spark's size checks and OOMs executors at that scale. Left to
    * AQE/autoBroadcastJoinThreshold, small vocabularies still broadcast
    * (runtime-measured) while unbounded ones degrade gracefully to a
    * shuffle join on `token` — the key both sides are already
    * aggregated by. `minDocFreq > 1` prunes the long hapax tail (often
    * >half of a web vocabulary) from the df table BEFORE the join,
    * which both shrinks the join and is usually what a training
    * pipeline wants anyway. */
  def tfidf(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocFreq: Long = 1L): DataFrame = {
    require(minDocFreq >= 1, "minDocFreq must be >= 1")
    val n = df.count()
    val tf = df.select(col(idCol).as("doc"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("doc", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = documentFrequencies(df, textCol)
      .filter(col("doc_freq") >= minDocFreq)
    tf.join(dfreq, "token")
      .withColumn("tfidf",
        col("tf") * (log((lit(n) + 1.0) / (col("doc_freq") + 1.0)) + 1.0))
      .select(col("doc").as(idCol), col("token"), col("tf"),
        col("doc_freq"), col("tfidf"))
  }

  /** Okapi BM25 term weights per (document, token) — the retrieval
    * scoring layer over the corpus statistics ([[invertedIndex]]
    * generates candidates, this ranks them):
    * `bm25 = ln(idf_arg) * tf_norm` with the Lucene "+1" idf variant
    * (always positive) where
    * `idf_arg = (N - df + 0.5)/(df + 0.5) + 1` and
    * `tf_norm = tf*(k1+1) / (tf + k1*((1-b) + (b*dl)/avgdl))`.
    *
    * Plan shape: ONE corpus-stats job up front (N and total token
    * count — two scalars to the driver), then the per-(doc, token)
    * count with `dl` CARRIED AS A GROUP KEY (functionally dependent on
    * doc, so it rides the tf shuffle for 4 bytes instead of costing a
    * doc-level join), and the document-frequency table joined in
    * unhinted — AQE broadcasts small vocabularies, web-scale ones
    * degrade to a shuffle join on the already-aggregated key (same
    * rationale as [[tfidf]]). `minDocFreq` prunes the hapax tail
    * before the join.
    *
    * Exactness: `idf_arg` is a division-only rational chain over exact
    * integers — bit-identical on any IEEE engine, cross-engine
    * hash-checkable outright. `tf_norm` is rational too but its
    * multiply-add chain is vulnerable to FMA contraction (compilers
    * fuse a*b+c with a single rounding; measured 1-2 ulp differences
    * vs DuckDB on ~17% of rows), so cross-engine gates should compare
    * it rounded (6 decimals leaves ~1e-10 boundary-flip odds per
    * value); the final `ln` is engine-libm-dependent (its ARGUMENT is
    * gated exactly, the product is spec-checked). */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      minDocFreq: Long = 1L): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 must be >= 0 and b in [0, 1]")
    require(minDocFreq >= 1, "minDocFreq must be >= 1")
    val stats = df.select(count(lit(1)).as("n"),
      sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("tot")).head()
    val n = stats.getLong(0)
    require(n > 0, "bm25 requires a non-empty corpus (avgdl is undefined)")
    val avgdl = stats.getLong(1).toDouble / n
    val tf = df.select(col(idCol).as("doc"),
        TextFunctions.tokenCount(col(textCol)).as("dl"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("doc", "dl", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = documentFrequencies(df, textCol)
      .filter(col("doc_freq") >= minDocFreq)
    tf.join(dfreq, "token")
      .withColumn("tf_norm",
        (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .withColumn("idf_arg",
        (lit(n.toDouble) - col("doc_freq") + 0.5) / (col("doc_freq") + 0.5) + 1.0)
      .withColumn("bm25", log(col("idf_arg")) * col("tf_norm"))
      .select(col("doc").as(idCol), col("token"), col("tf"), col("doc_freq"),
        col("dl"), col("tf_norm"), col("idf_arg"), col("bm25"))
  }

  /** Token-budget sequence packing: assign each document to a training
    * sequence by its starting offset in the concatenated token stream —
    * doc d starts at `start_offset` (the exclusive prefix sum of token
    * counts in `idCol` order) and lands in `seq_id = start_offset /
    * seqLen`. The deterministic, shuffle-light packing that turns a
    * corpus into fixed-budget training shards: downstream, one
    * `groupBy(seq_id)` gathers each sequence's docs.
    *
    * The prefix sum rides [[General.withRunningTotal]] — range-
    * partitioned sort + per-partition offsets, never a one-partition
    * running window, so a billion-document corpus packs in parallel. */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Long): DataFrame =
    packSequencesByCount(
      df.select(col(idCol), TextFunctions.tokenCount(col(textCol)).as("n_tokens")),
      idCol, "n_tokens", seqLen)

  /** [[packSequences]] over ANY precomputed per-item count — whitespace
    * tokens, BPE subwords ([[bpeEncode]] + `size`, the q108 path),
    * bytes. Same shape: the range-partitioned prefix sum assigns each
    * item its start offset in the concatenated stream and its
    * `seqLen`-budget training-sequence id, never through a
    * one-partition window. */
  def packSequencesByCount(
      counted: DataFrame,
      idCol: String,
      countCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    General.withRunningTotal(counted.select(col(idCol), col(countCol)),
        Seq(idCol), countCol, "start_offset")
      .withColumn("seq_id", floor(col("start_offset") / seqLen))
      .select(col(idCol), col(countCol), col("start_offset"), col("seq_id"))
  }

  /** Whole-document first-fit-decreasing packing — the bin-packing
    * complement to [[packSequencesByCount]] for consumers that must
    * NOT split a document across training sequences (instruction
    * tuning, long-context curricula): each document goes intact into
    * one `seqLen`-capacity bin, bins are opened per shard, and within
    * a shard documents are placed largest-first into the FIRST bin
    * they fit (classic FFD — within a shard, never more than
    * `11/9·OPT + 6/9` bins).
    *
    * Determinism contract (the whole point — the assignment is
    * oracle-replayable): the shard is
    * `portable_hash32(id-as-string) mod numShards`, the within-shard
    * order is (count DESC, id-string ASC by UTF-8 byte order), and
    * FFD over that order is a pure function — so the output is
    * invariant to input partitioning and identical cross-engine.
    * Documents longer than `seqLen` fail loudly up front (pre-filter
    * with [[tokenBudgetReport]]'s truncation stage if the corpus has
    * them). NULL or duplicate ids would make the replay ambiguous —
    * both fail loudly.
    *
    * Scale shape: ONE hash shuffle on the shard key; inside each
    * shard the rows STREAM through `flatMapSortedGroups` (Spark's
    * shuffle-machinery secondary sort) — the only per-shard state is
    * the bin-fill array (`total_shard_tokens / seqLen` longs, NOT the
    * rows), so a shard's document count is unbounded by executor
    * memory. The linear first-fit scan costs O(bins) per document;
    * pick `numShards` so per-shard bins stay ~10⁴-10⁵ (at 100 TB and
    * seqLen 4k that is numShards ~10⁵ — each shard an independent
    * task, the packing embarrassingly parallel across shards).
    * Output: (`idCol` as string, `n`, `shard`, `bin`) — bin ids are
    * 1-based and dense per shard. */
  def packFirstFitDecreasing(
      counted: DataFrame,
      idCol: String,
      countCol: String,
      seqLen: Long,
      numShards: Int): DataFrame = {
    require(seqLen > 0, s"seqLen ($seqLen) must be positive")
    require(numShards > 0, s"numShards ($numShards) must be positive")
    val prepared = counted.select(
        col(idCol).cast("string").as("__id"),
        col(countCol).cast("long").as("__n"))
    val bad = prepared
      .filter(col("__id").isNull || col("__n").isNull || col("__n") > seqLen)
      .limit(1).collect()
    require(bad.isEmpty,
      s"packFirstFitDecreasing: NULL id/count or count > seqLen ($seqLen) " +
        s"found (e.g. ${bad.headOption}); filter or truncate first — a " +
        "whole-document packer cannot place an over-budget document")
    val dup = prepared.groupBy("__id").count().filter(col("count") > 1L)
      .limit(1).collect()
    require(dup.isEmpty,
      s"packFirstFitDecreasing: duplicate id ${dup.headOption} — the " +
        "deterministic replay needs distinct ids")
    val sharded = prepared
      .withColumn("__shard",
        pmod(TextFunctions.portableTokenHash32(col("__id")),
          lit(numShards.toLong)).cast("int"))
      .withColumn("__negn", -col("__n"))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("__oid", StringType), StructField("__on", LongType),
      StructField("__bin", IntegerType)))
    val cap = seqLen
    Grouped.applyPerGroupSorted(sharded, Seq("__shard"),
        Seq("__negn", "__id"), outSchema) { rows =>
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.map { r =>
        val id = r.getString(0)
        val n = r.getLong(1)
        var j = 0
        while (j < bins.length && bins(j) + n > cap) j += 1
        if (j == bins.length) bins += n else bins(j) += n
        Row(id, n, j + 1)
      }
    }
      .select(col("__oid").as(idCol), col("__on").as("n"),
        col("__shard").as("shard"), col("__bin").as("bin"))
  }

  /** Per-bin padding readout over ANY whole-document packing
    * assignment ([[packFirstFitDecreasing]] output, or an offset
    * packing's `seq_id` with a constant shard): for every (shard,
    * bin), the documents placed, the token fill, the padding the bin
    * burns (`seqLen - fill`, floored at 0) and the overflow it spills
    * (`fill - seqLen`, 0 for a capacity-respecting packer) — plus the
    * two fractions a training-efficiency dashboard plots. Exact
    * integer arithmetic until the two final divisions.
    *
    * Scale shape: ONE map-side-combined aggregation on (shard, bin) —
    * bins-bounded, not corpus-bounded. */
  def binPaddingReport(
      assigned: DataFrame,
      shardCol: String,
      binCol: String,
      countCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen ($seqLen) must be positive")
    assigned.groupBy(col(shardCol).as("shard"), col(binCol).as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col(countCol)).as("fill"))
      .select(col("shard"), col("bin"), col("n_docs"), col("fill"),
        greatest(lit(seqLen) - col("fill"), lit(0L)).as("padding"),
        greatest(col("fill") - lit(seqLen), lit(0L)).as("overflow"),
        (greatest(lit(seqLen) - col("fill"), lit(0L)).cast("double") /
          lit(seqLen.toDouble)).as("padding_frac"),
        (least(col("fill"), lit(seqLen)).cast("double") /
          lit(seqLen.toDouble)).as("utilization"))
  }

  /** Train/test decontamination report: for each evaluation document,
    * how many of its distinct word `n`-grams appear ANYWHERE in the
    * training corpus (the standard benchmark-leakage check run before
    * training). Returns one row per test doc:
    * `(id, n_grams, n_contaminated, contamination)`.
    *
    * Scale shape — the asymmetry is the whole design: train is the
    * 100 TB side, test is a benchmark suite (MBs). The train corpus is
    * therefore NEVER distinct-aggregated corpus-wide; instead its
    * per-doc-distinct n-grams are left-semi-joined against the test
    * gram set (AQE broadcasts the small build side at runtime — no
    * forced hint, same rationale as [[tfidf]]), so the only shuffle
    * whose width matters is a distinct over grams that survived the
    * semi-join — bounded by the TEST gram count, not the train corpus.
    * Everything upstream of that distinct is map-only. */
  def contaminationReport(
      train: DataFrame,
      trainTextCol: String,
      test: DataFrame,
      testIdCol: String,
      testTextCol: String,
      n: Int): DataFrame = {
    import graft.expressions.GraftFunctions
    require(n >= 1, "n must be >= 1")
    val testDocs = test.select(col(testIdCol).as("id"),
      GraftFunctions.shingles(test,
        TextFunctions.tokens(col(testTextCol)), n).as("sh"))
    val testGrams = testDocs.select(col("id"), size(col("sh")).as("n_grams"),
      explode_outer(col("sh")).as("gram"))
    val trainGrams = train.select(
      explode(GraftFunctions.shingles(train,
        TextFunctions.tokens(col(trainTextCol)), n)).as("gram"))
    // Grams seen in train, pruned to the test set BEFORE the distinct.
    val contaminated = trainGrams
      .join(testGrams.select("gram").distinct(), Seq("gram"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1))
    testGrams.join(contaminated, Seq("gram"), "left")
      .groupBy("id", "n_grams")
      .agg(sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"))
      .withColumn("contamination",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") /
            col("n_grams").cast("double")))
      .select(col("id").as(testIdCol), col("n_grams"),
        col("n_contaminated"), col("contamination"))
  }

  /** Leakage-safe split assignment: every document goes to the split
    * chosen by hashing its near-dup CLUSTER representative (the min id
    * of its connected component in the `pairs` graph; singletons
    * represent themselves) — so near-duplicates always land in the
    * same split and a train/val/test cut can never leak a twin across
    * the boundary (the failure mode a row-wise `hashSample` split has
    * on a deduplicated-but-clustered corpus).
    *
    * Scale shape: components run over the (sparse) near-dup pair graph
    * only — corpus-bounded work never enters the iteration; the final
    * assignment is one equi join (component membership is a small
    * fraction of the corpus, AQE broadcasts it) plus a map-side hash.
    * Pass a portable `hash` for cross-engine-reproducible splits. */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      pairACol: String,
      pairBCol: String,
      m: Int,
      hash: Column => Column = c => xxhash64(c)): DataFrame = {
    require(m > 0, "m must be positive")
    val comps = Components.connectedComponents(pairs, pairACol, pairBCol)
      .select(col("node").as(idCol), col("comp"))
    df.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("comp"), col(idCol)))
      .withColumn("split", pmod(hash(col("rep")), lit(m.toLong)).cast("int"))
      .select(col(idCol), col("rep"), col("split"))
  }

  /** Tokenizer-vocabulary builder: corpus token frequencies pruned at
    * `minFreq`, then contiguous ids 0..V-1 assigned in (freq DESC,
    * token) order — the conventional layout where id 0 is the most
    * frequent token and rare tokens get the high ids, so a later
    * truncation to the top-V' ids is a simple `token_id < V'` filter.
    *
    * Scale shape: the frequency aggregation's shuffle is
    * vocabulary-bounded (map-side partial counts), and id assignment
    * rides [[General.withContiguousRowIds]] — a per-partition count
    * pass plus offset arithmetic, NOT a single-partition window, so a
    * billion-token web vocabulary never funnels through one task. */
  def buildVocabulary(
      df: DataFrame,
      textCol: String,
      minFreq: Long = 1L): DataFrame =
    vocabularyFromFrequencies(tokenFrequencies(df, textCol), minFreq)

  /** Id assignment half of [[buildVocabulary]], over ANY `(token,
    * freq)` frame — whitespace tokens, BPE subwords ([[bpeEncode]]
    * output, the q107 path), n-grams. Same contract: contiguous ids
    * 0..V-1 in (freq DESC, token) order via the range-partitioned
    * row-id pass, never a single-partition window. */
  def vocabularyFromFrequencies(
      freq: DataFrame,
      minFreq: Long = 1L): DataFrame = {
    require(minFreq >= 1, "minFreq must be >= 1")
    val f = freq
      .filter(col("freq") >= minFreq)
      .withColumn("__negfreq", -col("freq"))
    General.withContiguousRowIds(f, Seq("__negfreq", "token"), "token_id")
      .select("token_id", "token", "freq")
  }

  /** EXACT heavy hitters over the token stream via the classical
    * two-pass sketch-then-verify algorithm: pass 1 runs a mergeable
    * [[graft.functions.Aggregators.MisraGries]] sketch (capacity
    * `sketchK`) alongside the total-token count in ONE aggregation —
    * any token with frequency > n/(sketchK+1) is guaranteed to be
    * among the <= sketchK candidates; pass 2 exactly counts ONLY the
    * candidates and keeps those strictly above the threshold. Output
    * is exact (the sketch can only over-admit, and the second pass
    * trims), yet neither pass shuffles the vocabulary: pass 1's
    * exchange carries O(sketchK x partitions) counters, pass 2's is
    * candidate-bounded. The candidate list (<= sketchK strings) is the
    * only thing that touches the driver — bounded by construction,
    * independent of corpus size. */
  def heavyHitterTokens(
      df: DataFrame,
      textCol: String,
      sketchK: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val mg = udaf(new graft.functions.Aggregators.MisraGries(sketchK), Encoders.STRING)
    val toks = df.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
    val row = toks.agg(mg(col("token")).as("sketch"), count(lit(1)).as("n")).head()
    val candidates = row.getMap[String, Long](0).keys.toSeq
    val n = row.getLong(1)
    toks.filter(col("token").isin(candidates: _*))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(sketchK + 1L) > n)
  }

  /** Intra-corpus duplicated n-gram statistics — the exact-substring
    * duplication signal of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (ACL'22), at n-gram granularity:
    * for each document, how many of its DISTINCT word `n`-grams occur
    * in at least one OTHER document (per-doc-distinct grams make
    * "appears in >= 2 docs" equivalent to "appears elsewhere"), plus
    * the duplicated fraction — the per-document gate a pipeline uses
    * to drop boilerplate-heavy pages that near-dup pair detection
    * (q14/q44) misses because no single pair crosses its threshold.
    *
    * Scale shape: grams are per-doc DISTINCT before the explode (a
    * boilerplate line repeated 1000x inside one doc adds one row), and
    * with `hashGrams` (the default) every gram crosses the exchange as
    * an 8-byte `xxhash64` long instead of a string — the same
    * hashed-shingle trick the q14 verify joins use; a 64-bit collision
    * needs ~2^32 distinct grams to become likely and only ever
    * OVER-counts a single gram's duplication. The gram-count
    * aggregation is map-side combined (shuffle bounded by distinct
    * grams per partition, never corpus token volume), the duplicated
    * filter prunes BEFORE the semi join back, and the per-doc rollup
    * is a plain hash aggregation on id. */
  def interDocDuplicationStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      hashGrams: Boolean = true): DataFrame = {
    import graft.expressions.GraftFunctions
    require(n >= 1, "n must be >= 1")
    val docs = df.select(col(idCol).as("id"),
      GraftFunctions.shingles(df, TextFunctions.tokens(col(textCol)), n).as("sh"))
    val gramKey = if (hashGrams) xxhash64(col("gram")) else col("gram")
    val gramDocs = docs.select(col("id"), explode(col("sh")).as("gram"))
      .select(col("id"), gramKey.as("g"))
    val dupGrams = gramDocs.groupBy("g")
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select("g")
    val perDoc = gramDocs.join(dupGrams, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup"))
    docs.select(col("id"), size(col("sh")).as("n_grams"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_grams").cast("double")).as("dup_frac"))
  }

  /** Duplicated-span REMOVAL — the cut step of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (ACL'22), at word-n-gram granularity: every token position
    * covered by an n-gram that occurs in >= `minDocs` DISTINCT
    * documents is cut, and the document is rebuilt from the surviving
    * tokens. [[interDocDuplicationStats]] (q64) is the MEASURE
    * (per-doc duplicated fraction, a drop/keep gate); this is the
    * SURGERY — boilerplate headers, license blocks, and navigation
    * chrome are excised from otherwise-unique pages instead of
    * sacrificing the whole document, which is exactly what Lee et al.
    * show matters for LM training data.
    *
    * Scale shape: gram duplication is decided on per-doc DISTINCT
    * occurrences (a span repeated 1000x inside one doc adds one row to
    * the count shuffle, and intra-doc repetition alone never cuts);
    * with `hashGrams` every gram crosses the exchange as an 8-byte
    * `xxhash64` long (q64's trick — a 64-bit collision needs ~2^32
    * distinct grams and only ever OVER-cuts one span); the dup-gram
    * count aggregation is map-side combined and vocabulary-bounded;
    * the duplicated set prunes via left_semi BEFORE rejoining docs;
    * and the rebuild is map-side per-doc array work — positions,
    * coverage, and the surviving-token join never leave the row.
    * The coverage test is O(tokens x duplicated-starts) per document
    * (bounded by doc length², the same bounded-doc-row assumption as
    * every per-doc array op in this file); documents are bounded,
    * corpora are not — the corpus-sized dimensions (gram count
    * shuffle, semi join) stay hash-partitioned and combine map-side.
    *
    * Output: one row per input doc — `n_tokens`, `n_removed`, and the
    * rebuilt `cleaned_text` (empty string when everything was cut).
    * NULL text behaves as the empty document (0 tokens, nothing cut). */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDocs: Int = 2,
      hashGrams: Boolean = true): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(minDocs >= 2,
      s"minDocs ($minDocs) must be >= 2 — 1 would cut every token")
    val emptyS = array().cast("array<string>")
    val docs = df.select(col(idCol).as("id"),
      coalesce(TextFunctions.tokens(col(textCol)), emptyS).as("toks"))
    // positional grams: start i (0-based) -> the n tokens from i,
    // space-joined (tokens are whitespace-split, so the join is
    // collision-free)
    val withGrams = docs.withColumn("grams",
      when(size(col("toks")) < n, emptyS)
        .otherwise(transform(sequence(lit(0), size(col("toks")) - n),
          i => array_join(slice(col("toks"), i + 1, lit(n)), " "))))
    def gramKey(gram: Column): Column =
      if (hashGrams) xxhash64(gram) else gram
    val gramDocs = withGrams
      .select(col("id"), explode(col("grams")).as("gram"))
      .select(col("id"), gramKey(col("gram")).as("g")).distinct()
    val dupGrams = gramDocs.groupBy("g")
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("g")
    val starts = withGrams
      .select(col("id"), posexplode(col("grams")).as(Seq("i", "gram")))
      .select(col("id"), col("i"), gramKey(col("gram")).as("g"))
      .join(dupGrams, Seq("g"), "left_semi")
      .groupBy("id").agg(sort_array(collect_list(col("i"))).as("starts"))
    withGrams.join(starts, Seq("id"), "left")
      .select(col("id"), col("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .withColumn("kept",
        when(size(col("toks")) === 0, emptyS).otherwise(
          filter(col("toks"), (_, p) =>
            !exists(col("starts"), s => p >= s && p < s + n))))
      .select(col("id").as(idCol),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  /** Exact shared-substring detection with offsets — the Lee et al.
    * (ACL'22) EXACT-substring decontamination the shingle-set tools
    * cannot do: every MAXIMAL token span of length >= `minTokens`
    * shared verbatim between a left doc and a right doc, with both
    * start offsets, so a training doc's leaked benchmark span can be
    * surgically excised (or the doc dropped) instead of relying on
    * set-membership at a fixed shingle width ([[contaminationReport]]
    * misses verbatim runs SHORTER than its n and reports no
    * positions; this reports exact spans and positions).
    *
    * Method (suffix-array-free, join-shaped for Spark): every
    * `minTokens`-gram start position is an ANCHOR keyed by the gram's
    * `xxhash64`; anchors equality-join left-vs-right (8-byte keys
    * across the exchange, the q64 trick); each anchor match is then
    * VERIFIED against the real tokens and extended left and right to
    * its maximal run (so a 2^-64 hash collision can only waste a
    * candidate, never emit a wrong span — the LSH-family
    * verification-walk discipline); every anchor inside one maximal
    * span extends to the SAME (ids, starts, len) tuple, so one
    * `dropDuplicates` collapses them. Full recall is structural: a
    * shared span of length >= minTokens contains its own first
    * minTokens-gram as an anchor.
    *
    * Scale shape: anchor tables are map-only explodes; the join is a
    * hash equi-join on the 8-byte gram key, guarded COUNT-FIRST on
    * BOTH sides ([[BucketGuard]] discipline — an anchor key hotter
    * than `maxPositionsPerGram` on either side fails loudly before
    * any pair materializes, naming the side and cardinality; a
    * stop-phrase that verbatim-repeats corpus-wide must be handled
    * upstream, exactly the LSH family's contract). Token arrays ride
    * to the candidates via two joins AFTER candidate pruning (AQE
    * broadcasts the small side); extension work is O(span) per
    * candidate, O(span²) per doc-pair worst case — bounded by doc
    * length, never corpus size. Output: (`left_id`, `right_id`,
    * `left_start`, `right_start`, `span_len`), starts 1-based in the
    * whitespace token stream. */
  def exactSubstringSpans(
      left: DataFrame,
      leftIdCol: String,
      leftTextCol: String,
      right: DataFrame,
      rightIdCol: String,
      rightTextCol: String,
      minTokens: Int,
      maxPositionsPerGram: Int = 10000): DataFrame = {
    val (ldocs, lanch) = substringAnchorSide(left, leftIdCol, leftTextCol,
      "left", minTokens, maxPositionsPerGram)
    exactSubstringSpansFromLeft(ldocs, lanch, right, rightIdCol,
      rightTextCol, minTokens, maxPositionsPerGram)
  }

  /** One side of [[exactSubstringSpans]]: the tokenized doc table
    * `(<side>_id, __<side>t)` and the count-first-guarded anchor
    * position table `(<side>_id, __<side>p, __g)`. Split out so a
    * caller with a FROZEN side — the streaming firewall, whose
    * benchmark corpus never changes for the gate's lifetime — can
    * build and `localCheckpoint` it once instead of re-tokenizing,
    * re-hashing and re-guarding it on every micro-batch. Deterministic
    * given the input, so materializing it cannot change results. */
  private[graft] def substringAnchorSide(
      df: DataFrame,
      idCol: String,
      textCol: String,
      side: String,
      minTokens: Int,
      maxPositionsPerGram: Int): (DataFrame, DataFrame) = {
    require(minTokens >= 2, s"minTokens ($minTokens) must be >= 2")
    require(maxPositionsPerGram >= 1, "maxPositionsPerGram must be >= 1")
    val l = minTokens
    val emptyS = array().cast("array<string>")
    val docs = df.select(col(idCol).as(s"${side}_id"),
      coalesce(TextFunctions.tokens(col(textCol)), emptyS)
        .as(s"__${side}t"))
    val pos = docs
      .select(col(s"${side}_id"),
        when(size(col(s"__${side}t")) < l, emptyS)
          .otherwise(transform(sequence(lit(0), size(col(s"__${side}t")) - l),
            i => array_join(slice(col(s"__${side}t"), i + 1, lit(l)), " ")))
          .as("__grams"))
      .select(col(s"${side}_id"), posexplode(col("__grams")).as(Seq("__i", "__gram")))
      .select(col(s"${side}_id"), (col("__i") + 1).as(s"__${side}p"),
        xxhash64(col("__gram")).as("__g"))
    val guarded = BucketGuard.bounded(pos, Seq("__g"), minSize = 1,
      maxBucket = maxPositionsPerGram, dropOversize = false,
      oversizeMsg = n => concat(
        lit(s"exactSubstringSpans: $side-side anchor gram at "),
        n.cast("string"),
        lit(s" positions exceeds maxPositionsPerGram=$maxPositionsPerGram" +
          " — remove corpus-wide boilerplate upstream or raise the budget")))
    (docs, guarded)
  }

  /** [[exactSubstringSpans]] against a prebuilt (possibly
    * materialized) left side from [[substringAnchorSide]]. */
  private[graft] def exactSubstringSpansFromLeft(
      ldocs: DataFrame,
      lanch: DataFrame,
      right: DataFrame,
      rightIdCol: String,
      rightTextCol: String,
      minTokens: Int,
      maxPositionsPerGram: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens ($minTokens) must be >= 2")
    val l = minTokens
    val cand = anchorCandidates(ldocs, lanch, right, rightIdCol,
      rightTextCol, minTokens, maxPositionsPerGram)
    val lt = col("__leftt"); val rt = col("__rightt")
    val lp = col("__leftp"); val rp = col("__rightp")
    // SPAN-INITIAL pruning: every anchor inside one maximal span (for a
    // fixed left/right alignment) extends to the SAME (starts, len)
    // tuple, so only the span's FIRST anchor — the one whose preceding
    // token pair mismatches (or that sits at a doc start) — needs to
    // walk at all. The old shape extended EVERY anchor (a span of S
    // anchors paid S prefix walks of O(position) each plus S suffix
    // walks — the O(span²) the dedup then threw away); this emits each
    // maximal span exactly once, the left walk vanishes (a span-initial
    // anchor cannot extend left, so left_start = anchor position), and
    // the output set is provably identical.
    val spanInitial = when(lp === 1 || rp === 1, lit(true))
      .otherwise(!(element_at(lt, (lp - 1).cast("int")) <=>
        element_at(rt, (rp - 1).cast("int"))))
    val anchorOk = forall(sequence(lit(0), lit(l - 1)),
      i => element_at(lt, (lp + i).cast("int")) ===
        element_at(rt, (rp + i).cast("int")))
    val limR = least(size(lt) - lp - (l - 1), size(rt) - rp - (l - 1))
    val missR = array_position(
      when(limR < 1, array().cast("array<boolean>"))
        .otherwise(transform(sequence(lit(1), limR.cast("int")),
          i => element_at(lt, (lp + (l - 1) + i).cast("int")) ===
            element_at(rt, (rp + (l - 1) + i).cast("int")))), lit(false))
    val er = when(limR < 1, lit(0L)).otherwise(coalesce(
      when(missR > 0, missR - 1), limR.cast("long")))
    cand
      .filter(spanInitial && anchorOk)
      .select(col("left_id"), col("right_id"),
        lp.cast("long").as("left_start"),
        rp.cast("long").as("right_start"),
        (er + l).as("span_len"))
    // No dropDuplicates: anchor positions are unique per doc
    // (posexplode) and BucketGuard only filters, so each maximal span
    // is emitted EXACTLY once by its span-initial anchor — the old
    // duplicate-collapsing shuffle had nothing left to collapse.
  }

  /** Shared candidate stage of the exact-substring family: hash-equi
    * anchor join, token arrays attached to both sides. Columns:
    * (left_id, right_id, __leftp, __rightp, __leftt, __rightt) — NOT
    * yet token-verified (an anchor row may be a hash collision);
    * consumers apply their own verification filter. */
  private def anchorCandidates(
      ldocs: DataFrame,
      lanch: DataFrame,
      right: DataFrame,
      rightIdCol: String,
      rightTextCol: String,
      minTokens: Int,
      maxPositionsPerGram: Int): DataFrame = {
    val (rdocs, ranch) = substringAnchorSide(right, rightIdCol,
      rightTextCol, "right", minTokens, maxPositionsPerGram)
    lanch.join(ranch, Seq("__g")).drop("__g")
      .join(ldocs, Seq("left_id"))
      .join(rdocs, Seq("right_id"))
  }

  /** Whole-document exact-substring firewall — the drop/keep gate over
    * [[exactSubstringSpans]]: documents sharing ANY verbatim token run
    * >= `minTokens` with the benchmark corpus are dropped wholesale
    * (the policy most eval-decontamination pipelines run;
    * [[removeSpansAt]] is the keep-and-cut alternative when the doc
    * should survive minus the leak). Verdicts are per-document and
    * depend only on the STATIC benchmark side, so the gate is
    * partition- and arrival-order-invariant — the property the
    * streaming replay's oracle rests on.
    *
    * Scale shape: [[exactSubstringSpans]]'s candidate machinery
    * (hashed anchors, count-first guard) reduced to its cheapest
    * consumer — only DISTINCT contaminated ids survive the span
    * table, then ONE left_anti equi join (AQE broadcasts the id
    * set). */
  def dropExactSubstringMatches(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      minTokens: Int,
      maxPositionsPerGram: Int = 10000): DataFrame = {
    val (bdocs, banch) = substringAnchorSide(benchmark, benchIdCol,
      benchTextCol, "left", minTokens, maxPositionsPerGram)
    dropExactSubstringMatchesAgainstIndex(docs, idCol, textCol,
      bdocs, banch, minTokens, maxPositionsPerGram)
  }

  /** [[dropExactSubstringMatches]] against a prebuilt benchmark side
    * ([[substringAnchorSide]] with side = "left") — the streaming
    * firewall builds and materializes the benchmark tokens + guarded
    * anchors once and drops every micro-batch against the blocks. */
  private[graft] def dropExactSubstringMatchesAgainstIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchDocs: DataFrame,
      benchAnchors: DataFrame,
      minTokens: Int,
      maxPositionsPerGram: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens ($minTokens) must be >= 2")
    val l = minTokens
    // The drop verdict needs only EXISTENCE of a shared run, and a run
    // >= minTokens exists iff some anchor candidate verifies against
    // the real tokens — so no span-initial pruning and, above all, no
    // extension walk: the (starts, len) the span path computes would
    // be discarded by the distinct() here anyway.
    val lt = col("__leftt"); val rt = col("__rightt")
    val lp = col("__leftp"); val rp = col("__rightp")
    val anchorOk = forall(sequence(lit(0), lit(l - 1)),
      i => element_at(lt, (lp + i).cast("int")) ===
        element_at(rt, (rp + i).cast("int")))
    val contaminated = anchorCandidates(benchDocs, benchAnchors,
        docs, idCol, textCol, minTokens, maxPositionsPerGram)
      .filter(anchorOk)
      .select(col("right_id").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Offset-addressed span removal — the surgical CUT that consumes
    * [[exactSubstringSpans]] output (or any (id, start, len) span
    * table): every token position covered by a span is excised and
    * the document rebuilt from the survivors, so a training doc
    * leaking a benchmark span loses exactly the leaked run, not the
    * whole page ([[removeDuplicatedSpans]] is the same surgery
    * decided by corpus-wide gram frequency; this one is decided by an
    * explicit span list — detect with offsets, then cut).
    *
    * Scale shape: spans aggregate to ONE (start, len) array per doc
    * (span count is bounded by doc length — the bounded-doc-row
    * assumption of every per-doc array op in this file), ONE equi
    * join back to the corpus (AQE broadcasts a small span side), and
    * the rebuild is map-side per-doc array work. Docs with no spans
    * pass through unchanged via the left join. Output: one row per
    * input doc — (`idCol`, `n_tokens`, `n_removed`, `cleaned_text`). */
  def removeSpansAt(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame,
      spanIdCol: String,
      startCol: String,
      lenCol: String): DataFrame = {
    val emptyS = array().cast("array<string>")
    val perDoc = spans.select(col(spanIdCol).as("id"),
        struct(col(startCol).cast("long").as("s"),
          col(lenCol).cast("long").as("n")).as("sp"))
      .groupBy("id").agg(collect_list(col("sp")).as("sps"))
    val docs = df.select(col(idCol).as("id"),
      coalesce(TextFunctions.tokens(col(textCol)), emptyS).as("toks"))
    docs.join(perDoc, Seq("id"), "left")
      .withColumn("sps", coalesce(col("sps"),
        array().cast("array<struct<s:bigint,n:bigint>>")))
      .withColumn("kept",
        filter(col("toks"), (_, p0) =>
          !exists(col("sps"), sp =>
            p0 + 1 >= sp.getField("s") &&
              p0 + 1 < sp.getField("s") + sp.getField("n"))))
      .select(col("id").as(idCol),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  /** Boilerplate LINE removal — the line-granularity companion to
    * [[removeDuplicatedSpans]] and the recipe CCNet (Wenzek et al.,
    * LREC'20) actually runs on web text: a line (navigation chrome,
    * cookie banner, license header) that appears verbatim in >=
    * `minDocs` DISTINCT documents is dropped from every document, and
    * each document is rebuilt from its surviving lines in order.
    * Word-n-gram spans catch re-flowed prose; line dedup catches the
    * template chrome that IS line-structured — the two are run
    * together in production cleaning stacks.
    *
    * Duplication is decided on per-doc-DISTINCT line occurrences, so
    * a line repeated inside ONE document never qualifies by itself
    * (intra-doc repetition is [[TextFunctions]] repetition-metric
    * territory, not boilerplate). Lines shorter than `minLineChars`
    * after trimming are exempt from removal — CCNet's guard against
    * deleting every blank/short connector line and gutting paragraph
    * structure. Line identity is the TRIMMED line (leading/trailing
    * whitespace is rendering noise), but documents are rebuilt from
    * their ORIGINAL lines, order preserved.
    *
    * Scale shape (exactly [[removeDuplicatedSpans]]'s): lines cross
    * the exchange once as per-doc-distinct rows into one map-side-
    * combined, line-vocabulary-bounded count; the boilerplate set
    * prunes via `left_semi` BEFORE rejoining documents; the rebuild is
    * map-side per-doc array work. With `hashLines` the exchange
    * carries 8-byte `xxhash64` longs instead of line text (a 64-bit
    * collision needs ~2^32 distinct lines and only ever OVER-removes
    * one line class).
    *
    * Output: one row per input doc — `n_lines`, `n_removed`, and the
    * rebuilt `cleaned_text` (lines re-joined with `\n`; empty string
    * when everything was boilerplate). NULL text = the empty document. */
  def removeBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 2,
      minLineChars: Int = 5,
      hashLines: Boolean = true): DataFrame = {
    require(minDocs >= 2,
      s"minDocs ($minDocs) must be >= 2 — 1 would drop every line")
    require(minLineChars >= 1,
      s"minLineChars ($minLineChars) must be >= 1")
    val emptyS = array().cast("array<string>")
    val docs = df.select(col(idCol).as("id"),
      coalesce(split(col(textCol), "\n"), emptyS).as("lines"))
    def lineKey(line: Column): Column =
      if (hashLines) xxhash64(line) else line
    // candidate = trimmed, long enough to ever be removable
    val candLines = docs
      .select(col("id"), explode(col("lines")).as("line"))
      .select(col("id"), trim(col("line")).as("t"))
      .filter(length(col("t")) >= minLineChars)
      .select(col("id"), lineKey(col("t")).as("g")).distinct()
    val boiler = candLines.groupBy("g")
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("g")
    val removedKeys = candLines
      .join(boiler, Seq("g"), "left_semi")
      .groupBy("id").agg(collect_set(col("g")).as("rm"))
    docs.join(removedKeys, Seq("id"), "left")
      .select(col("id"), col("lines"),
        coalesce(col("rm"),
          array().cast(if (hashLines) "array<bigint>" else "array<string>"))
          .as("rm"))
      .withColumn("kept",
        filter(col("lines"), l =>
          length(trim(l)) < minLineChars ||
            !array_contains(col("rm"), lineKey(trim(l)))))
      .select(col("id").as(idCol),
        size(col("lines")).as("n_lines"),
        (size(col("lines")) - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), "\n").as("cleaned_text"))
  }

  /** Token-budget corpus selection — the DATA BUDGET ALLOCATOR of
    * mixture building: within each group (crawl source, language,
    * domain), rank documents by quality and keep the best-ranked
    * PREFIX whose cumulative token count fits `budgetTokens` — "give
    * me the best 2B tokens of each source" as one deterministic
    * operator. Composes with [[compositionReport]] (which argues the
    * per-source budgets) and the sampling family (which takes RATES —
    * this takes an absolute token budget, the unit training actually
    * plans in).
    *
    * Selection is the PREFIX rule, stated deliberately: documents are
    * ranked by (`scoreCol` desc, id asc — a total order, so the
    * ranking is reproducible), and a document is kept iff its
    * INCLUSIVE cumulative token count in that order is <= the budget.
    * A document too large for the remaining budget therefore ends the
    * group's selection (its tokens still occupy the prefix) — the
    * greedy skip-and-continue alternative is an inherently sequential
    * scan that cannot be stated engine-independently, and its "fill
    * the last 2%" gain is noise at real budgets.
    *
    * Scale shape: the ranking + cumulative count is
    * [[General.withRunningTotal]]'s range-partitioned two-pass prefix
    * sum over (group, -score, id) — NEVER a
    * `Window.partitionBy(group)` running sum, which funnels each
    * group (a whole crawl source!) through one task. Group start
    * offsets come back out of the global prefix with one
    * group-bounded aggregation + join (unhinted — AQE broadcasts the
    * tiny per-group offset table), and the budget test is a map-side
    * filter. Rows with NULL score or NULL token count are dropped
    * (they cannot be ranked), not sorted to an arbitrary end.
    *
    * Output: the SELECTED rows — group, id, `score`, `n_tokens`,
    * `cum_tokens` (inclusive within the group's ranking). */
  def tokenBudgetSelect(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      scoreCol: String,
      tokenCountCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens ($budgetTokens) must be >= 1")
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
        col(scoreCol).cast("double").as("score"),
        col(tokenCountCol).cast("long").as("n_tokens"))
      .filter(col("score").isNotNull && col("n_tokens").isNotNull)
      .withColumn("__neg", -col("score"))
    val rt = General.withRunningTotal(base, Seq("grp", "__neg", "id"),
      "n_tokens", "__rt")
    // the global exclusive prefix is nondecreasing in sort order, so
    // each group's start offset is its min — one group-bounded agg
    val offs = rt.groupBy("grp").agg(min(col("__rt")).as("__g0"))
    rt.join(offs, Seq("grp"))
      .withColumn("cum_tokens", col("__rt") - col("__g0") + col("n_tokens"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("grp").as(groupCol), col("id").as(idCol),
        col("score"), col("n_tokens"), col("cum_tokens"))
  }

  /** Inverted-index build with CAPPED posting lists: one row per
    * (token, retained document), keeping each token's top `k` documents
    * by (term frequency desc, id asc) plus the token's full document
    * frequency — the text-retrieval support structure (BM25 candidate
    * generation, keyword search over the corpus).
    *
    * The cap is the scale design, not a convenience: an uncapped
    * posting list for a stopword is corpus-sized, and the
    * `collect_list`-per-token formulation funnels it through one task.
    * Here the per-token doc count and the bounded
    * [[graft.functions.Aggregators.TopK]] heap ride ONE aggregation —
    * partial aggregation reduces every map task's slice to <= k
    * candidates before the shuffle, so the exchange carries
    * O(k x partitions) rows for the hottest stopword, and `minDocFreq`
    * prunes the hapax tail after the (already vocabulary-bounded)
    * aggregation. */
  def invertedIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDocFreq: Long = 1L): DataFrame = {
    import org.apache.spark.sql.Encoders
    require(k > 0, "k must be positive")
    require(minDocFreq >= 1, "minDocFreq must be >= 1")
    val topk = udaf(new graft.functions.Aggregators.TopK(k),
      Encoders.product[graft.functions.Aggregators.Scored])
    df.select(col(idCol).as("doc"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("token", "doc").agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"),
        topk(col("tf").cast("double"), col("doc").cast("long")).as("__top"))
      .filter(col("doc_freq") >= minDocFreq)
      .select(col("token"), col("doc_freq"), explode(col("__top")).as("__e"))
      .select(col("token"), col("doc_freq"), col("__e.id").as(idCol),
        col("__e.score").cast("long").as("tf"))
  }

  /** Content-defined chunking (the rsync/LBFS boundary trick at token
    * granularity): a token whose hash satisfies `hash % m == r` CLOSES
    * the current chunk, so chunk boundaries are a pure function of
    * local content — insert or delete a paragraph and every chunk
    * outside it keeps its exact fingerprint, which is what makes
    * chunk-level dedup robust to near-identical document versions
    * where whole-doc fingerprints ([[graft.functions.TextFunctions.fingerprint]])
    * and fixed-stride windows ([[chunkTokens]]) both miss. Expected
    * chunk length is `m` tokens (geometric tail). Returns one row per
    * chunk: `(id, chunk_idx, n_tokens, chunk_fp)` with `chunk_fp` the
    * md5 of the space-joined chunk — join chunks on `chunk_fp` across
    * docs/corpora for the dedup signal.
    *
    * Scale shape: both shuffles are doc-keyed — the boundary-counting
    * window partitions by document (pos-sorted WITHIN each doc, never
    * a global sort), and the chunk rebuild aggregates per (doc,
    * chunk) with a collect bounded by the chunk length, not the doc.
    * The default `tokenHash` is [[graft.functions.TextFunctions.portableTokenHash32]]
    * so boundaries and fingerprints are cross-engine reproducible;
    * swap in a cheaper hash (crc32/xxhash64) when oracle portability
    * is not needed. */
  def contentDefinedChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      m: Int,
      r: Int = 0,
      tokenHash: Column => Column = TextFunctions.portableTokenHash32(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m > 0, "m must be positive")
    require(r >= 0 && r < m, "r must lie in [0, m)")
    val toks = df.select(col(idCol).as("__id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val flagged = toks.withColumn("__b",
      when(pmod(tokenHash(col("__tok")), lit(m.toLong)) === r, 1L).otherwise(0L))
    // chunk index = boundaries strictly BEFORE this token (the boundary
    // token itself still belongs to the chunk it closes)
    val w = Window.partitionBy("__id").orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("chunk_idx", coalesce(sum(col("__b")).over(w), lit(0L)).cast("int"))
      .groupBy(col("__id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            s => s.getField("__tok")))).as("chunk_fp"))
      .select(col("__id").as(idCol), col("chunk_idx"), col("n_tokens"),
        col("chunk_fp"))
  }

  /** Chunk-level cross-document duplication report over
    * [[contentDefinedChunks]]: for each document, how many of its CDC
    * chunks (and what token share) also appear — by exact fingerprint —
    * in at least one OTHER document. This is the deployable 100 TB
    * dedup signal: boilerplate and mirrored passages surface as shared
    * chunk fingerprints at a fraction of the cost of all-n-gram
    * comparison ([[interDocDuplicationStats]] touches every n-gram;
    * this touches ~1/m as many chunk rows), and the content-defined
    * boundaries make it robust to insertions that shift every
    * fixed-stride window.
    *
    * Scale shape on top of the chunker's own: the duplicated-set
    * aggregation is fingerprint-bounded with map-side combine (the
    * DISTINCT doc count per fingerprint shuffles one (fp, doc) row per
    * chunk), the semi join prunes to duplicated chunks before the
    * per-doc rollup, and both per-doc aggregations are plain hash
    * aggs on the id. */
  def cdcDuplicationStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      m: Int,
      r: Int = 0,
      tokenHash: Column => Column = TextFunctions.portableTokenHash32(_)): DataFrame = {
    val chunks = contentDefinedChunks(df, idCol, textCol, m, r, tokenHash)
    val dupFps = chunks.groupBy("chunk_fp")
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select("chunk_fp")
    val perDoc = chunks.join(dupFps, Seq("chunk_fp"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_chunks"), sum("n_tokens").as("n_dup_tokens"))
    chunks.groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"), col("n_tokens"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        (coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_token_frac"))
  }

  /** Deterministic global corpus shuffle + shard assignment: order the
    * corpus by a portable hash of its id (a fixed pseudo-random
    * permutation — the pre-training shuffle that decorrelates adjacent
    * source documents), assign contiguous positions with the
    * range-partitioned [[General.withContiguousRowIds]] (never a
    * one-partition window), and deal positions round-robin into
    * `nShards` equal output shards. Rerunnable: same ids -> same
    * permutation -> same shards, on any cluster size. */
  /** Deterministic per-group ROW cap — the mixture control that
    * actually drops documents ("no domain exceeds 1% of the corpus"),
    * next to [[mixtureWeights]]' weight-level recipe: every group
    * keeps at most `cap = max(1, ⌊maxShare·N⌋)` rows, chosen as the
    * `cap` smallest portable hashes of `(salt, id)` with ties to the
    * smaller id — a pure function of (salt, membership), so reruns
    * and engine changes keep the identical survivor set, and adding
    * rows to one group can displace only that group's largest-hash
    * survivors (bounded churn; the global N moves the cap itself, a
    * documented coupling — pin `maxShare·N` to a fixed budget by
    * construction if cross-run set stability across corpus growth is
    * required). The `max(1, …)` floor means a cap below one row keeps
    * each group's single earliest-hash representative rather than
    * silently emptying the corpus.
    *
    * Scale shape: within-group hash ranks ride
    * [[General.withContiguousRowIdsPerGroup]]'s skew-proof GLOBAL
    * range-partitioned sort — never a per-group window (one 40%-mass
    * domain would single-task it) and never a k-bounded heap: this is
    * deliberately NOT [[General.exactCapPerStratum]] (whose bounded
    * heap is ideal for SMALL absolute caps — eval samples, audit
    * slices) because a share-derived cap is itself corpus-sized (1%
    * of 10¹¹ documents is 10⁹ ids — no per-group heap holds that);
    * rank-and-filter is the shape that survives the cap growing with
    * the data. NULL ids fail loudly (no stable identity); NULL groups
    * form their own stratum. Returns the surviving rows with their
    * original columns. */
  def capGroupShare(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      maxShare: Double,
      salt: String): DataFrame = {
    require(groupCols.nonEmpty, "capGroupShare needs group columns")
    require(maxShare > 0.0 && maxShare <= 1.0,
      s"capGroupShare: maxShare ($maxShare) must be in (0, 1]")
    TempCols.reserve(df, "capGroupShare", "__h", "__rk")
    val nullIds = df.filter(col(idCol).isNull).limit(1).count()
    require(nullIds == 0L,
      s"capGroupShare: NULL $idCol rows have no stable cap identity")
    val total = df.count()
    require(total > 0L, "capGroupShare: empty input")
    val cap = math.max(1L, math.floor(maxShare * total).toLong)
    val h = TextFunctions.portableTokenHash32(
      concat(lit(salt), lit(":"), col(idCol).cast("string")))
    General.withContiguousRowIdsPerGroup(
        df.withColumn("__h", h), groupCols, Seq("__h", idCol), "__rk")
      .filter(col("__rk") < cap)
      .drop("__h", "__rk")
  }

  def shuffleShard(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val keyed = df.withColumn("__skey", md5(col(idCol).cast("string")))
    General.withContiguousRowIds(keyed, Seq("__skey", idCol), "pos")
      .withColumn("shard", (col("pos") % nShards).cast("int"))
      .drop("__skey")
  }

  /** Training-shard manifest with GLOBAL token offsets — the resume
    * table a training scheduler reads: [[shuffleShard]]'s
    * deterministic shards rolled up to (docs, tokens) per shard, plus
    * each shard's exclusive global token offset, so "resume from token
    * 4.2B" maps to a (shard, position-within-shard) without scanning
    * data. The offsets are also the contract a packing stage
    * ([[packSequencesByCount]]) and a data-budget stage
    * ([[tokenBudgetSelect]]) schedule against.
    *
    * Scale shape: the shard assignment is [[shuffleShard]]'s
    * range-partitioned machinery; the rollup is one
    * map-side-combined aggregation onto `nShards` rows; offsets over
    * that shard-bounded frame go through
    * [[General.withRunningTotal]] — even at 8 rows, the
    * no-single-partition-window discipline is cheaper than defending
    * an exception to it.
    *
    * Output: (`shard`, `n_docs`, `n_tokens`, `token_offset`), one row
    * per non-empty shard. */
  def shardManifest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Int): DataFrame = {
    val sharded = shuffleShard(
      df.select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("__nt")),
      idCol, nShards)
    val perShard = sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
    General.withRunningTotal(perShard, Seq("shard"), "n_tokens",
        "token_offset")
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("token_offset"))
  }

  /** HYBRID retrieval: a cheap lexical recall stage over the full
    * corpus, then an exact dense (cosine) re-rank over only the
    * surviving candidates — the two-stage shape retrieval-augmented
    * data curation runs at corpus scale, where scoring every embedding
    * against every query is unaffordable but a term filter is one
    * codegen'd scan.
    *
    * Stage 1 ranks by TOTAL term frequency of `queryTerms` (an integer
    * — deterministic and engine-exact, no float-ranking boundary
    * wobble at the candidate cutoff), ties by id ascending, keeping
    * `nCandidates` docs via TakeOrderedAndProject (per-partition
    * bounded heaps — the corpus is never sorted). Stage 2 joins the
    * candidate ids to the embedding table — candidates are a
    * broadcast-sized set, so the embedding side probes a broadcast
    * hash, no shuffle — scores the survivors with the native codegen
    * cosine, and keeps the final `k`, again heap-based. `excludeIds`
    * drops known ids (the query document itself). */
  def hybridSearch(
      docs: DataFrame,
      docIdCol: String,
      textCol: String,
      embeddings: DataFrame,
      vecIdCol: String,
      vecCol: String,
      queryTerms: Seq[String],
      queryVec: Seq[Float],
      nCandidates: Int,
      k: Int,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct.size == queryTerms.size,
      "queryTerms must be distinct (total-tf sums per-term counts)")
    require(nCandidates >= k, "nCandidates must be >= k")
    // ONE token-array traversal per row (isin over the term set), not
    // one filter pass per term — at Q terms the per-term formulation
    // tokenizes and walks the array Q times inside the full-corpus scan
    val toks = TextFunctions.tokens(col(textCol))
    val lexTf = size(filter(toks, x => x.isin(queryTerms: _*)))
    val scored = docs
      .select(col(docIdCol).as("doc_id"), lexTf.as("lex_tf"))
      .filter(col("lex_tf") > 0)
    val candidates =
      (if (excludeIds.isEmpty) scored
       else scored.filter(!col("doc_id").isin(excludeIds: _*)))
        .orderBy(col("lex_tf").desc, col("doc_id"))
        .limit(nCandidates)
    candidates
      .join(embeddings.select(col(vecIdCol).as("doc_id"), col(vecCol).as("__v")),
        "doc_id")
      .withColumn("cosine",
        graft.expressions.GraftFunctions.cosineF32(embeddings,
          col("__v"), Similarity.vectorLit(queryVec)))
      .select(col("doc_id"), col("lex_tf"), col("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(k)
  }

  /** Corpus bigram language-model score per document: the KenLM-style
    * quality filter approximated at bigram order — train MLE
    * conditional probabilities `P(w2|w1) = c(w1,w2) / c_prefix(w1)` on
    * the corpus itself, then score each document by the mean log
    * probability of its bigrams. Low scores = improbable token
    * sequences (gibberish, boilerplate soup, OCR noise) — the classic
    * LM-perplexity filter without an external model artifact. Returns
    * (id, `n_bigrams`, `avg_logprob`); documents with fewer than two
    * tokens carry no bigram evidence and are excluded.
    *
    * Scale shape: the bigram count table is one hashed (w1, w2)
    * shuffle bounded by the bigram vocabulary (like [[termFrequencies]]
    * — NOT the corpus), prefix counts aggregate that same bounded
    * table, and scoring joins the doc-bigram stream against both count
    * tables on keys they are already aggregated by — unhinted, so AQE
    * broadcasts small vocabularies and web-scale ones degrade to
    * shuffle joins instead of OOM. Self-training on the scored corpus
    * keeps everything distributed; to score against a FIXED reference
    * corpus, build the count tables from that corpus and join here. */
  def bigramLogProbScore(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val docs = df.select(col(idCol).as("id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
    val bigrams = docs.select(col("id"),
        explode(transform(sequence(lit(0), size(col("__toks")) - 2),
          i => struct(element_at(col("__toks"), i + 1).as("w1"),
            element_at(col("__toks"), i + 2).as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bgCounts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    val prefCounts = bgCounts.groupBy("w1").agg(sum(col("__c2")).as("__c1"))
    bigrams
      .join(bgCounts, Seq("w1", "w2"))
      .join(prefCounts, Seq("w1"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log(col("__c2").cast("double") / col("__c1").cast("double")))
          .as("avg_logprob"))
  }

  /** Trigram stupid-backoff language-model scoring of a CANDIDATE
    * corpus against a REFERENCE corpus — the production upgrade of
    * [[bigramLogProbScore]]'s self-trained bigram: train n-gram counts
    * on the reference (the high-quality sample: curated wiki, a
    * vetted crawl slice), score every candidate position with the
    * highest-order n-gram the reference has evidence for, discounting
    * each backoff level by `alpha` (Brants et al.'s "stupid backoff" —
    * the web-scale scheme that skips smoothing arithmetic entirely
    * because relative frequencies + a constant discount rank documents
    * just as well at corpus scale):
    *
    *   S(w | w2, w1) = c3(w2,w1,w) / c2(w2,w1)               if seen
    *                 = alpha  · c2(w1,w) / c1(w1)            else if seen
    *                 = alpha² · max(c1(w), 1) / N            otherwise
    *
    * (the unigram floor counts an out-of-vocabulary token as 1 — the
    * [[graft.operators.Classify]] Laplace-floor discipline, so apply
    * never fails on unseen text). Training on a SEPARATE reference is
    * what makes the backoff real: self-scoring would find every
    * trigram in its own counts and the lower orders would be dead
    * code. Only candidate positions with a full trigram context are
    * scored (docs need ≥ 3 tokens); `avg_logscore` is the mean
    * `ln S` — gibberish that never assembles a reference trigram pays
    * the alpha²-discounted unigram floor at every position.
    *
    * Scale shape: three reference count tables from three map-side
    * explodes, each ONE hashed shuffle bounded by its n-gram
    * vocabulary (the trigram table is the honest cost — near
    * reference-sized on diverse text, exactly as a real LM's is);
    * scoring left-joins the candidate position stream against the
    * count tables on keys they are already aggregated by, all
    * unhinted — AQE broadcasts small references, web-scale ones
    * degrade to shuffle joins instead of OOM. `N` is one driver
    * scalar. Backoff is decided per position by NULL-ness of the
    * joined counts — no second scoring pass.
    *
    * Output: (id, `n_scored`, `avg_logscore`). */
  def stupidBackoffScore(
      ref: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha ($alpha) must be in (0, 1]")
    def toksOf(d: DataFrame) =
      d.select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__toks"))
    def trisOf(d: DataFrame) = toksOf(d).filter(size(col("__toks")) >= 3)
      .select(col("id"),
        explode(transform(sequence(lit(0), size(col("__toks")) - 3),
          i => struct(element_at(col("__toks"), i + 1).as("w2"),
            element_at(col("__toks"), i + 2).as("w1"),
            element_at(col("__toks"), i + 3).as("w")))).as("g"))
      .select(col("id"), col("g.w2").as("w2"), col("g.w1").as("w1"),
        col("g.w").as("w"))
    val refToks = toksOf(ref)
    val c1 = refToks.select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__c1"))
    val c2 = refToks.filter(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__toks")) - 2),
          i => struct(element_at(col("__toks"), i + 1).as("w1"),
            element_at(col("__toks"), i + 2).as("w")))).as("g"))
      .select(col("g.w1").as("w1"), col("g.w").as("w"))
      .groupBy("w1", "w").agg(count(lit(1)).as("__c2"))
    val c3 = trisOf(ref)
      .groupBy("w2", "w1", "w").agg(count(lit(1)).as("__c3"))
    val n = c1.agg(coalesce(sum(col("__c1")), lit(0L))).head().getLong(0)
    require(n > 0L, "stupidBackoffScore: the reference corpus is empty")
    val scored = trisOf(df)
      .join(c3, Seq("w2", "w1", "w"), "left")
      .join(c2.select(col("w1").as("w2"), col("w").as("w1"),
        col("__c2").as("__c2ctx")), Seq("w2", "w1"), "left")
      .join(c2, Seq("w1", "w"), "left")
      .join(c1.select(col("w").as("w1"), col("__c1").as("__c1w1")),
        Seq("w1"), "left")
      .join(c1, Seq("w"), "left")
    val s = when(col("__c3").isNotNull,
        col("__c3").cast("double") / col("__c2ctx").cast("double"))
      .when(col("__c2").isNotNull,
        lit(alpha) * col("__c2").cast("double") / col("__c1w1").cast("double"))
      .otherwise(lit(alpha * alpha) *
        greatest(coalesce(col("__c1"), lit(0L)), lit(1L)).cast("double") /
        lit(n.toDouble))
    scored.groupBy("id")
      .agg(count(lit(1)).as("n_scored"), avg(log(s)).as("avg_logscore"))
  }

  /** Corpus composition + vocabulary-coverage report: the mixture
    * table every training run starts from (The-Pile/Dolma-style "what
    * is in this corpus, and how much of it") — one row per slice
    * (source, language, crawl, …) with document/character/token
    * totals, each slice's share of the corpus, and the slice's
    * OUT-OF-VOCABULARY token rate against a tokenizer vocabulary
    * ([[vocabularyFromFrequencies]] output, or any one-column token
    * frame). The OOV rate is the mixture-weighting signal coverage
    * arguments are made with: a slice whose tokens the tokenizer
    * cannot represent is noise at training time no matter how many
    * bytes it contributes.
    *
    * Scale shape: one doc-level aggregation (slice-bounded) + one
    * token explode left-joined to the vocabulary UNHINTED (AQE
    * broadcasts real vocabularies) and aggregated map-side-combined to
    * the same slice keys; the corpus token total is ONE driver scalar
    * off the slice-level frame (the q86/q91 bounded-scalar pattern —
    * never a whole-frame window). Shares are single divisions of
    * exact longs.
    *
    * Output: sliceCols ++ (n_docs, n_chars, n_tokens, token_share,
    * oov_tokens, oov_rate). */
  def compositionReport(
      df: DataFrame,
      sliceCols: Seq[String],
      textCol: String,
      vocab: DataFrame,
      vocabTokenCol: String = "token"): DataFrame = {
    require(sliceCols.nonEmpty, "compositionReport needs slice columns")
    val docAgg = df.groupBy(sliceCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))
    val v = vocab.select(col(vocabTokenCol).as("__w"))
      .distinct().withColumn("__in_v", lit(true))
    val tokAgg = df.select(sliceCols.map(col) :+
        explode(TextFunctions.tokens(col(textCol))).as("__w"): _*)
      .join(v, Seq("__w"), "left")
      .groupBy(sliceCols.map(col): _*)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_v").isNull, 1L).otherwise(0L)).as("oov_tokens"))
    val total = tokAgg.agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .head().getLong(0)
    require(total > 0L, "compositionReport: the corpus has no tokens")
    docAgg.join(tokAgg, sliceCols, "left")
      .select(sliceCols.map(col) ++ Seq(
        col("n_docs"), col("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)).cast("double") /
          lit(total.toDouble)).as("token_share"),
        coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0L,
          col("oov_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate")): _*)
  }

  /** Temperature-scaled mixture weights per source — the data-recipe
    * step that turns raw per-source token counts into sampling weights
    * (the multilingual/multi-source rebalancing recipe: `w_i ∝ p_i^τ`
    * with temperature τ < 1 upsampling the tail sources, τ = 1 the
    * natural distribution, τ → 0 uniform). Reports, per source: doc
    * and token counts, the natural share `p`, the temperature weight
    * `w`, and the oversampling factor `w / p` (how many epochs of a
    * source a `w`-proportional sampler effectively takes relative to
    * one natural pass — the number to check against an
    * acceptable-repetition bound before training).
    *
    * Scale shape: ONE map-side-combined aggregation onto the source
    * key (source-bounded output; token counts via
    * [[graft.functions.TextFunctions.tokenCount]] never explode the
    * stream), then arithmetic over the tiny source table — `p^τ`
    * terms round at 12 and normalize through a DECIMAL sum so the
    * result is fold-order-exact. NULL sources form their own stratum.
    * Output: (source, n_docs, n_tokens, p6, w6, oversample6). */
  def mixtureWeights(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      temperature: Double): DataFrame = Blocks.scoped { s =>
    require(temperature > 0.0 && temperature <= 1.0,
      s"temperature ($temperature) must be in (0, 1] — above 1 would " +
        "upsample the HEAD, which is never the recipe")
    val counts = s.checkpoint(df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(TextFunctions.tokenCount(col(textCol)), lit(0)))
          .as("n_tokens"))) // the one corpus scan; totals below reuse it
    // two bounded driver scalars over the SOURCE-BOUNDED count table
    // ([[compositionReport]]'s normalization pattern — never a
    // single-partition window)
    val total = counts.agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .head().getLong(0)
    require(total > 0L, "mixtureWeights: the corpus has no tokens")
    val withPt = counts
      .withColumn("__p", col("n_tokens").cast("double") / lit(total.toDouble))
      .withColumn("__pt",
        round(pow(col("__p"), lit(temperature)), 12).cast("decimal(38,12)"))
    // the exact DECIMAL sum converts to double ONCE; the division then
    // runs in double on both engines (decimal/decimal result scales
    // are engine-specific, double division is IEEE on both)
    val ptSum = withPt.agg(sum(col("__pt"))).head().getDecimal(0).doubleValue()
    val result = withPt
      .withColumn("__w", col("__pt").cast("double") / lit(ptSum))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("__p"), 6).as("p6"),
        round(col("__w"), 6).as("w6"),
        round(col("__w") / col("__p"), 6).as("oversample6"))
    // the output is source-bounded: materialize it locally so the
    // result holds no checkpoint blocks
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(result.collect(): _*), result.schema)
  }

  /** Budget-capped temperature allocation — the full data-recipe
    * solver [[mixtureWeights]] feeds: split a token BUDGET across
    * sources proportionally to temperature weights `w ∝ p^τ`, but
    * never give a source more than `maxEpochs` passes over its own
    * tokens. This is exact WATERFILLING: allocation
    * `A_i = min(C_i, λ·w_i)` with the level λ chosen so ΣA = budget
    * (caps `C_i = maxEpochs · n_tokens_i`). The capped set is a
    * provable PREFIX of sources ordered by `r_i = C_i / w_i`: capping
    * a below-water source only RAISES the level (algebra in the spec),
    * so the per-source rule `r_k · W_rest ≤ B_rest` — prefix sums
    * only — decides cappedness, and both engines replay the identical
    * sequential arithmetic. When the budget exceeds every cap the
    * allocation is the caps and the leftover is honestly unassigned
    * (epochs report the truth; nothing silently over-samples).
    *
    * Scale shape: ONE corpus scan (the [[mixtureWeights]] count
    * aggregation), then the source-bounded table collects to the
    * driver (the bounded-model-table discipline) where the sort +
    * prefix scan run in exact sequential order. Output: (source,
    * n_tokens, w6 normalized weight, alloc6 tokens, epochs6, capped).
    */
  def tokenBudgetAllocation(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      budgetTokens: Long,
      temperature: Double = 1.0,
      maxEpochs: Double = 4.0): DataFrame = {
    require(budgetTokens > 0L, s"budgetTokens ($budgetTokens) must be positive")
    require(temperature > 0.0 && temperature <= 1.0,
      s"temperature ($temperature) must be in (0, 1]")
    require(maxEpochs > 0.0, s"maxEpochs ($maxEpochs) must be positive")
    val spark = df.sparkSession
    // ONE corpus scan: the source-bounded count table collects to the
    // driver (bounded-model-table discipline) and the total derives
    // from the collected longs — exact integer arithmetic either way,
    // so folding it driver-side cannot move a digit
    val rows = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(coalesce(TextFunctions.tokenCount(col(textCol)), lit(0)))
        .as("n_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val total = rows.map(_._2).sum
    require(total > 0L, "tokenBudgetAllocation: the corpus has no tokens")
    val prepared = rows.map { case (src, nTok) =>
      val p = nTok.toDouble / total.toDouble
      val pt = BigDecimal(math.pow(p, temperature))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val cap = BigDecimal(maxEpochs) * BigDecimal(nTok) // exact
      val r = if (pt.signum == 0) 0.0 else cap.toDouble / pt.toDouble
      (src, nTok, pt, cap, r)
    }.sortBy { case (src, _, _, _, r) =>
      (r, src) // (r asc, source) — the engines' shared total order
    }
    val b = BigDecimal(budgetTokens)
    val ptPrefix = prepared.scanLeft(BigDecimal(0))(_ + _._3)
    val ptTotal = ptPrefix.last
    val capPrefix = prepared.scanLeft(BigDecimal(0))(_ + _._4)
    val cond = prepared.zipWithIndex.map { case ((_, _, _, _, r), i) =>
      r * (ptTotal - ptPrefix(i)).toDouble <= (b - capPrefix(i)).toDouble
    }
    // the level lemma makes cond a prefix; take the prefix LENGTH (a
    // running AND, exactly what the oracle's window replay computes)
    // so a wobble can never split flag and level apart
    val firstFalse = cond.indexWhere(!_)
    val nCapped = if (firstFalse < 0) prepared.length else firstFalse
    val lambda =
      if (nCapped == prepared.length) 0.0 // all capped: level unused
      else (b - capPrefix(nCapped)).toDouble /
        (ptTotal - ptPrefix(nCapped)).toDouble
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = prepared.zipWithIndex.map {
      case ((src, nTok, pt, cap, _), i) =>
        val isCapped = i < nCapped
        val alloc = if (isCapped) cap.toDouble else lambda * pt.toDouble
        (src, nTok, r6(pt.toDouble / ptTotal.toDouble), r6(alloc),
          if (nTok == 0L) 0.0 else r6(alloc / nTok.toDouble), isCapped)
    }
    import spark.implicits._
    out.toSeq
      .toDF("source", "n_tokens", "w6", "alloc6", "epochs6", "capped")
  }

  /** Deterministic weighted source interleave — the operator that
    * turns a data recipe ([[mixtureWeights]] /
    * [[tokenBudgetAllocation]]) into an actual TRAINING ORDER: assign
    * every document a global position such that, at any prefix of the
    * stream, each source has appeared in proportion to its weight.
    * This is STRIDE SCHEDULING: source `s`'s `r`-th document (1-based
    * rank in `idCol` order) gets virtual finish time `r / w_s`, and
    * the stream is the ascending finish-time order (ties by
    * (source, id) — a total order). Proportionality is the classic
    * stride guarantee (each source's occupancy error in any prefix is
    * bounded by a constant), determinism is by construction: the
    * position is a pure function of (weights, source, id) — rerunning,
    * resharding, or changing engines can never reorder the curriculum.
    * Weights need no normalization (scaling all finish times by a
    * constant preserves the order) — they are used RAW so the oracle
    * replays bit-identical doubles.
    *
    * Scale shape: per-source ranks ride [[General
    * .withContiguousRowIdsPerGroup]]'s global range-partitioned sort
    * (a dominant source cannot single-task a window partition), the
    * global position is a second range-partitioned id pass — two
    * sorts, zero group-partitioned windows, weights validated loudly
    * against the actual source set (an unweighted source would
    * silently sort to the front as 1/0). Output: input columns +
    * `train_pos` (0-based). The frame reads sort checkpoints —
    * [[Blocks.release]] once consumed. */
  def interleaveBySource(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      weights: Seq[(String, Double)],
      outCol: String = "train_pos"): DataFrame = {
    require(weights.nonEmpty, "interleaveBySource needs source weights")
    TempCols.reserve(df, "interleaveBySource", "__srk", "__key")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate sources in weights: ${weights.map(_._1).mkString(", ")}")
    require(weights.forall(_._2 > 0.0), "every source weight must be positive")
    val unweighted = df.select(col(sourceCol).cast("string").as("__s"))
      .filter(col("__s").isNull || !col("__s").isin(weights.map(_._1): _*))
      .limit(1).collect()
    require(unweighted.isEmpty,
      s"interleaveBySource: source '${unweighted.headOption.map(_.get(0))
        .orNull}' has no weight — weights must cover every source")
    val wExpr = weights.foldRight(lit(null).cast("double"): Column) {
      case ((s, w), e) => when(col(sourceCol) === s, lit(w)).otherwise(e)
    }
    val ranked = General.withContiguousRowIdsPerGroup(
      df, Seq(sourceCol), Seq(idCol), "__srk")
    val keyed = ranked.withColumn("__key",
      (col("__srk") + 1L).cast("double") / wExpr)
    val positioned = General.withContiguousRowIds(
      keyed, Seq("__key", sourceCol, idCol), outCol)
    positioned.select(df.columns.toSeq.map(col) :+ col(outCol): _*)
  }

  /** Sequence-length budget frontier — the report that picks
    * `max_seq_len` BEFORE tokenizing 100 TB: for each candidate token
    * budget `L`, what one pass over the corpus implies about the
    * truncation/padding trade — documents over budget
    * (`n_truncated`), tokens lost to truncation
    * (`trunc_loss_tokens` = Σ max(n−L, 0)), padding wasted if every
    * document rides its own padded sequence (`pad_waste_tokens` =
    * Σ (L − min(n, L)) — the no-packing cost), and the sequence count
    * a contiguous stream packer (the q54/q108 discipline) would emit
    * (`packed_seqs` = ⌈Σ min(n, L) / L⌉). Sweeping budgets turns "pick
    * 512 or 1024?" from folklore into arithmetic: the L where
    * truncation loss stops falling while padding waste keeps rising is
    * the frontier knee.
    *
    * Scale shape: ONE corpus pass computes each document's token
    * count; the budget sweep expands MAP-SIDE from a bounded literal
    * array (the [[Layout.pruningReport]] probe pattern — never one
    * scan per budget), and the rollup is a budget-keyed algebraic
    * aggregation over pure longs — integer-exact on any engine, no
    * rounding anywhere. Output: one row per budget — (`budget`,
    * `n_docs`, `n_truncated`, `tokens_total`, `tokens_kept`,
    * `trunc_loss_tokens`, `pad_waste_tokens`, `packed_seqs`). */
  def seqLenFrontier(
      df: DataFrame,
      textCol: String,
      budgets: Seq[Int]): DataFrame = {
    require(budgets.nonEmpty, "seqLenFrontier needs candidate budgets")
    require(budgets.forall(_ >= 1), s"budgets must be >= 1: $budgets")
    require(budgets.distinct.size == budgets.size,
      s"duplicate budgets: $budgets")
    // NULL text is EXCLUDED, not coalesced to n=0: a no-text row would
    // otherwise contribute `budget` to pad_waste_tokens per budget —
    // an arbitrary charge for a row a tokenizer would never emit — and
    // the oracle's NULL arithmetic (SUM drops NULL terms) would
    // silently diverge from a coalesce-to-0 seeding
    val n = graft.functions.TextFunctions.tokenCount(col(textCol))
      .cast("long")
    val kept = least(col("__n"), col("budget"))
    df.filter(col(textCol).isNotNull)
      .select(n.as("__n"),
        explode(array(budgets.map(b => lit(b.toLong)): _*)).as("budget"))
      .groupBy("budget")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__n") > col("budget"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(col("__n")).as("tokens_total"),
        sum(kept).as("tokens_kept"),
        sum(greatest(col("__n") - col("budget"), lit(0L)))
          .as("trunc_loss_tokens"),
        sum(col("budget") - kept).as("pad_waste_tokens"))
      .withColumn("packed_seqs", // ceil without doubles: exact longs
        expr("(tokens_kept + budget - 1) div budget"))
      .orderBy("budget")
  }

  /** Zipf rank-frequency fit over the corpus vocabulary — the
    * classic sanity diagnostic for scraped text (natural language sits
    * near slope −1 in log-log rank-frequency space; machine-generated
    * or template-heavy corpora bend away from it, and a drifting slope
    * between crawl snapshots is a composition alarm): least-squares of
    * `ln(freq)` on `ln(rank)` over the top-`topN` tokens, rank by
    * (freq desc, token) — the deterministic tie order both engines
    * share.
    *
    * Scale shape: the frequency table is one map-side-combined count
    * (vocabulary-bounded); ranking rides
    * [[General.withContiguousRowIds]] (range-partitioned, never one
    * global window partition); the regression reduces to SIX driver
    * scalars through one aggregation, with per-term products rounded
    * then summed as DECIMAL so the result is independent of fold
    * order. Output is one row: (`n_ranked`, `slope6`, `intercept6`,
    * `r2_6`). */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN ($topN) must be >= 2 — a line needs two points")
    val ranked = General.withContiguousRowIds(
        tokenFrequencies(df, textCol)
          .select(col("token"), (lit(0L) - col("freq")).as("__negf"), col("freq")),
        Seq("__negf", "token"), "__r")
      .filter(col("__r") < topN)
      .select((col("__r") + 1).cast("double").as("__rank"),
        col("freq").cast("double").as("__freq"))
    // per-term doubles round at 12 and accumulate through DECIMAL so
    // the regression sums are fold-order-exact on both engines; the
    // closed form then runs on bounded driver scalars
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast("decimal(38,12)")).cast("double")
    val x = log(col("__rank"))
    val y = log(col("__freq"))
    val s = ranked.agg(
      count(lit(1)).as("n"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * y).as("sxy"), dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
      .head()
    val (n, sx, sy, sxy, sxx, syy) = (s.getLong(0).toDouble, s.getDouble(1),
      s.getDouble(2), s.getDouble(3), s.getDouble(4), s.getDouble(5))
    require(n >= 2, s"zipfFit: only ${n.toLong} distinct tokens — need >= 2")
    val spark = df.sparkSession
    val covN = n * sxy - sx * sy
    val varX = n * sxx - sx * sx
    val varY = n * syy - sy * sy
    val slope = covN / varX
    val intercept = (sy - slope * sx) / n
    val r2 = if (varY == 0.0) Double.NaN else covN * covN / (varX * varY)
    import spark.implicits._
    // HALF_UP at 6 — the engine-portable rounding every oracle uses
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n.toLong, r6(slope), r6(intercept), r6(r2)))
      .toDF("n_ranked", "slope6", "intercept6", "r2_6")
  }

  /** Vocabulary coverage curve — the tokenizer-sizing report: for each
    * coverage target t, the number of top-frequency tokens whose
    * cumulative corpus frequency reaches t·N ("32k tokens cover 99.2%
    * of the stream"). This is THE curve a vocabulary size is argued
    * from — past the knee every extra token buys a vanishing slice of
    * the stream, and [[vocabularyFromFrequencies]]' `minFreq` /
    * vocab-size knobs should be read off it rather than guessed.
    *
    * A token is needed for target t iff the cumulative frequency of
    * all STRICTLY MORE FREQUENT tokens (ties broken by token string —
    * [[vocabularyFromFrequencies]]' exact rank order) is still below
    * t·N; counting needed tokens per target is then ONE conditional
    * aggregation over the prefix-summed frequency table — no rank
    * join, no per-target pass.
    *
    * Scale shape: one vocabulary-bounded count shuffle, the
    * range-partitioned [[General.withRunningTotal]] prefix sum over
    * the frequency order (never a single-partition window), and one
    * aggregation emitting all targets at once. `N` is one driver
    * scalar.
    *
    * Output: (target, vocab_size, total_tokens), target ascending. */
  def vocabCoverageCurve(
      df: DataFrame,
      textCol: String,
      targets: Seq[Double]): DataFrame = {
    require(targets.nonEmpty, "vocabCoverageCurve needs coverage targets")
    require(targets.forall(t => t > 0.0 && t <= 1.0),
      s"targets must lie in (0, 1], got ${targets.mkString(", ")}")
    val freq = tokenFrequencies(df, textCol)
      .withColumn("__negfreq", -col("freq"))
    val n = freq.agg(coalesce(sum(col("freq")), lit(0L))).head().getLong(0)
    require(n > 0L, "vocabCoverageCurve: the corpus has no tokens")
    val pre = General.withRunningTotal(freq, Seq("__negfreq", "token"),
      "freq", "__cum_before")
    val ordered = targets.sorted
    val counts = ordered.zipWithIndex.map { case (t, i) =>
      sum(when(col("__cum_before").cast("double") < lit(t) * lit(n.toDouble),
        1L).otherwise(0L)).as(s"__v$i")
    }
    val one = pre.agg(counts.head, counts.tail: _*)
    val entries = ordered.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("target"), col(s"__v$i").as("vocab_size"),
        lit(n).as("total_tokens"))
    }
    one.select(explode(array(entries: _*)).as("__e")).select(col("__e.*"))
  }

  /** Sequence-packing efficiency report — the NUMBER that justifies
    * [[packSequences]]/[[packSequencesByCount]]: for a target training
    * sequence length, compare naive per-document batching (each doc
    * padded up to a multiple of `seqLen`) against contiguous packing
    * (docs concatenated, one partial sequence of waste TOTAL). Both
    * utilizations are exact integer arithmetic; the gap is the GPU
    * time padding burns. One row out:
    * (n_docs, total_tokens, seq_len, padded_sequences, padded_tokens,
    * padded_utilization, packed_sequences, packed_utilization).
    *
    * Scale shape: one map-only token count + ONE algebraic
    * aggregation — ceil arithmetic rides the aggregate as
    * `(n + seqLen − 1) div seqLen` integer math, so the whole report
    * is a single map-side-combined pass. */
  def paddingReport(
      df: DataFrame,
      textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen ($seqLen) must be >= 1")
    val n = size(TextFunctions.tokens(col(textCol))).cast("long")
    val perDocSeqs = (n + lit(seqLen.toLong) - 1L) / lit(seqLen.toLong)
    df.agg(
        count(lit(1)).as("n_docs"),
        sum(n).as("total_tokens"),
        sum(perDocSeqs.cast("long")).as("padded_sequences"))
      .select(col("n_docs"), col("total_tokens"), lit(seqLen).as("seq_len"),
        col("padded_sequences"),
        (col("padded_sequences") * seqLen).as("padded_tokens"),
        (col("total_tokens").cast("double") /
          (col("padded_sequences") * seqLen).cast("double"))
          .as("padded_utilization"),
        ((col("total_tokens") + seqLen - 1) / seqLen).cast("long")
          .as("packed_sequences"),
        (col("total_tokens").cast("double") /
          (((col("total_tokens") + seqLen - 1) / seqLen).cast("long") * seqLen)
            .cast("double"))
          .as("packed_utilization"))
  }

  /** Pointwise-mutual-information collocation mining (Church–Hanks):
    * adjacent token pairs scored by how much more often they co-occur
    * than their unigram frequencies predict —
    * `pmi = ln(c(w1,w2) · N / (c(w1) · c(w2)))` with `N` the corpus
    * token count. High-PMI pairs are the multi-word expressions
    * ("new york", "machine learning") a tokenizer or phrase-mining
    * pass wants as units; [[bigramLogProbScore]] consumes the same
    * bigram table for the opposite purpose (scoring documents, not
    * pairs).
    *
    * `minPairCount` prunes the hapax tail BEFORE the count joins —
    * PMI is maximal for pairs seen once (it rewards rarity), so
    * unpruned output is all noise and, at corpus scale, a
    * bigram-vocabulary-sized result set.
    *
    * Scale shape: one hashed (w1, w2) shuffle bounded by the bigram
    * vocabulary, one token shuffle bounded by the unigram vocabulary,
    * then two unhinted joins of the PRUNED pair table against the
    * unigram counts — AQE broadcasts real vocabularies. `N` is the
    * one driver scalar (a single-row sum, like the BPE argmax). The
    * unigram table is locally checkpointed (read three times: N and
    * both endpoint joins); the returned frame reads that checkpoint —
    * pass it to [[Blocks.release]] (or `consuming`) once fully
    * consumed, per the [[Graph.pageRank]] contract.
    * Output: (`w1`, `w2`, `pair_n`, `w1_n`, `w2_n`, `pmi`).
    */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minPairCount: Long): DataFrame = Blocks.scoped { s =>
    require(minPairCount >= 1, s"minPairCount ($minPairCount) must be >= 1")
    val toks = TextFunctions.tokens(col(textCol))
    val docs = df.select(toks.as("__toks"))
    // The corpus token total N rides the unigram checkpoint job as an
    // observed metric (the Apss.allPairsCosine idiom): one job yields
    // both the materialized unigram table and N, replacing the
    // separate aggregate-over-checkpoint pass this used to pay.
    val nObs = org.apache.spark.sql.Observation()
    val unigrams = s.checkpoint(docs.select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__c"))
      .observe(nObs, sum(col("__c")).as("__n"))) // read 2x below: w1 join, w2 join
    // Late metrics delivery degrades to a sum over the checkpointed
    // unigram blocks, never a hard TimeoutException failure.
    val nRow = Observed.row(nObs) { unigrams.agg(sum(col("__c"))).head() }
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val pairs = docs.filter(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__toks")) - 2),
        i => struct(element_at(col("__toks"), i + 1).as("w1"),
          element_at(col("__toks"), i + 2).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairCount)
    pairs
      .join(unigrams.select(col("w").as("w1"), col("__c").as("w1_n")), "w1")
      .join(unigrams.select(col("w").as("w2"), col("__c").as("w2_n")), "w2")
      .select(col("w1"), col("w2"), col("pair_n"), col("w1_n"), col("w2_n"),
        log(col("pair_n").cast("double") * lit(n.toDouble) /
          (col("w1_n").cast("double") * col("w2_n").cast("double")))
          .as("pmi"))
  }

  /** Skip-gram co-occurrence counts (the word2vec/GloVe training-pair
    * table): for every token position, each token within the following
    * `window` positions co-occurs with it, and counts are SYMMETRIC —
    * n(a,b) = n(b,a) = the number of ordered position pairs within the
    * window — which is the (center, context) multiset word2vec trains
    * on and the co-occurrence matrix GloVe factorizes.
    * [[pmiCollocations]] is the window=1 adjacency special case of the
    * same table (directed there, association-scored); this produces
    * the raw symmetric counts at arbitrary window radius.
    *
    * Scale shape: pair generation is MAP-ONLY — each position pairs
    * with a `slice` of its own token array (never a positional
    * self-join, whose per-document cost the optimizer can't see), so
    * the only shuffle is the final count, map-side combined and
    * bounded by distinct co-occurring pairs (≤ vocabulary²), not by
    * corpus size. Window radius multiplies map-side rows by ≤ window,
    * linear in corpus length.
    *
    * Returns (`w_a`, `w_b`, `n`) with both orientations present. */
  def skipGramPairs(
      df: DataFrame,
      textCol: String,
      window: Int): DataFrame = {
    require(window >= 1, s"window ($window) must be >= 1")
    val fwd = df.select(TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(posexplode(col("__toks")).as(Seq("__pos", "__center")),
        col("__toks"))
      .select(col("__center").as("w_a"),
        explode(slice(col("__toks"), col("__pos") + lit(2), lit(window)))
          .as("w_b"))
    fwd.unionAll(fwd.select(col("w_b").as("w_a"), col("w_a").as("w_b")))
      .groupBy("w_a", "w_b")
      .agg(count(lit(1)).as("n"))
  }

  /** Deterministic token masking — the corruption half of
    * MLM/denoising training-data generation (BERT's 15%, T5 span
    * corruption at span length 1): token position p of document d is
    * replaced by `maskToken` iff the portable md5 hash of `"d_p"` has
    * residue mod `den` below `num` — so the realized rate is exactly
    * num/den, the SAME positions mask on any engine, any partitioning,
    * any rerun (the property `rand()` masking lacks, and the one that
    * makes training corpora and their ablations reproducible), and
    * raising the rate only ADDS masked positions (num/den ⊂
    * num'/den for num' > num — nested corruption levels from one
    * corpus).
    *
    * Map-only: one per-token expression chain, no shuffle. Returns the
    * id, the corrupted text, and per-doc token/masked counts (the
    * audit a data loader checks before training).
    *
    * A real span-corruption variant masks runs; at span length 1 this
    * IS the i.i.d. masking scheme — runs compose by masking position
    * p..p+k when p hashes under rate, which stays deterministic. */
  def maskTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      num: Int,
      den: Int,
      maskToken: String = "<mask>"): DataFrame = {
    require(den >= 1, s"den ($den) must be >= 1")
    require(num >= 0 && num <= den, s"num ($num) must be in [0, $den]")
    require(maskToken.nonEmpty && !maskToken.contains(" "),
      s"maskToken '$maskToken' must be a single non-empty token")
    val toks = TextFunctions.tokens(col(textCol))
    def masked(i: Column): Column =
      conv(substring(md5(concat_ws("_",
        col(idCol).cast("string"), i.cast("string"))), 1, 8), 16, 10)
        .cast("long") % den < num
    df.select(col(idCol),
      array_join(transform(toks,
        (t, i) => when(masked(i), lit(maskToken)).otherwise(t)), " ")
        .as("masked_text"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(transform(toks, (_, i) => masked(i)), x => x))
        .cast("long").as("n_masked"))
  }

  /** Contrastive training-pair generation — the labeled-pair table an
    * embedding/reranker model trains on: POSITIVES are the corpus'
    * verified near-duplicate pairs (MinHash-LSH candidates, exact
    * shingle-Jaccard >= `threshold` — [[Dedup.minHashNearDupPairs]]'s
    * full-recall machinery), NEGATIVES a deterministic derangement —
    * each document paired with the one `n/2` positions away in the
    * md5-permuted order (the q61 shuffle permutation), which is
    * rerun-stable, uniform-ish, and replayable by an oracle, unlike
    * `rand()`. Candidate negatives that happen to qualify as positives
    * are removed by an anti join against the verified pair set —
    * LSH's pigeonhole full recall at the threshold is what makes that
    * exclusion EXACT, so a label-0 row is provably below threshold.
    *
    * Scale shape: positives ride the existing banded-LSH path;
    * negatives are one contiguous-rank pass
    * ([[General.withContiguousRowIds]] over the md5 key — never a
    * single-partition window), one rank→shifted-rank equi self-join,
    * and one anti join bounded by the negative set. Nothing touches
    * document text beyond the signature pass.
    *
    * Returns (`id_a`, `id_b`, `label`) with id_a < id_b; label 1 for
    * verified near-dups, 0 for derangement pairs. */
  def contrastivePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    val pos = Dedup.minHashNearDupPairs(df, idCol, textCol,
        shingleN, numHashes, bands, threshold)
      .select(col("id_a"), col("id_b"))
    val ranked = General.withContiguousRowIds(
        df.select(col(idCol).as("__id"))
          .withColumn("__key", md5(col("__id").cast("string"))),
        Seq("__key", "__id"), "__r")
      .select(col("__id"), col("__r"))
    val n = df.count() // ONE driver scalar: corpus size
    val shift = n / 2
    val negRaw = ranked
      .select(col("__id").as("__na"), ((col("__r") + shift) % n).as("__r2"))
      .join(ranked.select(col("__id").as("__nb"), col("__r").as("__r2")),
        "__r2")
      .filter(col("__na") =!= col("__nb"))
      .select(least(col("__na"), col("__nb")).as("id_a"),
        greatest(col("__na"), col("__nb")).as("id_b"))
      .distinct()
    val neg = negRaw.join(pos, Seq("id_a", "id_b"), "left_anti")
    pos.withColumn("label", lit(1))
      .unionAll(neg.withColumn("label", lit(0)))
  }

  /** BPE merge training (Sennrich-style subword vocabulary learning):
    * learn the top-`numMerges` pair merges over the corpus — the
    * primitive that PRODUCES the vocabulary whose application
    * [[graft.functions.TextFunctions.bpeStyleTokenCount]]-class
    * consumers assume. Character-level over whitespace tokens (the
    * byte-level variant is the same recurrence over a byte alphabet);
    * no end-of-word marker — merges never cross token boundaries.
    * Returns one row per learned merge: (`merge_rank` 1-based, `lhs`,
    * `rhs`, `merged`, `pair_freq`), fewer than `numMerges` rows if the
    * corpus runs out of pairs first. Deterministic by construction:
    * pair counts weighted by word frequency, argmax ties broken
    * lexicographically by (lhs, rhs), so the merge table is a pure
    * function of the corpus.
    *
    * Mechanics (pinned by the q103 oracle, which replays the identical
    * recurrence in SQL): each word is a symbol sequence, initially its
    * characters; one iteration counts all ADJACENT symbol pairs
    * (overlapping occurrences each count) and merges the most frequent
    * pair everywhere, greedily left-to-right within each word (so
    * `aaa` under merge (a,a) becomes `aa`,`a`). Words are carried in a
    * delimited string form — every symbol wrapped in single spaces,
    * `" h "+" u "+" g "` — so one literal, non-overlapping
    * left-to-right `replace` of `" a  b "` with `" ab "` IS the greedy
    * merge, symbol-aligned by construction (symbols never contain
    * spaces, so a wrapped pair cannot match mid-symbol).
    *
    * Scale shape — two tiers behind one exact recurrence (the
    * production shape of real tokenizer trainers: the corpus-scale
    * work is ONE distributed word-frequency aggregation; the iterative
    * loop runs over the vocabulary-bounded word table):
    *
    *  - DRIVER TIER (word vocabulary ≤ `maxDriverWords`): the word
    *    table collects to the driver — the same bounded-model-table
    *    discipline as IVF codebooks and NB class grids — and all
    *    `numMerges` iterations run in memory against an indexed
    *    pair-count structure (argmax via an ordered set, per-merge
    *    work proportional to the words actually containing the pair).
    *    A 32k-merge vocabulary trains in ONE Spark job plus
    *    milliseconds-per-merge driver time. Tie-breaks compare raw
    *    UTF-8 bytes — exactly Spark's and DuckDB's string order — so
    *    the sequence is engine-identical. The bound is checked
    *    count-first (collect is `limit(maxDriverWords + 1)`): an
    *    over-bound corpus never materializes on the driver, it falls
    *    through to the distributed tier.
    *  - DISTRIBUTED TIER: each PASS is one pair-count aggregation over
    *    the checkpointed word-repr frame (bounded by distinct adjacent
    *    pairs) with a top-M collect, one triple-count aggregation
    *    restricted to those M pairs (count-guarded), and a map-only
    *    CHAIN of replaces, checkpointed so the next pass never
    *    re-executes this one's plan ([[Graph.pageRank]]'s checkpoint
    *    discipline) and superseded blocks are released as the loop
    *    advances. The corpus itself is scanned exactly once,
    *    regardless of `numMerges`.
    *
    * Batched passes (distributed tier, `batchK` > 1): one pass applies
    * up to `batchK` merges from a single pair-count table, PROVABLY
    * reproducing the sequential merge sequence, by simulating the
    * recurrence on the driver over the collected counts and stopping
    * the moment exactness can no longer be certified:
    *
    *  - The simulation state starts as the exact top-M pair counts.
    *    Merging (a, b) changes the table in exactly three ways:
    *    (x, a) / (b, y) lose one occurrence per consumed site, and
    *    (x, merged) / (merged, y) appear there — with multiplicities
    *    equal to the triple counts (x, a, b) / (a, b, y), PROVIDED the
    *    merge has no overlap chains (`lhs != rhs`, zero (a,b,a) and
    *    (b,a,b) triples — greedy left-to-right then consumes every
    *    occurrence) and its sites don't touch an earlier member's
    *    sites. Site-disjointness is certified symbolically: a member's
    *    INTERACTION SET is {lhs, rhs} ∪ its left/right neighbor
    *    symbols; members whose sets are pairwise disjoint have all
    *    occurrence sites ≥ 2 symbols apart, so every decrement and
    *    creation above is exact.
    *  - The next sequential merge is then the state's (cnt desc, lhs,
    *    rhs) argmax (UTF-8 byte order), valid while it outranks
    *    anything NOT in state: uncollected pairs only ever lose count,
    *    so the argmax stands while its count beats the collect CUTOFF
    *    (the M-th count) — or ties it with a key lexicographically
    *    before the M-th key, since uncollected ties sort after it.
    *  - A member that cannot be simulated (shares interaction symbols,
    *    overlap chains, a merged string colliding with an existing
    *    symbol's — which would conflate pair identities — or a pair
    *    born inside the batch, whose own neighbor structure was never
    *    collected) is still a PROVEN choice: it applies as the LAST
    *    member, and the next pass recounts ground truth.
    *
    * `batchK` = 1 is exactly the classic one-merge-per-job recurrence
    * (and skips the triple job); any `batchK` and either tier yield
    * the identical merge table — the equivalence, engineered-conflict,
    * and tier-equivalence specs pin this. */
  def bpeMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      batchK: Int = 16,
      maxDriverWords: Int = 1000000): DataFrame =
    bpeMergesWithPasses(df, textCol, numMerges, batchK, maxDriverWords)._1

  /** [[bpeMerges]] plus the number of pair-count passes the loop ran
    * (1 for the driver tier) — exposed for the batching specs'
    * measured-iterations assertions. */
  private[graft] def bpeMergesWithPasses(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      batchK: Int,
      maxDriverWords: Int = 1000000): (DataFrame, Int) = {
    require(numMerges >= 1, s"numMerges ($numMerges) must be >= 1")
    require(batchK >= 1, s"batchK ($batchK) must be >= 1")
    require(maxDriverWords >= 0, s"maxDriverWords ($maxDriverWords) must be >= 0")
    val spark = df.sparkSession
    val words = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // Driver tier: count-first bounded collect of the word table
    val wordRows =
      if (maxDriverWords == 0) Array.empty[org.apache.spark.sql.Row]
      else words.limit(maxDriverWords + 1).collect()
    if (maxDriverWords > 0 && wordRows.length <= maxDriverWords) {
      val table = wordRows.map(r => (r.getString(0), r.getLong(1)))
      return (spark.createDataFrame(driverTrainBpe(table, numMerges))
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_freq"), 1)
    }
    Blocks.scoped { s =>
      // Distributed tier
      // " c1  c2  ...  cn " — each char wrapped in its own spaces
      var vocab = s.checkpoint(words
        .select(col("freq"),
          concat(lit(" "),
            array_join(transform(sequence(lit(1), length(col("w"))),
              i => col("w").substr(i, lit(1))), "  "),
            lit(" ")).as("repr")))
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      var priorMerged = Set.empty[String] // merged symbols of ALL prior passes
      var rank = 1
      var passes = 0
      var exhausted = false
      while (rank <= numMerges && !exhausted) {
        val want = math.min(batchK, numMerges - rank + 1)
        // collect comfortably past the batch so members' neighbors are
        // usually in view (anything outside is ≤ cutoff)
        val m = math.max(4 * want, want + 64)
        val syms = split(trim(col("repr")), "  ")
        val top = vocab
          .filter(size(syms) >= 2) // sequence(1, 0) would run DESCENDING
          .select(col("freq"),
            explode(transform(sequence(lit(1), size(syms) - 1),
              i => struct(element_at(syms, i).as("a"),
                element_at(syms, i + 1).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(m).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        passes += 1
        if (top.isEmpty) exhausted = true
        else {
          val cutoff = if (top.length < m) 0L else top.last._3
          val rMkey = if (top.length < m) None else Some((top.last._1, top.last._2))
          // triple counts restricted to the collected pairs (skipped for
          // sequential passes; count-guarded — an overflow just disables
          // simulation, every member past the first becomes terminal)
          val maxT = 200000
          val tri =
            if (want == 1) Array.empty[(String, String, String, Long)]
            else {
              val keys = top.map { case (a, b, _) => a + " " + b }.toSeq
              vocab.filter(size(syms) >= 3)
                .select(col("freq"),
                  explode(transform(sequence(lit(1), size(syms) - 2),
                    i => struct(element_at(syms, i).as("a"),
                      element_at(syms, i + 1).as("b"),
                      element_at(syms, i + 2).as("c")))).as("t"))
                .filter(concat_ws(" ", col("t.a"), col("t.b")).isin(keys: _*) ||
                  concat_ws(" ", col("t.b"), col("t.c")).isin(keys: _*))
                .groupBy(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
                .agg(sum(col("freq")).as("cnt"))
                .limit(maxT + 1).collect()
                .map(r => (r.getString(0), r.getString(1), r.getString(2),
                  r.getLong(3)))
            }
          val triplesComplete = want > 1 && tri.length <= maxT
          val accepted = simulateBpeBatch(top, tri, triplesComplete,
            cutoff, rMkey, priorMerged, want)
          // one map pass: the replace CHAIN applies the batch in order
          val next = s.checkpoint(vocab.withColumn("repr",
              accepted.foldLeft(col("repr")) { case (c, (a, b, _)) =>
                replace(c, lit(s" $a  $b "), lit(s" $a$b "))
              }))
          s.release(vocab)
          vocab = next
          accepted.foreach { case (a, b, cnt) =>
            merges += ((rank, a, b, a + b, cnt))
            priorMerged += (a + b)
            rank += 1
          }
          if (accepted.isEmpty) exhausted = true // defensive: cannot progress
        }
      }
      (spark.createDataFrame(merges.result())
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_freq"), passes)
    }
  }

  /** Spark/DuckDB string order: unsigned byte-wise UTF-8 comparison
    * (the shared [[graft.functions.TextFunctions.utf8Compare]]) —
    * the driver tier must tie-break exactly like the engines
    * replaying the recurrence. */
  private def utf8Compare(x: String, y: String): Int =
    graft.functions.TextFunctions.utf8Compare(x, y)

  /** (cnt desc, lhs, rhs) with UTF-8 byte string order — the merge
    * argmax's total order, shared by both tiers. */
  private val pairOrder = new java.util.Comparator[(Long, String, String)] {
    def compare(p: (Long, String, String), q: (Long, String, String)): Int = {
      if (p._1 != q._1) java.lang.Long.compare(q._1, p._1)
      else {
        val c = utf8Compare(p._2, q._2)
        if (c != 0) c else utf8Compare(p._3, q._3)
      }
    }
  }

  /** The in-memory BPE trainer (driver tier of [[bpeMerges]]): the
    * identical recurrence over a collected word-frequency table, with
    * the indexed incremental structure real tokenizer trainers use —
    * a pair→count map kept consistent with an ordered argmax set, and
    * a pair→words inverted index so each merge touches only the words
    * that contain it. */
  private def driverTrainBpe(
      table: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    import scala.collection.mutable
    val nW = table.length
    val syms = new Array[mutable.ArrayBuffer[String]](nW)
    val freq = new Array[Long](nW)
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    val queue = new java.util.TreeSet[(Long, String, String)](pairOrder)
    def adjust(p: (String, String), delta: Long): Unit = {
      val old = pairCnt.getOrElse(p, 0L)
      if (old > 0) queue.remove((old, p._1, p._2))
      val nu = old + delta
      if (nu > 0) { pairCnt(p) = nu; queue.add((nu, p._1, p._2)) }
      else pairCnt.remove(p)
    }
    var wi = 0
    while (wi < nW) {
      val (w, f) = table(wi)
      freq(wi) = f
      val sb = mutable.ArrayBuffer.empty[String]
      // Split by Unicode CODE POINTS, not UTF-16 code units: the
      // distributed tier and bpeEncode segment via Spark length/substr
      // (code-point semantics), so supplementary-plane characters must
      // be single symbols here too or the tiers' alphabets diverge
      // (and lone surrogates would corrupt utf8Compare's byte order).
      var ci = 0
      while (ci < w.length) {
        val n = Character.charCount(w.codePointAt(ci))
        sb += w.substring(ci, ci + n)
        ci += n
      }
      syms(wi) = sb
      var i = 0
      while (i + 1 < sb.length) {
        val p = (sb(i), sb(i + 1))
        adjust(p, f)
        pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
        i += 1
      }
      wi += 1
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    while (rank <= numMerges && !queue.isEmpty) {
      val (cnt, a, b) = queue.first()
      val merged = a + b
      out += ((rank, a, b, merged, cnt))
      val affected = pairWords.get((a, b)).map(_.toArray).getOrElse(Array.empty)
      affected.foreach { w =>
        val s = syms(w)
        val f = freq(w)
        def pairSet(xs: mutable.ArrayBuffer[String]) = {
          val ps = mutable.Set.empty[(String, String)]
          var i = 0
          while (i + 1 < xs.length) { ps += ((xs(i), xs(i + 1))); i += 1 }
          ps
        }
        val oldPairs = pairSet(s)
        var i = 0
        while (i + 1 < s.length) { adjust((s(i), s(i + 1)), -f); i += 1 }
        val ns = mutable.ArrayBuffer.empty[String]
        i = 0
        while (i < s.length) { // greedy left-to-right, skip past a merge
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
            ns += merged; i += 2
          } else { ns += s(i); i += 1 }
        }
        i = 0
        while (i + 1 < ns.length) { adjust((ns(i), ns(i + 1)), f); i += 1 }
        val newPairs = pairSet(ns)
        oldPairs.diff(newPairs)
          .foreach(p => pairWords.get(p).foreach(_.remove(w)))
        newPairs.diff(oldPairs)
          .foreach(p => pairWords.getOrElseUpdate(p, mutable.Set.empty) += w)
        syms(w) = ns
      }
      pairWords.remove((a, b))
      rank += 1
    }
    out.result()
  }

  /** Driver-side exact simulation of up to `want` sequential merges
    * over one collected pair/triple count snapshot (the distributed
    * tier's batching engine — see [[bpeMerges]]' scaladoc for the
    * soundness argument). Returns the accepted members in merge
    * order; always at least one when `top` is non-empty. */
  private def simulateBpeBatch(
      top: Array[(String, String, Long)],
      tri: Array[(String, String, String, Long)],
      triplesComplete: Boolean,
      cutoff: Long,
      rMkey: Option[(String, String)],
      priorMerged: Set[String],
      want: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val state = mutable.HashMap.empty[(String, String), Long]
    top.foreach { case (a, b, c) => state((a, b)) = c }
    val origKeys = top.map(t => (t._1, t._2)).toSet
    val leftT = mutable.HashMap // (a,b) -> [(x, cnt3(x,a,b))]
      .empty[(String, String), mutable.ArrayBuffer[(String, Long)]]
    val rightT = mutable.HashMap // (a,b) -> [(y, cnt3(a,b,y))]
      .empty[(String, String), mutable.ArrayBuffer[(String, Long)]]
    val tripleCnt = mutable.HashMap.empty[(String, String, String), Long]
    if (triplesComplete) tri.foreach { case (x, y, z, c) =>
      tripleCnt((x, y, z)) = c
      if (origKeys((y, z)))
        leftT.getOrElseUpdate((y, z), mutable.ArrayBuffer.empty) += ((x, c))
      if (origKeys((x, y)))
        rightT.getOrElseUpdate((x, y), mutable.ArrayBuffer.empty) += ((z, c))
    }
    def pairLt(p: (String, String), q: (String, String)): Boolean = {
      val c = utf8Compare(p._1, q._1)
      c < 0 || (c == 0 && utf8Compare(p._2, q._2) < 0)
    }
    val accepted = mutable.ArrayBuffer.empty[(String, String, Long)]
    var tset = Set.empty[String] // union of simulated members' interaction sets
    var freshSyms = Set.empty[String]
    var go = true
    while (go && accepted.length < want && state.nonEmpty) {
      // exact argmax over state by (cnt desc, lhs, rhs)
      val ((a, b), cnt) = state.reduceLeft { (p, q) =>
        if (p._2 != q._2) { if (p._2 > q._2) p else q }
        else if (pairLt(p._1, q._1)) p else q
      }
      // the argmax must also outrank every UNCOLLECTED pair: those only
      // ever lose count (≤ cutoff), and at a tie sort after the M-th
      // collected key
      val okCut = cnt > cutoff ||
        (cnt == cutoff && rMkey.forall(k => pairLt((a, b), k)))
      if (!okCut || cnt <= 0) go = false
      else {
        accepted += ((a, b, cnt))
        val merged = a + b
        val ln = leftT.getOrElse((a, b), mutable.ArrayBuffer.empty)
        val rn = rightT.getOrElse((a, b), mutable.ArrayBuffer.empty)
        val eSet = Set(a, b) ++ ln.iterator.map(_._1) ++ rn.iterator.map(_._1)
        val canSim = triplesComplete && origKeys((a, b)) &&
          a != b &&
          tripleCnt.getOrElse((a, b, a), 0L) == 0L &&
          tripleCnt.getOrElse((b, a, b), 0L) == 0L &&
          !priorMerged.contains(merged) && !freshSyms.contains(merged) &&
          eSet.intersect(tset).isEmpty
        if (!canSim) go = false // terminal member: proven choice, ends batch
        else {
          state.remove((a, b))
          ln.foreach { case (x, c3) =>
            state.get((x, a)).foreach { c =>
              if (c - c3 > 0) state((x, a)) = c - c3 else state.remove((x, a))
            }
            if (c3 > 0) state((x, merged)) = state.getOrElse((x, merged), 0L) + c3
          }
          rn.foreach { case (y, c3) =>
            state.get((b, y)).foreach { c =>
              if (c - c3 > 0) state((b, y)) = c - c3 else state.remove((b, y))
            }
            if (c3 > 0) state((merged, y)) = state.getOrElse((merged, y), 0L) + c3
          }
          tset ++= eSet
          freshSyms += merged
        }
      }
    }
    accepted.toSeq
  }

  /** Collect a [[bpeMerges]] output frame into the rank-ordered
    * (lhs, rhs) merge table [[bpeEncode]] consumes. Driver-side by
    * design: the merge table is `numMerges` rows — bounded by the
    * training call, never corpus-sized.
    *
    * Validated loudly ([[validateMerges]] + rank contiguity): this is
    * the API boundary a PERSISTED merge table re-enters through
    * ([[loadMerges]]), and a corrupted artifact — duplicated rows, a
    * dropped rank, a symbol that picked up a delimiter byte — must
    * fail here with a named cause, not downstream as silently wrong
    * tokens. */
  def collectMerges(mergesDf: DataFrame): Seq[(String, String)] = {
    val rows = mergesDf.select(col("merge_rank"), col("lhs"), col("rhs"))
      .collect()
      .sortBy(_.getInt(0))
    val ranks = rows.map(_.getInt(0)).toSeq
    require(ranks == (1 to ranks.size),
      s"merge ranks must be contiguous 1..n, got ${ranks.take(20).mkString(",")}" +
        (if (ranks.size > 20) ",..." else "") +
        " — duplicated or missing ranks mean a corrupted merge table")
    val pairs = rows.map(r => (r.getString(1), r.getString(2))).toSeq
    validateMerges(pairs)
    pairs
  }

  /** Loud merge-table validation shared by [[collectMerges]] and
    * [[bpeEncode]]: symbols must be non-null, non-empty, and
    * delimiter-free (the space-wrapped repr aligns replaces on the
    * guarantee that symbols never contain spaces), and (lhs, rhs)
    * pairs must be unique — a trained table never repeats a pair, so
    * a duplicate means the table was corrupted (e.g. a double-appended
    * artifact), and by the duplicate's rank its pattern has already
    * been rewritten away, making the second application a silent
    * no-op that masks the corruption. */
  private[graft] def validateMerges(merges: Seq[(String, String)]): Unit = {
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      require(a != null && b != null && a.nonEmpty && b.nonEmpty,
        s"merge ${i + 1}: symbols must be non-null and non-empty, got ($a, $b)")
      require(!a.contains(' ') && !b.contains(' '),
        s"merge ${i + 1} ('$a', '$b'): symbols must not contain spaces " +
          "(space is the symbol delimiter of the training repr)")
    }
    val dups = merges.groupBy(identity).collect {
      case (p, g) if g.size > 1 => p
    }
    require(dups.isEmpty,
      s"duplicate merge pairs ${dups.take(5).mkString(", ")} — a trained " +
        "BPE table never repeats a pair; this merge table is corrupted")
  }

  /** Persist a trained merge table ([[bpeMerges]] output) as plain
    * parquet under `path` — the externalized-pipeline-state discipline
    * the reference applies to its config machinery
    * (`/root/reference/ons_utils/config/config.py:100-136`: pipeline
    * state lives in files, not in the process). A real pipeline trains
    * a tokenizer ONCE and loads it for every downstream encode job;
    * without a save surface each job would re-run the iterative
    * trainer against the full corpus. Validated through
    * [[collectMerges]] BEFORE writing, so a broken training frame
    * never becomes a persisted artifact other jobs trust. */
  def saveMerges(mergesDf: DataFrame, path: String): Unit = {
    collectMerges(mergesDf) // validate rank contiguity + pair uniqueness
    ArtifactFormat.stamp(mergesDf)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveMerges]] artifact back into the rank-ordered merge
    * table [[bpeEncode]] consumes. Re-validated on the way in
    * ([[ArtifactFormat.checked]] + [[collectMerges]]): a corrupted
    * file — truncated write, doubled append, hand-edited rows, a
    * different format version — fails loudly here, not as silently
    * wrong tokens downstream. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] =
    collectMerges(ArtifactFormat.checked(
      spark.read.parquet(path), "merge table", path))

  /** Persist a [[vocabularyFromFrequencies]] vocabulary as plain
    * parquet. The vocabulary stays a DISTRIBUTED frame on both sides
    * of the roundtrip (unlike the driver-sized merge table): a
    * byte-level 100k-row vocabulary is still tiny, but an unbounded
    * one must never be forced through the driver just to be saved. */
  def saveVocabulary(vocabDf: DataFrame, path: String): Unit =
    ArtifactFormat.stamp(
      vocabDf.select(col("token_id"), col("token"), col("freq")))
      .write.mode("overwrite").parquet(path)

  /** Load a [[saveVocabulary]] artifact. One bounded validation
    * aggregate (six scalars to the driver, never the rows): token ids
    * must be exactly 0..n-1 with distinct tokens — the contiguity
    * [[vocabularyFromFrequencies]] guarantees and sequence-packing /
    * id-join consumers assume. */
  def loadVocabulary(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val vocab = ArtifactFormat.checked(
        spark.read.parquet(path), "vocabulary", path)
      .select(col("token_id"), col("token"), col("freq"))
    val s = vocab.agg(
      count(lit(1)).as("n"),
      count_distinct(col("token")).as("n_tok"),
      count_distinct(col("token_id")).as("n_id"),
      min(col("token_id")).as("lo"),
      max(col("token_id")).as("hi"),
      count(when(col("token").isNull || col("token_id").isNull, 1)).as("nulls"))
      .head()
    val (n, nTok, nId) = (s.getLong(0), s.getLong(1), s.getLong(2))
    require(n > 0, s"vocabulary at $path is empty")
    require(s.getLong(5) == 0, s"vocabulary at $path has null tokens/ids")
    require(nTok == n && nId == n && s.getLong(3) == 0L && s.getLong(4) == n - 1,
      s"vocabulary at $path is corrupted: $n rows, $nTok distinct tokens, " +
        s"$nId distinct ids spanning [${s.getLong(3)}, ${s.getLong(4)}] — " +
        "expected distinct tokens with contiguous ids 0..n-1")
    vocab
  }

  /** BPE ENCODE — apply a learned merge table ([[bpeMerges]] →
    * [[collectMerges]]) to text, closing the learn→apply tokenizer
    * loop: each whitespace token is char-split into the same
    * space-wrapped symbol string training uses, every merge is applied
    * in rank order with the SAME literal non-overlapping replace
    * (greedy left-to-right, symbol-aligned because symbols never
    * contain spaces), and the symbols split back out — `outCol` is the
    * document's subword sequence, in order. This is exactly how a
    * trained BPE tokenizer encodes at inference: earlier (more
    * frequent) merges take precedence because later merge patterns are
    * built FROM earlier merged symbols.
    *
    * Scale shape: map-only — zero shuffles, no UDF, and plan size
    * CONSTANT in the merge count. The rank-ordered rewrite is ONE
    * native expression ([[graft.expressions.ReplaceChain]]) looping
    * over the pattern table at runtime — the table rides the plan's
    * reference array (shipped once per stage, the broadcast-equivalent
    * for `numMerges` rows), so a production 32k-merge vocabulary
    * plans, analyzes, and Janino-compiles exactly like the 8-merge
    * test table. (The obvious alternative — folding one `replace`
    * plan node per merge — is value-identical but builds a tree
    * `numMerges` deep: analyzer recursion and the 64KB codegen method
    * limit kill it at real vocabulary scale, which is why it is not
    * the implementation.) Per-step semantics are exactly the `replace`
    * built-in's (literal, non-overlapping, left-to-right), pinned by
    * the CorpusIndexSpec equivalence spec and the q105 oracle. */
  def bpeEncode(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      outCol: String = "bpe_tokens"): DataFrame = {
    validateMerges(merges)
    df.withColumn(outCol,
      flatten(transform(
        filter(TextFunctions.tokens(col(textCol)), w => length(w) > 0),
        encodeWordCol(df, merges))))
  }

  /** The per-word BPE encode kernel [[bpeEncode]] maps over each
    * document's words — factored out so word-table consumers
    * ([[bpeTokenFrequencies]]) apply the IDENTICAL expression to the
    * identical word values (no re-tokenization of the word, which
    * could trim whitespace-edged words differently). */
  private def encodeWordCol(
      df: DataFrame,
      merges: Seq[(String, String)]): Column => Column = {
    val searches = merges.map { case (a, b) => s" $a  $b " }
    val replacements = merges.map { case (a, b) => s" $a$b " }
    w => {
      val repr0 = concat(lit(" "),
        array_join(transform(sequence(lit(1), length(w)),
          i => w.substr(i, lit(1))), "  "),
        lit(" "))
      val reprN = GraftFunctions.replaceChain(df, repr0, searches, replacements)
      split(trim(reprN), "  ")
    }
  }

  /** Subword-token frequencies of [[bpeEncode]]'s output stream — the
    * vocabulary-building aggregate — WITHOUT a second corpus-wide
    * encode pass. BPE encoding is deterministic PER WORD, so the
    * frequency of a subword is sum over distinct words of
    * (occurrences of the word in the corpus) x (occurrences of the
    * subword in that word's encoding): count words once (map-side
    * combined, the exchange carries one partial count per distinct
    * word per map task), run the encode kernel over the DISTINCT word
    * table only, and weight. At production merge counts the encode
    * kernel is the expensive part (the rank-ordered rewrite loops over
    * the whole merge table per word), so collapsing it from
    * per-occurrence to per-distinct-word is the same Zipf win the
    * unigram trainer's distinct-word segmentation rides — and locally
    * it removes one full ReplaceChain pass over the corpus.
    * Value-identical to
    * `bpeEncode(df,...).select(explode(col(out))).groupBy.count` by
    * commutativity of the count (pinned by spec + the q107 oracle). */
  def bpeTokenFrequencies(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    validateMerges(merges)
    val wordFreq = df
      .select(explode(
        filter(TextFunctions.tokens(col(textCol)), w => length(w) > 0))
        .as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__wf"))
    wordFreq
      .select(explode(encodeWordCol(wordFreq, merges)(col("__word")))
        .as("token"), col("__wf"))
      .groupBy("token").agg(sum(col("__wf")).as("freq"))
  }

  // ------------------------------------------------------------------
  // BYTE-LEVEL BPE mode (the GPT-2/Llama production lineage — Radford
  // et al. 2019's public bytes_to_unicode rule): pretokenize on
  // whitespace, then operate on each word's UTF-8 BYTES, every byte
  // mapped to one printable code point (graft.expressions.ByteUnicode
  // — 256 distinct BMP chars, none of them whitespace). The char-level
  // trainer/encoder then runs on byte symbols unchanged, which changes
  // segmentation on ANY non-ASCII corpus (a multi-byte character is
  // now several symbols that merges must learn to re-join) and gives
  // FULL coverage with no unk token: an unseen character always
  // decomposes into single-byte symbols — the byte-fallback property.

  /** The byte-level symbol form of a text column: whitespace words,
    * each word's UTF-8 bytes mapped through the byte↔unicode table,
    * re-joined with single spaces. Map-only, one native codegen'd
    * expression per word ([[graft.expressions.ByteUnicodeMap]]) — the
    * mapped alphabet contains no whitespace, so word boundaries
    * survive and the downstream space-wrapped symbol machinery is
    * untouched. */
  private def byteSymbolText(df: DataFrame, textCol: String): Column =
    array_join(
      transform(
        filter(TextFunctions.tokens(col(textCol)), w => length(w) > 0),
        w => graft.expressions.GraftFunctions.byteUnicode(df, w)),
      " ")

  /** BYTE-LEVEL [[bpeMerges]]: identical recurrence, byte symbols.
    * Merge table symbols (lhs/rhs/merged) are in the mapped space —
    * decode readable forms with [[byteBpeDecode]] where valid UTF-8.
    * Same tiers, same batching proof, same engine-exact tie order
    * (mapped symbols are plain strings). */
  def byteBpeMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      batchK: Int = 16,
      maxDriverWords: Int = 1000000): DataFrame = {
    TempCols.reserve(df, "byteBpeMerges", "__byte_text")
    bpeMerges(
      df.select(byteSymbolText(df, textCol).as("__byte_text")),
      "__byte_text", numMerges, batchK, maxDriverWords)
  }

  /** BYTE-LEVEL [[bpeEncode]]: each word byte-mapped, then the same
    * rank-ordered native replace chain. Output tokens are byte-space
    * symbols; every input — any script, any binary-ish crawl junk —
    * encodes with zero unk (single-byte symbols are always valid
    * starting symbols, merges only ever join them). */
  def byteBpeEncode(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      outCol: String = "byte_bpe_tokens"): DataFrame = {
    TempCols.reserve(df, "byteBpeEncode", "__byte_text")
    bpeEncode(
        df.withColumn("__byte_text", byteSymbolText(df, textCol)),
        "__byte_text", merges, outCol)
      .drop("__byte_text")
  }

  /** Decode an array of byte-space tokens back to text: concatenate,
    * invert the byte map ([[graft.expressions.ByteUnicodeUnmap]] —
    * exact byte inverse). NULL when any code point is outside the
    * table. Decoding a whole word's tokens always yields the original
    * word (the roundtrip spec); a lone mid-sequence token may not be
    * valid UTF-8 on its own — that is the byte-level contract. */
  def byteBpeDecode(df: DataFrame, tokens: Column): Column =
    graft.expressions.GraftFunctions.byteUnicodeInverse(
      df, array_join(tokens, ""))

  // ------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — the other dominant
  // production tokenizer lineage next to BPE (Kudo, "Subword
  // Regularization", ACL'18): a vocabulary of subword candidates with
  // unigram probabilities, words segmented by the max-probability
  // (Viterbi) path over the candidate lattice.

  /** A trained unigram-LM vocabulary: the kept tokens with their
    * final hard-EM (Viterbi) path counts. Probabilities are add-one
    * smoothed over the kept set — `p(s) = (cnt+1)/Σ(cnt+1)` — so
    * single-character fallback tokens stay usable even at count 0 and
    * an UNSEEN character at encode time scores as a zero-count token
    * (the deterministic unk rule, no tuned penalty). */
  case class UnigramModel(entries: Vector[(String, Long)]) {
    require(entries.nonEmpty, "unigram model: empty vocabulary")
    require(entries.map(_._1).distinct.length == entries.length,
      "unigram model: duplicate tokens")
    require(entries.forall(_._2 >= 0L), "unigram model: negative count")
    /** Σ(cnt+1) — the add-one normalizer. */
    def totalSmoothed: Long = entries.map(_._2 + 1L).sum
    /** Longest token, in code points — the lattice's edge bound. */
    def maxTokenLen: Int =
      entries.map(e => e._1.codePointCount(0, e._1.length)).max
  }

  /** `round(ln((cnt+1)/total), 12) × 1e12` as an exact long — the
    * 12dp fixed-point log-probability (the survival family's ln
    * discipline: one correctly-rounded-to-12dp ln per token, exact
    * integer sums thereafter, so Viterbi score comparisons are
    * engine-exact). */
  private def unigramLp12(cnt: Long, totalSmoothed: Long): Long =
    (BigDecimal(Math.log((cnt + 1L).toDouble / totalSmoothed.toDouble))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      * BigDecimal(1000000000000L)).toLongExact

  /** The Viterbi segmentation of one word as a pure COLUMN — the
    * max-score path over the subword lattice, scores as exact
    * fixed-point longs: `dp[j] = max over len ∈ 1..L of (dp[j−len] +
    * lp(w[j−len+1..j]))`, a multi-character edge valid only when its
    * substring is in the vocabulary, a single-character edge always
    * valid (vocabulary lp, else `lpUnk`); ties break to the LONGER
    * token; the token array reconstructs by walking the stored edge
    * lengths back from the end. Map-only, no join, no UDF: the whole
    * DP is ONE native expression ([[graft.expressions
    * .UnigramSegment]]) with the vocabulary in the plan's reference
    * array — it runs once per word occurrence corpus-wide, and the
    * equivalent higher-order-function lattice evaluated interpreted
    * (~17 s for the sf0.1 encode; the native node is ~20×
    * faster). */
  private def unigramViterbi(
      df: DataFrame, w: Column, lpEntries: Seq[(String, Long)],
      maxTokenLen: Int, lpUnk: Long): Column =
    GraftFunctions.unigramSegment(df, w,
      lpEntries.map(_._1), lpEntries.map(_._2), maxTokenLen, lpUnk)

  /** Train a unigram-LM vocabulary with deterministic hard
    * (Viterbi) EM — bit-reproducible like [[bpeMerges]], every choice
    * an exact-integer comparison:
    *
    *  1. SEED: the word-frequency table (one distributed
    *     aggregation; words longer than `maxWordLen` are excluded
    *     from TRAINING — crawl garbage must not shape the
    *     vocabulary) explodes into all substrings of length ≤
    *     `maxTokenLen` with occurrence-weighted counts (one
    *     vocabulary-bounded aggregation over the DISTINCT word
    *     table, never the corpus). Every single character is kept;
    *     the top `seedSize − |alphabet|` multi-character candidates
    *     by the SentencePiece seed score `cnt × len` (ties by token
    *     bytes) join them.
    *  2. EM (`iters` fixed rounds): E-step Viterbi-segments every
    *     distinct word IN-PLAN ([[unigramViterbi]] — the candidate
    *     lp table is a plan literal, 12dp fixed-point logs, exact
    *     long path scores) and aggregates path counts weighted by
    *     word frequency (vocabulary-bounded); M-step re-normalizes
    *     with add-one smoothing. Multi-character candidates whose
    *     count drops to 0 are pruned; single characters never are
    *     (full coverage).
    *  3. PRUNE: keep all single characters plus the top
    *     `vocabSize − |alphabet|` multis by (final count, token
    *     bytes).
    *
    * Scale shape: the corpus is scanned ONCE (word frequencies);
    * every EM round is one map-only Viterbi pass over the
    * vocabulary-bounded distinct-word table plus one
    * candidate-bounded count aggregation; only candidate tables
    * (≤ `seedSize` ≤ 4096, the plan-literal bound) ever reach the
    * driver. */
  def unigramTrainModel(
      df: DataFrame, textCol: String, vocabSize: Int,
      maxTokenLen: Int = 4, seedSize: Int = 1024, iters: Int = 2,
      maxWordLen: Int = 16): UnigramModel = {
    require(vocabSize >= 2, s"vocabSize ($vocabSize) must be >= 2")
    require(maxTokenLen >= 2 && maxTokenLen <= 8,
      s"maxTokenLen ($maxTokenLen) must be in [2, 8]")
    require(seedSize >= 2 && seedSize <= 4096,
      s"seedSize ($seedSize) must be in [2, 4096] (plan-literal bound)")
    require(iters >= 1 && iters <= 8,
      s"iters ($iters) must be in [1, 8]")
    require(maxWordLen >= maxTokenLen && maxWordLen <= 64,
      s"maxWordLen ($maxWordLen) must be in [$maxTokenLen, 64]")
    Blocks.scoped { scope =>
      val words = scope.checkpoint(df
        .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
        .filter(length(col("w")).between(1, maxWordLen))
        .groupBy("w").agg(count(lit(1)).as("freq")))
      val subs = scope.checkpoint(words.select(col("freq"),
          explode(flatten(transform(
            sequence(lit(1), length(col("w"))), i =>
              transform(sequence(lit(1),
                least(lit(maxTokenLen), length(col("w")) - i + lit(1))),
                l => col("w").substr(i, l))))).as("token"))
        .groupBy("token").agg(sum(col("freq")).as("cnt")))
      val singles = {
        val s = subs.filter(length(col("token")) === 1)
          .limit(seedSize).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        require(s.nonEmpty, "unigramTrain: empty corpus")
        require(s.length < seedSize,
          s"unigramTrain: alphabet (${s.length}+) does not fit " +
            s"seedSize ($seedSize) — raise seedSize")
        val nMulti = seedSize - s.length
        val m = subs.filter(length(col("token")) > 1)
          .orderBy((col("cnt") * length(col("token"))).desc, col("token"))
          .limit(nMulti).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        (s, m)
      }
      scope.release(subs)
      val (sing0, mult0) = singles
      val singleSet = sing0.map(_._1).toSet
      var kept: Vector[(String, Long)] = (sing0 ++ mult0).toVector
        .sortWith((a, b) => utf8Compare(a._1, b._1) < 0)
      var iter = 0
      while (iter < iters) {
        val total = kept.map(_._2 + 1L).sum
        val lpUnk = unigramLp12(0L, total)
        val lpEntries = kept.map { case (t, c) => (t, unigramLp12(c, total)) }
        val cnts = words
          .select(col("freq"),
            explode(unigramViterbi(words, col("w"), lpEntries, maxTokenLen,
              lpUnk)).as("token"))
          .groupBy("token").agg(sum(col("freq")).as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        kept = kept.flatMap { case (t, _) =>
          val c = cnts.getOrElse(t, 0L)
          if (singleSet(t) || c > 0L) Some((t, c)) else None
        }
        iter += 1
      }
      val (sing, mult) = kept.partition(e => singleSet(e._1))
      val keepMulti = mult.sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2 else utf8Compare(a._1, b._1) < 0
      }.take(math.max(0, vocabSize - sing.length))
      UnigramModel((sing ++ keepMulti)
        .sortWith((a, b) => utf8Compare(a._1, b._1) < 0))
    }
  }

  /** [[unigramTrainModel]] as a readout frame: one row per kept
    * token — (`rank` by (freq desc, token bytes), `token`, `freq` —
    * the final Viterbi path count, `logp6` — the add-one smoothed
    * log-probability over the final vocabulary). */
  def unigramTrain(
      df: DataFrame, textCol: String, vocabSize: Int,
      maxTokenLen: Int = 4, seedSize: Int = 1024, iters: Int = 2,
      maxWordLen: Int = 16): DataFrame =
    unigramVocabFrame(df.sparkSession,
      unigramTrainModel(df, textCol, vocabSize, maxTokenLen, seedSize,
        iters, maxWordLen))

  /** The (rank, token, freq, logp6) readout of a [[UnigramModel]]. */
  def unigramVocabFrame(
      spark: org.apache.spark.sql.SparkSession,
      model: UnigramModel): DataFrame = {
    val total = model.totalSmoothed
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ranked = model.entries.sortWith { (a, b) =>
      if (a._2 != b._2) a._2 > b._2 else utf8Compare(a._1, b._1) < 0
    }.zipWithIndex.map { case ((t, c), i) =>
      (i + 1L, t, c,
        r6(Math.log((c + 1L).toDouble / total.toDouble)))
    }
    import spark.implicits._
    ranked.toDF("rank", "token", "freq", "logp6")
  }

  /** Persist a trained [[UnigramModel]] as plain parquet (the
    * [[Ivf.save]] artifact discipline: stamped, one bounded table,
    * exact longs survive parquet bit-for-bit). */
  def unigramSave(
      spark: org.apache.spark.sql.SparkSession, model: UnigramModel,
      path: String): Unit = {
    import spark.implicits._
    ArtifactFormat.stamp(
        model.entries.toDF("token", "freq"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[unigramSave]]d model, loudly validated (distinct
    * non-empty tokens, non-negative counts — a corrupted artifact
    * fails here, not as silently wrong segmentations). Bit-identical
    * roundtrip, pinned by spec. */
  def unigramLoad(
      spark: org.apache.spark.sql.SparkSession, path: String): UnigramModel = {
    val rows = ArtifactFormat.checked(
        spark.read.parquet(path), "unigram model", path)
      .select(col("token"), col("freq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(rows.forall(_._1.nonEmpty),
      s"unigram model at $path is corrupted: empty token")
    UnigramModel(rows.toVector
      .sortWith((a, b) => utf8Compare(a._1, b._1) < 0))
  }

  /** Viterbi-encode a text column under a trained [[UnigramModel]]:
    * whitespace words each segmented by [[unigramViterbi]] (map-only,
    * vocabulary as ONE plan-literal map, exact fixed-point scores),
    * concatenated in document order into `outCol`. Unseen characters
    * score as zero-count (add-one) tokens and pass through as
    * themselves — deterministic byte-level fallback, nothing is
    * dropped. Words longer than `maxWordLen` fail LOUDLY (count-first
    * probe): encode must never silently skip content — pre-split
    * pathological words upstream. */
  def unigramEncode(
      df: DataFrame, textCol: String, model: UnigramModel,
      maxWordLen: Int = 64,
      outCol: String = "unigram_tokens"): DataFrame = {
    require(maxWordLen >= model.maxTokenLen,
      s"maxWordLen ($maxWordLen) must be >= the model's longest " +
        s"token (${model.maxTokenLen})")
    val over = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > maxWordLen).limit(1).count()
    require(over == 0L,
      s"unigramEncode: a word exceeds maxWordLen ($maxWordLen) — " +
        "pre-split pathological words upstream")
    val total = model.totalSmoothed
    val lpUnk = unigramLp12(0L, total)
    val lpEntries = model.entries.map { case (t, c) =>
      (t, unigramLp12(c, total))
    }
    df.withColumn(outCol,
      flatten(transform(
        filter(TextFunctions.tokens(col(textCol)), w => length(w) > 0),
        w => unigramViterbi(df, w, lpEntries, model.maxTokenLen, lpUnk))))
  }
}
