package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Exact all-pairs similarity search (APSS) with prefix filtering —
  * the Bayardo/Ma/Srikant WWW'07 algorithm: every document pair whose
  * TF-IDF cosine reaches a threshold, found WITHOUT LSH and WITHOUT an
  * n² scan. Unlike the MinHash/SimHash families (probabilistic recall,
  * verified after the fact) this is exact by a pruning THEOREM, so no
  * recall gate is needed — the candidate set provably contains every
  * qualifying pair; the LSH families remain the right tool when the
  * similarity measure is set-Jaccard or Hamming rather than weighted
  * cosine.
  */
object Apss {

  /** All document pairs with n-gram TF-IDF cosine >= `threshold`
    * (compared on the 6-decimal-ROUNDED cosine, so an IEEE fold-order
    * ulp cannot flip membership cross-engine).
    *
    * The pruning theorem: fix any global feature order; for unit
    * vector x let the PREFIX be the maximal head (in that order) with
    * `sum(x_i * maxw_i) < t`, where `maxw_i` is the corpus-wide max
    * normalized weight of feature i. For any y,
    * `dot(x_prefix, y) <= sum(x_i * maxw_i) < t`, so a pair with
    * `dot(x, y) >= t` MUST share a feature in x's SUFFIX. Indexing
    * only suffixes therefore loses nothing: candidates = indexed
    * features ⋈ full postings. Features are ordered hottest-first
    * (df desc), which pushes the corpus-wide stopword n-grams into the
    * unindexed prefix — exactly the features whose posting lists would
    * otherwise explode the candidate join. A document whose TOTAL
    * bound sum stays below t indexes nothing and correctly generates
    * no candidates: it cannot reach t with any partner.
    *
    * The suffix boundary is computed on a floating cumulative sum, so
    * indexing starts at `cum >= t - 1e-9` rather than `cum >= t`: the
    * margin dominates the fold's ulp error and keeps the unindexed
    * prefix provably under t — a boundary wobble can only index one
    * feature too MANY (harmless), never one too few (a lost pair).
    *
    * Scale shape: gram tf is one corpus-length count shuffle,
    * materialized once (localCheckpoint) with the corpus size N riding
    * the same scan as an `observe()` metric — construction runs ONE
    * job over the corpus, and every downstream branch reads the
    * checkpointed tf instead of re-tokenizing; df,
    * max-weight, and the global feature ranking are vocabulary-bounded
    * ([[General.withContiguousRowIds]] for the ranking — never a
    * single-partition window); the per-document cumulative bound is a
    * doc-partitioned window (sorts within docs only); the candidate
    * join expands per gram as |indexed_g| × |posting_g|, bounded
    * count-first by [[BucketGuard]] on the full posting (indexed ⊆
    * full, so one guard bounds both sides) — a degenerate hot feature
    * raises loudly, or with `dropOversize` is excluded from CANDIDATE
    * GENERATION only (observable recall loss on pairs sharing nothing
    * else; verification always uses complete vectors, so surviving
    * pairs' cosines stay exact). Verification is candidate-bounded
    * and SHUFFLE-FREE past the two pair-to-vector joins: each
    * document's complete vector is carried once as (sorted xxhash64
    * key array, aligned weight array) and each candidate pair's
    * cosine is one codegen'd merge walk
    * ([[graft.expressions.SparseDotSorted]]) — the relational
    * alternative (pair ⋈ features-of-a ⋈ features-of-b + per-pair
    * sum) expands every candidate by ALL of one side's features and
    * was measured ~60% of the query's wall clock. Hashed feature keys
    * carry [[graft.expressions.SortedIntersectCount]]'s documented
    * 2^-64-per-pair collision trade; candidate GENERATION keeps exact
    * gram strings, so a collision could only perturb one verified
    * cosine, never lose a candidate.
    *
    * Weights: tf × ln(N/df), L2-normalized per doc. Zero-norm docs
    * (every gram in every doc) cannot pair and are excluded. Docs
    * shorter than n tokens have no features and are excluded.
    *
    * Returns (`id_a`, `id_b`, `cos6`) with id_a < id_b. */
  def allPairsCosine(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxPosting: Int = 100000,
      dropOversize: Boolean = false): DataFrame = Blocks.scoped { s =>
    require(n >= 1, s"n ($n) must be >= 1")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1] — the prefix bound is " +
        "vacuous at 0 (every feature indexed, candidate set = inverted " +
        "index join of everything)")
    require(maxPosting >= 1, s"maxPosting ($maxPosting) must be >= 1")

    val nObs = org.apache.spark.sql.Observation()
    val toks = df.select(col(idCol).as("__id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .observe(nObs, count(lit(1)).as("__n"))
    val grams = toks.filter(size(col("__toks")) >= n)
      .select(col("__id"),
        explode(transform(sequence(lit(0), size(col("__toks")) - n),
          i => array_join(slice(col("__toks"), i + 1, lit(n)), " ")))
          .as("__gram"))
    // The corpus size N (a driver scalar needed at plan-construction
    // time for the IDF literal) rides the SAME job that materializes
    // the tf table, via an Observation on the pre-filter token
    // projection — N counts ALL docs, including gram-less ones, which
    // is the oracle's COUNT(*) semantics. One scan of the corpus thus
    // yields both N and tf, and the checkpointed tf is what every
    // downstream branch (df, weights, vectors) reads — replacing the
    // separate eager df.count() full scan this used to pay.
    val tf = s.checkpoint(grams
      .groupBy("__id", "__gram").agg(count(lit(1)).as("__tf")))
    // Late metrics delivery degrades to a one-column recount (the
    // Observed discipline) instead of `nObs.get`'s unbounded block.
    val nRow = Observed.row(nObs) { df.agg(count(lit(1))).head() }
    val nDocs = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val dfreq = tf.groupBy("__gram").agg(count(lit(1)).as("__df"))

    val w = tf.join(dfreq, "__gram") // vocab-bounded, AQE broadcasts
      .select(col("__id"), col("__gram"),
        (col("__tf").cast("double") *
          log(lit(nDocs.toDouble) / col("__df").cast("double"))).as("__w"))
    val norms = w.groupBy("__id")
      .agg(sqrt(sum(col("__w") * col("__w"))).as("__norm"))
    // Materialized ONCE: four branches consume nw (max-weight ranking,
    // prefix-bound cumulative features, posting lists, verification
    // vectors), and without the checkpoint each re-runs the idf join +
    // norm aggregation + normalize join from tf — three redundant
    // shuffle rounds over the corpus-length weight table (measured in
    // the r19 plan audit: 4 identical Exchange subtrees).
    val nw = s.checkpoint(w.join(norms, "__id")
      .filter(col("__norm") > 0.0)
      .select(col("__id"), col("__gram"), (col("__w") / col("__norm")).as("__nw")))

    // Global feature order, hottest first: rank over (df desc, gram) via
    // the range-partitioned contiguous-id machinery.
    val maxw = nw.groupBy("__gram").agg(max(col("__nw")).as("__maxw"))
    val order = General.withContiguousRowIds(
        dfreq.join(maxw, "__gram")
          .select(col("__gram"), (lit(0L) - col("__df")).as("__negdf"),
            col("__maxw")),
        Seq("__negdf", "__gram"), "__rank")
      .select(col("__gram"), col("__rank"), col("__maxw"))

    val cum = sum(col("__nw") * col("__maxw")).over(
      Window.partitionBy("__id").orderBy("__rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val feats = nw.join(order, "__gram")
      .withColumn("__cum", cum)
    val indexed = feats.filter(col("__cum") >= threshold - 1e-9)
      .select(col("__id"), col("__gram"))

    val posting = BucketGuard.bounded(
      nw.select(col("__id"), col("__gram")),
      Seq("__gram"), 1, maxPosting, dropOversize,
      c => concat(
        lit(s"apss: posting list exceeds maxPosting=$maxPosting (size "),
        c.cast("string"),
        lit(s") — a hot feature would expand the candidate join; raise " +
          s"maxPosting or set dropOversize=true to trade recall for it")))
    val cand = indexed.as("i")
      .join(posting.as("f"),
        col("i.__gram") === col("f.__gram") && col("i.__id") < col("f.__id"))
      .select(col("i.__id").as("__ida"), col("f.__id").as("__idb"))
      .distinct()

    val vecs = nw
      .select(col("__id"), xxhash64(col("__gram")).as("__h"), col("__nw"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__h"), col("__nw"))))
        .as("__p"))
      .select(col("__id"),
        transform(col("__p"), p => p.getField("__h")).as("__keys"),
        transform(col("__p"), p => p.getField("__nw")).as("__vals"))
    val withVecs = cand
      .join(vecs.select(col("__id").as("__ida"), col("__keys").as("__ka"),
        col("__vals").as("__va")), Seq("__ida"))
      .join(vecs.select(col("__id").as("__idb"), col("__keys").as("__kb"),
        col("__vals").as("__vb")), Seq("__idb"))
    withVecs
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        round(graft.expressions.GraftFunctions.sparseDot(df,
          col("__ka"), col("__va"), col("__kb"), col("__vb")), 6)
          .as("cos6"))
      .filter(col("cos6") >= threshold)
  }
}
