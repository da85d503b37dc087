package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.functions.Aggregators

/** Retrieval evaluation — the measurement side of the embedding-search
  * family ([[Similarity]] / [[Ivf]] / [[Pq]] produce rankings; this
  * judges them): exact multi-query ground truth + the standard ranked
  * metrics (recall@k, MRR, nDCG@k). An index knob (nprobe, codebook
  * size, dim truncation) is only tunable when its recall cost is a
  * number — q106/q110 sized their knobs by exactly this kind of sweep,
  * done ad hoc; this operator makes it a first-class, oracle-checkable
  * step.
  */
object Eval {

  /** Exact cosine top-k for EVERY query in a driver-bounded query set
    * (the eval sample — hundreds, not millions): queries ship as ONE
    * literal array in the plan (the [[Ivf]] centroid-literal pattern),
    * each corpus row map-side explodes against them and scores through
    * the native codegen'd cosine, and the per-query bounded-heap
    * aggregator ([[Aggregators.topKPerGroup]]) reduces map-side — the
    * shuffle carries O(partitions · |Q| · k) heap entries, never the
    * |corpus| · |Q| score stream, and there is NO join in the plan (a
    * non-equi broadcast join here would plan as a nested-loop).
    *
    * Output: (`query_id`, `item_id`, `rank` 1..k, `score`), rank by
    * (score desc, item_id) — the [[Similarity.bruteForceTopK]] tie
    * rule.
    */
  def topKAllQueries(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      excludeSelf: Boolean = true,
      maxQueries: Int = 1024): DataFrame = {
    require(queries.nonEmpty, "topKAllQueries needs at least one query")
    require(k >= 1, s"k ($k) must be >= 1")
    require(maxQueries >= 1, s"maxQueries ($maxQueries) must be >= 1")
    // the query set is a PLAN LITERAL — a driver-bounded eval sample,
    // not a data-sized input; past the bound the plan itself becomes
    // the memory hazard, so fail loudly and point at the joined
    // formulation (the BucketGuard discipline)
    require(queries.size <= maxQueries,
      s"topKAllQueries: ${queries.size} queries exceed maxQueries=" +
        s"$maxQueries — the query set ships as one plan literal; for " +
        "larger sets use topKAllQueriesJoined (queries as a DataFrame, " +
        "blocked equi-join) or raise maxQueries deliberately")
    val qlit = array(queries.map { case (qid, v) =>
      struct(lit(qid).as("query_id"), Similarity.vectorLit(v).as("qv"))
    }: _*)
    val exploded = corpus
      .select(col(idCol).cast("long").as("item_id"), col(vecCol).as("__cv"))
      .select(col("item_id"), col("__cv"), explode(qlit).as("__q"))
    val kept =
      if (excludeSelf) exploded.filter(col("item_id") =!= col("__q.query_id"))
      else exploded
    val scored = kept.select(col("__q.query_id").as("query_id"),
      col("item_id"),
      GraftFunctions.cosineF32(corpus, col("__cv"), col("__q.qv")).as("score"))
    val top = Aggregators.topKPerGroup(scored, Seq("query_id"),
      "score", "item_id", k)
    // rank over the k surviving rows per query — |Q|·k rows total
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("item_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("item_id"), col("rank"), col("score"))
  }

  /** [[topKAllQueries]] for query sets too large for a plan literal:
    * queries arrive as a DATAFRAME and meet the corpus on an explicit
    * BLOCKED equi-join — every corpus row hashes into one of `blocks`
    * buckets, every query replicates into all of them, so the exact
    * all-pairs scoring is an equi-join a hash join executes (never a
    * nested-loop broadcast, which a direct non-equi join would plan),
    * and the per-partition stream feeds the same map-side bounded-heap
    * aggregator — the shuffle after scoring still carries
    * O(partitions · |Q| · k) heap entries, never the |corpus| · |Q|
    * score stream. Identical output contract and tie rule as
    * [[topKAllQueries]] (the agreement spec pins it).
    *
    * `blocks` sizes the corpus-side hash buckets (queries replicate
    * `blocks`×): more blocks = finer partitions of the corpus side
    * (parallelism for the scoring scan), at |Q|·blocks replicated
    * query rows — both linear, nothing quadratic outside the scoring
    * itself, which is the operator's exact-ground-truth contract. */
  def topKAllQueriesJoined(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      excludeSelf: Boolean = true,
      blocks: Int = 32): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(blocks >= 1, s"blocks ($blocks) must be >= 1")
    val c = corpus
      .select(col(idCol).cast("long").as("item_id"), col(vecCol).as("__cv"))
      .withColumn("__blk", pmod(xxhash64(col("item_id")), lit(blocks.toLong)))
    val q = queries
      .select(col(queryIdCol).cast("long").as("query_id"),
        col(queryVecCol).as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(sequence(lit(0L), lit(blocks.toLong - 1))).as("__blk"))
    val joined = c.join(q, Seq("__blk"))
    val kept =
      if (excludeSelf) joined.filter(col("item_id") =!= col("query_id"))
      else joined
    val scored = kept.select(col("query_id"), col("item_id"),
      GraftFunctions.cosineF32(corpus, col("__cv"), col("__qv")).as("score"))
    val top = Aggregators.topKPerGroup(scored, Seq("query_id"),
      "score", "item_id", k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("item_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("item_id"), col("rank"), col("score"))
  }

  /** Ranked-retrieval metrics per query, binary relevance against a
    * ground-truth top-k: `recall` = |pred ∩ truth| / |truth|, `mrr` =
    * 1 / first predicted rank that hits truth (0 if none), `ndcg` =
    * DCG over hit ranks / ideal DCG for `min(k, |truth|)` relevant
    * items (`1/log2(rank+1)` gains). Both inputs are
    * (`queryCol`, `itemCol`, `rankCol`) frames — ranks 1-based.
    *
    * Every query in `truth` appears in the output, zero-filled when
    * nothing was retrieved — silently dropping zero-recall queries
    * would inflate every mean downstream.
    *
    * Scale shape: one equi-join of two (|Q|·k)-bounded frames + two
    * key-bounded aggregations; the ideal-DCG sum is a per-row
    * higher-order fold over ≤ k terms. Nothing touches the corpus.
    */
  def retrievalMetrics(
      predicted: DataFrame,
      truth: DataFrame,
      queryCol: String,
      itemCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val gain = (r: org.apache.spark.sql.Column) =>
      lit(1.0) / log(2.0, r.cast("double") + lit(1.0))
    val t = truth.groupBy(col(queryCol).as("query_id"))
      .agg(count(lit(1)).as("n_truth"))
    val hits = predicted.alias("p")
      .join(truth.alias("t"),
        col(s"p.$queryCol") === col(s"t.$queryCol") &&
          col(s"p.$itemCol") === col(s"t.$itemCol"))
      .select(col(s"p.$queryCol").as("query_id"),
        col(s"p.$rankCol").as("__pr"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"),
        min(col("__pr")).as("__minr"),
        sum(gain(col("__pr"))).as("__dcg"))
    val idcg = aggregate(
      sequence(lit(1), least(lit(k), col("n_truth").cast("int"))),
      lit(0.0), (acc, r) => acc + gain(r))
    t.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall"),
        coalesce(lit(1.0) / col("__minr").cast("double"), lit(0.0)).as("mrr"),
        coalesce(col("__dcg") / idcg, lit(0.0)).as("ndcg"))
  }

  /** Binary-classifier threshold metrics in ONE algebraic pass: the
    * confusion counts (tp/fp/tn/fn at `score > threshold`) plus the
    * standard derived rates. Every derived value is a single IEEE
    * division of exact integer counts, so the output is deterministic
    * bit-for-bit — no rounding gate needed. Degenerate denominators
    * (no predicted positives, a single-class eval set) yield NULL
    * instead of NaN, so a dashboard reads "undefined", not garbage.
    *
    * Output: one row — (n, tp, fp, tn, fn, accuracy, precision,
    * recall, f1). Scale shape: four conditional sums over one scan,
    * map-side combined; one row crosses the exchange per partition.
    */
  def confusionAtThreshold(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      threshold: Double = 0.0): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val p = col(scoreCol).cast("double") > lit(threshold)
    val cnt = (c: org.apache.spark.sql.Column) =>
      sum(when(c, 1L).otherwise(0L))
    val d = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      when(b =!= 0L, a.cast("double") / b.cast("double"))
    scored.agg(
        count(lit(1)).as("n"),
        cnt(y && p).as("tp"), cnt(!y && p).as("fp"),
        cnt(!y && !p).as("tn"), cnt(y && !p).as("fn"))
      .select(col("*"),
        d(col("tp") + col("tn"), col("n")).as("accuracy"),
        d(col("tp"), col("tp") + col("fp")).as("precision"),
        d(col("tp"), col("tp") + col("fn")).as("recall"),
        // 2tp / (2tp + fp + fn) — the tp-weighted harmonic mean, exact
        // as one division and defined whenever any of the three is
        // nonzero (precision/recall formulation NaNs on empty slices)
        d(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"))
  }

  /** Exact ROC-AUC as the Mann-Whitney U rank statistic with average
    * ranks for ties — the threshold-free quality number for a learned
    * gate ([[Classify]] scores, quality models, dedup scorers).
    *
    * Scores are rounded to `roundDigits` BEFORE ranking: ranking raw
    * doubles would let a 1-ulp cross-engine difference flip the order
    * of two near-equal scores, whereas identical rounded values tie
    * and tie-averaging is order-free. With rounded scores the whole
    * statistic is integer arithmetic — per distinct score `s` with
    * `n_s` rows (`np_s` positive) and `cb_s` rows strictly below it,
    * twice the positive rank-sum is `Σ np_s · (2·cb_s + n_s + 1)` —
    * and `auc = (ranksum2 − npos·(npos+1)) / (2·npos·nneg)` is ONE
    * division of exact longs. NULL when the eval set is single-class.
    *
    * Scale shape: one map-side-combined aggregation onto distinct
    * scores, then [[General.withRunningTotal]]'s range-partitioned
    * two-pass prefix sum for `cb_s` — never a single-partition window
    * — and a final scalar aggregation. The exchange is bounded by
    * distinct score values, the sort is range-partitioned.
    *
    * Output: one row — (n_pos, n_neg, auc).
    */
  def rocAuc(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      roundDigits: Int = 6): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val byScore = scored
      .select(round(col(scoreCol).cast("double"), roundDigits).as("__sc"), y.as("__y"))
      .groupBy("__sc")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__np"))
    val ranked = General.withRunningTotal(byScore, Seq("__sc"), "__n", "__cb")
    ranked.agg(
        sum(col("__np")).as("n_pos"),
        sum(col("__n") - col("__np")).as("n_neg"),
        sum(col("__np") * (lit(2L) * col("__cb") + col("__n") + lit(1L)))
          .as("__rs2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          (col("__rs2") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .as("auc"))
  }

  /** Precision-recall curve points — [[confusionAtThreshold]] swept
    * over a threshold list in ONE pass: every threshold's confusion
    * cells come out of a single algebraic aggregation (one conditional
    * sum pair per threshold), not a per-threshold scan, so tracing a
    * 50-point curve costs the same one pass as a single evaluation.
    * The operating-point chooser for a learned gate: pick the
    * threshold row whose precision/recall trade matches the
    * pipeline's tolerance for false keeps vs false drops.
    *
    * Scores are compared ROUNDED to `roundDigits` (the [[rocAuc]]
    * rationale — a cross-engine ulp cannot move a score across a
    * threshold). Derived rates are single divisions of exact longs,
    * NULL on degenerate slices.
    *
    * Output: one row per threshold — (threshold, tp, fp, fn, tn,
    * precision, recall), threshold ascending. */
  def prCurve(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      thresholds: Seq[Double],
      roundDigits: Int = 6): DataFrame = {
    require(thresholds.nonEmpty, "prCurve needs thresholds")
    val y = col(labelCol).cast("boolean")
    val sc = round(col(scoreCol).cast("double"), roundDigits)
    val ordered = thresholds.sorted
    val aggs = ordered.zipWithIndex.flatMap { case (t, i) =>
      val p = sc > lit(t)
      Seq(sum(when(y && p, 1L).otherwise(0L)).as(s"__tp$i"),
        sum(when(!y && p, 1L).otherwise(0L)).as(s"__fp$i"),
        sum(when(y && !p, 1L).otherwise(0L)).as(s"__fn$i"),
        sum(when(!y && !p, 1L).otherwise(0L)).as(s"__tn$i"))
    }
    val one = scored.agg(aggs.head, aggs.tail: _*)
    val d = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      when(b =!= 0L, a.cast("double") / b.cast("double"))
    val entries = ordered.zipWithIndex.map { case (t, i) =>
      val (tp, fp, fn, tn) =
        (col(s"__tp$i"), col(s"__fp$i"), col(s"__fn$i"), col(s"__tn$i"))
      struct(lit(t).as("threshold"), tp.as("tp"), fp.as("fp"),
        fn.as("fn"), tn.as("tn"),
        d(tp, tp + fp).as("precision"), d(tp, tp + fn).as("recall"))
    }
    one.select(explode(array(entries: _*)).as("__e")).select(col("__e.*"))
  }

  /** Optimal operating point — [[prCurve]] without the hand-picked
    * threshold list: sweep EVERY distinct score as a candidate
    * threshold (plus the predict-everything sentinel one unit below
    * the minimum score, the operating point `score > threshold` can
    * never reach from within the score set) and return the single row
    * maximizing the objective — `f1` (2tp / (2tp+fp+fn)) or `youden`
    * (tpr − fpr, the balanced-error choice when prevalence is skewed).
    * Ties break toward the SMALLEST threshold (keep more, a
    * deterministic cross-engine rule).
    *
    * Scale shape: the sweep is over the distinct-ROUNDED-score grid
    * (`roundDigits`, the [[rocAuc]] rationale), never the row set:
    * per-score class counts (one map-side-combined aggregation), two
    * range-partitioned prefix sums ([[graft.operators.General
    * .withRunningTotal]] — never a global one-partition window), then
    * every candidate's confusion cells are closed forms of the
    * cumulatives and two driver scalars; the argmax is a top-1, not a
    * global sort. All cells are exact longs; the objective is one
    * division of exact longs — identical doubles on both engines, so
    * the argmax row (and its 6dp-rounded objective) is hash-exact.
    * Rows with a NULL score or label are excluded.
    *
    * Output: one row — (`objective`, `threshold`, `tp`, `fp`, `fn`,
    * `tn`, `obj6`). */
  def optimalThreshold(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      objective: String = "f1",
      roundDigits: Int = 6): DataFrame = {
    require(Set("f1", "youden").contains(objective),
      s"optimalThreshold: unknown objective '$objective' (f1 | youden)")
    TempCols.reserve(scored, "optimalThreshold",
      "__s", "__y", "__cp", "__cn", "__pp", "__pn")
    val spark = scored.sparkSession
    val counts = scored
      .select(round(col(scoreCol).cast("double"), roundDigits).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy("__s")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__cn"))
    val t = counts.agg(coalesce(sum(col("__cp")), lit(0L)),
      coalesce(sum(col("__cn")), lit(0L)), min(col("__s"))).head()
    val (nPos, nNeg) = (t.getLong(0), t.getLong(1))
    require(nPos > 0L && nNeg > 0L,
      s"optimalThreshold: needs both classes (got $nPos positives, " +
        s"$nNeg negatives)")
    val minS = t.getDouble(2)
    val cum = General.withRunningTotal(
      General.withRunningTotal(counts, Seq("__s"), "__cp", "__pp"),
      Seq("__s"), "__cn", "__pn")
    val fromScores = cum.select(col("__s").as("threshold"),
      (lit(nPos) - (col("__pp") + col("__cp"))).as("tp"),
      (lit(nNeg) - (col("__pn") + col("__cn"))).as("fp"),
      (col("__pp") + col("__cp")).as("fn"),
      (col("__pn") + col("__cn")).as("tn"))
    val sentinel = spark.range(1).select(
      lit(minS - 1.0).as("threshold"), lit(nPos).as("tp"),
      lit(nNeg).as("fp"), lit(0L).as("fn"), lit(0L).as("tn"))
    val obj = objective match {
      case "f1" =>
        when(lit(2L) * col("tp") + col("fp") + col("fn") =!= 0L,
          (lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .otherwise(lit(0.0))
      case "youden" =>
        col("tp").cast("double") / lit(nPos.toDouble) -
          col("fp").cast("double") / lit(nNeg.toDouble)
    }
    fromScores.unionByName(sentinel)
      .withColumn("__obj", obj)
      .orderBy(col("__obj").desc, col("threshold").asc)
      .limit(1)
      .select(lit(objective).as("objective"), col("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("__obj"), 6).as("obj6"))
  }

  /** PER-GROUP optimal operating point — [[optimalThreshold]] keyed
    * by a slice column ("the per-language threshold", where one
    * global cutoff over-filters the minority language): each group's
    * distinct-score sweep plus its own predict-everything sentinel,
    * with group-local cumulative class counts recovered from ONE
    * range-partitioned prefix sum per class (global prefix − group
    * offset — never a per-group window sort) and the argmax taken
    * in-plan per group by `max_by` over (objective, −threshold) —
    * group cardinality unbounded, ties to the smallest threshold.
    * Single-class groups are well-defined, not special-cased: with no
    * negatives the sentinel's F1 is exactly 1 (keep everything); with
    * no positives every F1 is 0 and the tie rule picks the sentinel.
    * Rows with a NULL score or label are excluded; NULL is its own
    * group.
    *
    * Output: one row per group — (`g` as STRING, `objective`,
    * `threshold`, `tp`, `fp`, `fn`, `tn`, `obj6`), ordered by
    * group. */
  def optimalThresholdByGroup(
      scored: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String,
      objective: String = "f1",
      roundDigits: Int = 6): DataFrame = {
    require(Set("f1", "youden").contains(objective),
      s"optimalThresholdByGroup: unknown objective '$objective' (f1 | youden)")
    TempCols.reserve(scored, "optimalThresholdByGroup",
      "__g", "__s", "__y", "__cp", "__cn", "__pp", "__pn")
    val counts = scored
      .select(col(groupCol).cast("string").as("__g"),
        round(col(scoreCol).cast("double"), roundDigits).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy("__g", "__s")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__cn"))
    val pre = General.withRunningTotal(
      General.withRunningTotal(counts, Seq("__g", "__s"), "__cp", "__pp"),
      Seq("__g", "__s"), "__cn", "__pn")
    val offs = pre.groupBy("__g").agg(
      min(col("__pp")).as("__offP"), min(col("__pn")).as("__offN"),
      sum(col("__cp")).as("__P"), sum(col("__cn")).as("__N"),
      min(col("__s")).as("__minS"))
    val joined = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("__s"),
        (col("__pp") - col("__offP") + col("__cp")).as("__ccp"),
        (col("__pn") - col("__offN") + col("__cn")).as("__ccn"),
        col("__P"), col("__N"), col("__minS"))
    val fromScores = joined.select(col("__g"),
      col("__s").as("threshold"),
      (col("__P") - col("__ccp")).as("tp"),
      (col("__N") - col("__ccn")).as("fp"),
      col("__ccp").as("fn"), col("__ccn").as("tn"),
      col("__P"), col("__N"))
    val sentinel = offs.select(col("__g"),
      (col("__minS") - lit(1.0)).as("threshold"),
      col("__P").as("tp"), col("__N").as("fp"),
      lit(0L).as("fn"), lit(0L).as("tn"), col("__P"), col("__N"))
    val obj = objective match {
      case "f1" =>
        when(lit(2L) * col("tp") + col("fp") + col("fn") =!= 0L,
          (lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .otherwise(lit(0.0))
      case "youden" =>
        when(col("__P") > 0L && col("__N") > 0L,
          col("tp").cast("double") / col("__P").cast("double") -
            col("fp").cast("double") / col("__N").cast("double"))
          .otherwise(lit(0.0))
    }
    val cand = fromScores.unionByName(sentinel).withColumn("__obj", obj)
    val payload = struct(col("threshold"), col("tp"), col("fp"),
      col("fn"), col("tn"), round(col("__obj"), 6).as("__obj6"))
    cand.groupBy("__g")
      .agg(max_by(payload, struct(col("__obj"), -col("threshold")))
        .as("__best"))
      .select(col("__g").as("g"), lit(objective).as("objective"),
        col("__best.threshold").as("threshold"),
        col("__best.tp").as("tp"), col("__best.fp").as("fp"),
        col("__best.fn").as("fn"), col("__best.tn").as("tn"),
        col("__best.__obj6").as("obj6"))
      .orderBy("g")
  }

  /** Exact average precision (area under the precision-recall curve,
    * step-interpolated) — [[rocAuc]]'s companion for the
    * rare-positive regimes where ROC flatters ("99.9% of documents
    * are clean" makes any gate look good on ROC; AP only credits the
    * positives): sweep the distinct ROUNDED scores DESCENDING as
    * `score ≥ s` operating points and sum each block's
    * recall-increment × precision,
    * `AP = Σ_s (cp_s / P) · (tp_s / (tp_s + fp_s))` — ties share one
    * block, the standard tie-consistent definition (a permutation of
    * equal scores cannot move AP). Cells are closed forms of two
    * range-partitioned prefix sums over the score grid (never a
    * row-set sweep or a global window); each term is a product of two
    * exact-long divisions — identical doubles on both engines —
    * 12dp-rounded into an exact decimal sum, readout on the 6dp gate.
    * Rows with a NULL score or label are excluded.
    *
    * Output: one row — (`n_pos`, `n_neg`, `ap6`). */
  def averagePrecision(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      roundDigits: Int = 6): DataFrame = {
    TempCols.reserve(scored, "averagePrecision",
      "__s", "__y", "__cp", "__cn", "__pp", "__pn")
    val spark = scored.sparkSession
    val counts = scored
      .select(round(col(scoreCol).cast("double"), roundDigits).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy("__s")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__cn"))
    val t = counts.agg(coalesce(sum(col("__cp")), lit(0L)),
      coalesce(sum(col("__cn")), lit(0L))).head()
    val (nPos, nNeg) = (t.getLong(0), t.getLong(1))
    require(nPos > 0L,
      s"averagePrecision: needs at least one positive (got $nPos)")
    val cum = General.withRunningTotal(
      General.withRunningTotal(counts, Seq("__s"), "__cp", "__pp"),
      Seq("__s"), "__cn", "__pn")
    // predicted-positive at block s is score >= s: tp = P - exclusive
    // prefix of positives, fp = N - exclusive prefix of negatives
    val tp = (lit(nPos) - col("__pp")).cast("double")
    val fp = (lit(nNeg) - col("__pn")).cast("double")
    val term = round(
      (col("__cp").cast("double") / lit(nPos.toDouble)) * (tp / (tp + fp)),
      12).cast("decimal(38,12)")
    val ap = cum.agg(coalesce(sum(term), lit(0).cast("decimal(38,12)")))
      .head().getDecimal(0)
    import spark.implicits._
    Seq((nPos, nNeg, BigDecimal(ap.doubleValue)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_pos", "n_neg", "ap6")
  }

  /** Decile lift table — "how much better than random is the top of
    * the ranking": rows ranked by score descending (ties by `idCol`
    * for a deterministic, partition-independent order), cut into
    * `nBuckets` near-equal buckets, each reporting its positive rate
    * against the global rate as `lift`. The business-facing view of
    * ranking quality ([[rocAuc]] is the statistician's) — "the top
    * decile catches 3.4× its share of positives" is what decides
    * whether a gate is worth deploying.
    *
    * Ranking runs through the range-partitioned
    * [[General.withContiguousRowIds]] — never a single-partition
    * window; bucket of rank r is `r·nBuckets / n` (integer arithmetic,
    * near-equal buckets, first buckets get the remainder rows —
    * deterministic cross-engine). Counts are exact; rates/lift are
    * division chains of exact longs gated at 6 decimals by callers
    * that hash-compare.
    *
    * Output: (bucket, n, n_pos, pos_rate, lift), bucket ascending. */
  def liftTable(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      idCol: String,
      nBuckets: Int = 10,
      roundDigits: Int = 6): DataFrame = {
    require(nBuckets >= 1, s"nBuckets ($nBuckets) must be >= 1")
    val prep = scored.select(
      (-round(col(scoreCol).cast("double"), roundDigits)).as("__negsc"),
      col(idCol).as("__id"),
      col(labelCol).cast("boolean").as("__y"))
    val ranked = General.withContiguousRowIds(prep, Seq("__negsc", "__id"),
      "__rank")
    val totals = ranked.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("__y"), 1L).otherwise(0L)), lit(0L)).as("np"))
      .head()
    val n = totals.getLong(0)
    val np = totals.getLong(1)
    require(n > 0L, "liftTable: no rows to rank")
    // integral DIV, not double division — exact at any corpus size
    val bucket = expr(s"CAST((__rank * $nBuckets) DIV $n AS INT)")
    val globalRate = np.toDouble / n.toDouble
    ranked.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("bucket"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"),
        (when(lit(np) > 0L,
          col("n_pos").cast("double") / col("n").cast("double") /
            lit(globalRate))).as("lift"))
  }

  /** Reliability diagram / calibration table: scores bucketed
    * equi-width over [lo, hi] (the [[Profile.histogram]] arithmetic —
    * clamping edge buckets, zero-filled cells), each bucket reporting
    * how often the positive class actually occurred vs the mean score
    * claimed. A well-calibrated probability column has
    * `frac_pos ≈ mean_score` per bucket; a learned gate that is sharp
    * but miscalibrated shows it here before anyone trusts its
    * threshold.
    *
    * Determinism: scores are rounded to 6 decimals and summed as
    * DECIMAL(28, 6) — double summation order across partitions is not
    * deterministic, decimal addition is exact — then divided once for
    * the mean; `frac_pos` is a single division of counts.
    *
    * Output: one row per bucket — (bucket, lo, hi, n, n_pos,
    * frac_pos, mean_score). Scale shape: one map-only bucket
    * assignment + one bins-bounded aggregation; the zero-fill join is
    * a bins-sized broadcast.
    */
  def calibrationBins(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(bins >= 1, s"bins ($bins) must be >= 1")
    require(hi > lo, s"hi ($hi) must be > lo ($lo)")
    val v = col(scoreCol).cast("double")
    val raw = floor((v - lit(lo)) * lit(bins.toDouble) / (lit(hi) - lit(lo)))
      .cast("int")
    val bucket = least(greatest(raw, lit(0)), lit(bins - 1))
    val per = scored.filter(v.isNotNull)
      .select(bucket.as("bucket"),
        col(labelCol).cast("boolean").as("__y"),
        round(v, 6).cast("decimal(28,6)").as("__s6"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__s6")).as("__ssum"))
    scored.sparkSession.range(bins.toLong)
      .select(col("id").cast("int").as("bucket"))
      .join(per, Seq("bucket"), "left")
      .select(col("bucket"),
        (lit(lo) + col("bucket") * (lit(hi) - lit(lo)) / lit(bins.toDouble))
          .as("lo"),
        (lit(lo) + (col("bucket") + 1) * (lit(hi) - lit(lo)) / lit(bins.toDouble))
          .as("hi"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        when(col("n") > 0L,
          col("n_pos").cast("double") / col("n").cast("double")).as("frac_pos"),
        when(col("n") > 0L,
          col("__ssum").cast("double") / col("n").cast("double"))
          .as("mean_score"))
  }

  /** Brier score + expected calibration error — the two scalar
    * calibration numbers over a scored binary corpus: Brier is the
    * mean squared error of the probability itself
    * (`mean((s − y)²)` — strictly proper, so a model cannot improve
    * it by hedging), ECE is the bucket-weighted gap between claimed
    * confidence and realized frequency
    * (`Σ_b (n_b/n)·|frac_pos_b − mean_score_b|` over
    * [[calibrationBins]]'s buckets — the one-number summary of the
    * reliability diagram). NULL scores and NULL labels are
    * excluded (unscored/unlabeled, not wrong); scores outside [lo, hi] clamp into the edge buckets
    * (the calibrationBins rule) but enter Brier verbatim.
    *
    * Cross-engine determinism: Brier terms and per-bucket gap terms
    * are IEEE doubles summed through 12dp-rounded DECIMAL(38,12)
    * partials (term order provably irrelevant); the bucket means
    * divide the bins' EXACT decimal score sums (scores 6dp-rounded
    * into DECIMAL(28,6) before summing — [[calibrationBins]]'s own
    * exactness trick). Readout on the 6dp gate.
    *
    * Scale shape: one map-side-combined bins-bounded aggregation
    * (shared with the reliability diagram), one map-only Brier pass.
    * Output: one row — (`n`, `brier6`, `ece6`). */
  def brierEce(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame =
    Blocks.scoped { s =>
      brierEceFromState(
        s.checkpoint(calibStateOf(scored, labelCol, scoreCol, bins, lo, hi)))
    }

  /** One shard's calibration state — per occupied bucket the count,
    * positive count, exact DECIMAL(28,6) sum of 6dp-rounded scores
    * (the [[calibrationBins]] trick), and the exact DECIMAL(38,12)
    * sum of 12dp-rounded Brier terms. Every column folds by SUM
    * keyed on the bucket, and decimal addition is associative, so
    * the incremental and streaming readouts provably equal the batch
    * one. Schema: (`bucket`, `n`, `n_pos`, `__ssum`, `__bsum`). */
  private[graft] def calibStateOf(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = {
    require(bins >= 1, s"bins ($bins) must be >= 1")
    require(hi > lo, s"hi ($hi) must be > lo ($lo)")
    val v = col(scoreCol).cast("double")
    val raw = floor((v - lit(lo)) * lit(bins.toDouble) / (lit(hi) - lit(lo)))
      .cast("int")
    val bucket = least(greatest(raw, lit(0)), lit(bins - 1))
    val y = when(col(labelCol).cast("boolean"), lit(1.0)).otherwise(lit(0.0))
    // NULL labels are excluded (unlabeled, not negative — the Annotate
    // discipline): silently scoring them as y=0 would bias Brier/ECE
    // upward exactly on the unlabeled rows
    scored.filter(v.isNotNull && col(labelCol).isNotNull)
      .select(bucket.as("bucket"),
        (y === 1.0).as("__y"),
        round(v, 6).cast("decimal(28,6)").as("__s6"),
        round((v - y) * (v - y), 12).cast("decimal(38,12)").as("__b12"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__s6")).as("__ssum"),
        sum(col("__b12")).as("__bsum"))
  }

  /** The calibration-state fold: union + one bins-bounded
    * re-aggregation, everything merges by SUM. */
  private[graft] def foldCalibState(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("bucket")
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        sum(col("__ssum")).as("__ssum"), sum(col("__bsum")).as("__bsum"))

  /** [[brierEce]] as a [[FoldMonitor]] over the bins-bounded
    * calibration state: the live "is the model's confidence still
    * honest?" dashboard. */
  def calibrationMonitor(labelCol: String, scoreCol: String, bins: Int = 10,
      lo: Double = 0.0, hi: Double = 1.0): FoldMonitor =
    FoldMonitor("calibrationMonitor", _.select(labelCol, scoreCol),
      calibStateOf(_, labelCol, scoreCol, bins, lo, hi), foldCalibState,
      brierEceFromState)

  /** Per-group [[brierEce]] — calibration PER SLICE (language, source,
    * time bucket): the per-slice evaluation that catches a model
    * calibrated overall while confidently wrong on one language (the
    * [[rocAucByGroup]] argument applied to calibration). The whole
    * readout runs IN the plan over group-keyed state (group
    * cardinality unbounded, no driver scalars). Output: one row per
    * group — (`groupCol` as STRING, `n`, `brier6`, `ece6`), ordered
    * by group. */
  def brierEceByGroup(
      scored: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame =
    Blocks.scoped { s =>
      brierEceByGroupFromState(s.checkpoint(
        groupCalibStateOf(scored, groupCol, labelCol, scoreCol, bins, lo, hi)),
        groupCol)
    }

  /** One shard's GROUP-KEYED calibration state — [[calibStateOf]]
    * with the group riding in the key; folds with
    * [[foldGroupCalibState]]. */
  private[graft] def groupCalibStateOf(
      scored: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = {
    require(bins >= 1, s"bins ($bins) must be >= 1")
    require(hi > lo, s"hi ($hi) must be > lo ($lo)")
    val v = col(scoreCol).cast("double")
    val raw = floor((v - lit(lo)) * lit(bins.toDouble) / (lit(hi) - lit(lo)))
      .cast("int")
    val bucket = least(greatest(raw, lit(0)), lit(bins - 1))
    val y = when(col(labelCol).cast("boolean"), lit(1.0)).otherwise(lit(0.0))
    scored.filter(v.isNotNull && col(labelCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        bucket.as("bucket"),
        (y === 1.0).as("__y"),
        round(v, 6).cast("decimal(28,6)").as("__s6"),
        round((v - y) * (v - y), 12).cast("decimal(38,12)").as("__b12"))
      .groupBy("__g", "bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__s6")).as("__ssum"),
        sum(col("__b12")).as("__bsum"))
  }

  /** The group-keyed calibration-state fold. */
  private[graft] def foldGroupCalibState(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__g", "bucket")
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        sum(col("__ssum")).as("__ssum"), sum(col("__bsum")).as("__bsum"))

  /** [[brierEceByGroup]] as a [[FoldMonitor]] over the group-keyed
    * calibration state: the live per-slice confidence dashboard. */
  def groupCalibrationMonitor(groupCol: String, labelCol: String,
      scoreCol: String, bins: Int = 10, lo: Double = 0.0,
      hi: Double = 1.0): FoldMonitor =
    FoldMonitor("groupCalibrationMonitor",
      _.select(groupCol, labelCol, scoreCol),
      groupCalibStateOf(_, groupCol, labelCol, scoreCol, bins, lo, hi),
      foldGroupCalibState,
      state => brierEceByGroupFromState(Blocks.checkpoint(state), groupCol))

  /** [[brierEceByGroup]]'s readout over accumulated group-keyed
    * state — shared verbatim by the batch operator, the incremental
    * fold, and the streaming monitor. */
  private[graft] def brierEceByGroupFromState(
      state: DataFrame, groupCol: String): DataFrame = {
    val totals = state.groupBy("__g").agg(
      sum(col("n")).as("__ntot"),
      sum(col("__bsum")).as("__btot"))
    val gap = (col("n").cast("double") / col("__ntot").cast("double")) *
      abs(col("n_pos").cast("double") / col("n").cast("double") -
        col("__ssum").cast("double") / col("n").cast("double"))
    // null-safe group join — the NULL slice is exactly the kind of
    // degenerate stratum a per-slice audit exists to surface
    state.alias("__l")
      .join(totals.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("n"), col("n_pos"),
        col("__ssum"), col("__ntot"), col("__btot"))
      .groupBy("__g").agg(
        max(col("__ntot")).as("n"),
        max(col("__btot")).as("__btot"),
        sum(round(gap, 12).cast("decimal(38,12)")).cast("double")
          .as("__ece"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__btot").cast("double") / col("n").cast("double"), 6)
          .as("brier6"),
        round(col("__ece"), 6).as("ece6"))
      .orderBy(groupCol)
  }

  /** [[brierEce]]'s readout over accumulated calibration state —
    * shared verbatim by the batch operator, the incremental fold,
    * and the streaming monitor. */
  private[graft] def brierEceFromState(state: DataFrame): DataFrame = {
    val spark = state.sparkSession
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast("decimal(38,12)")).cast("double")
    val top = state.agg(
      coalesce(sum(col("n")), lit(0L)).as("n"),
      coalesce(sum(col("__bsum")), lit(0).cast("decimal(38,12)"))
        .as("b")).head()
    val n = top.getLong(0)
    require(n > 0L, "brierEce: no non-null scores")
    val brier = top.getDecimal(1).doubleValue() / n.toDouble
    val ece = state.filter(col("n") > 0L).agg(dsum(
        (col("n").cast("double") / lit(n.toDouble)) *
          abs(col("n_pos").cast("double") / col("n").cast("double") -
            col("__ssum").cast("double") / col("n").cast("double"))))
      .head().getDouble(0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((n, r6(brier), r6(ece))).toDF("n", "brier6", "ece6")
  }

  /** Per-slice ROC-AUC — [[rocAuc]] computed independently for every
    * group (language, source, time bucket): the slice-based evaluation
    * that catches a model scoring 0.95 AUC overall while failing one
    * crawl source completely, which the pooled number hides by
    * construction. Same exact Mann-Whitney statistic with average
    * ranks, same rounded-before-ranking discipline (scores rounded at
    * `roundDigits` so a cross-engine ulp cannot swap an order — the
    * whole rank statistic is then integer arithmetic), NULL AUC for
    * single-class slices.
    *
    * Scale shape: distinct (group, score) aggregation first (bounded
    * by groups × distinct scores), then the cumulative rank base via a
    * group-partitioned ROWS window — sorts within slices only, never a
    * global sort, which is what makes per-slice evaluation viable when
    * one slice is a million rows. The final per-group rollup is
    * algebraic.
    *
    * Output: one row per group — (groupCols..., n_pos, n_neg, auc). */
  def rocAucByGroup(
      scored: DataFrame,
      groupCols: Seq[String],
      labelCol: String,
      scoreCol: String,
      roundDigits: Int = 6): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val y = col(labelCol).cast("boolean")
    val byScore = scored
      .select(groupCols.map(col) ++ Seq(
        round(col(scoreCol).cast("double"), roundDigits).as("__sc"),
        y.as("__y")): _*)
      .groupBy(groupCols.map(col) :+ col("__sc"): _*)
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__np"))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("__sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byScore.withColumn("__cb",
      coalesce(sum(col("__n")).over(w), lit(0L)))
    ranked.groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("__np")).as("n_pos"),
        sum(col("__n") - col("__np")).as("n_neg"),
        sum(col("__np") * (lit(2L) * col("__cb") + col("__n") + lit(1L)))
          .as("__rs2"))
      .select(groupCols.map(col) ++ Seq(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          (col("__rs2") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .as("auc")): _*)
  }

  /** Reciprocal rank fusion (Cormack/Clarke/Buettcher SIGIR'09) — the
    * standard production way to combine heterogeneous retrieval
    * rankings (BM25 + dense cosine, multiple query rewrites) without
    * calibrating their incomparable score scales: each list
    * contributes `1 / (k0 + rank)` for every item it ranks, missing
    * items contribute nothing, and items are returned by descending
    * fused score. Ranks are 1-based over (score DESC, id ASC) — the id
    * tie-break makes equal scores (integer tf ties are the norm in
    * lexical lists) rank identically on every engine and every rerun.
    *
    * Score discipline: ranks are decided on the scores AS GIVEN, so
    * callers feeding float scores should pre-round them (the q129
    * rocAuc discipline) — a 1-ulp cross-engine wobble between two
    * nearly-tied scores would otherwise swap ranks and move
    * 1/(k0+r) mass. The fused sum itself is ≤ `rankings.size` IEEE
    * terms and is returned ROUNDED at 6 decimals; the top-k cutoff
    * orders by the rounded value with id tie-break.
    *
    * Scale shape: each list ranks through the range-partitioned
    * contiguous-id machinery ([[General.withContiguousRowIds]] — never
    * a single-partition window), fusion is one union + one
    * map-side-combined sum per id, and the cutoff is
    * TakeOrderedAndProject. NULL scores are excluded (an unscored item
    * is absent, not rank-last).
    *
    * Returns (`idCol`, `fused6`, `n_lists`) — topK rows. */
  def reciprocalRankFusion(
      rankings: Seq[DataFrame],
      idCol: String,
      scoreCol: String,
      k0: Int,
      topK: Int): DataFrame = {
    require(rankings.size >= 2,
      s"need >= 2 rankings to fuse, got ${rankings.size}")
    require(k0 >= 1, s"k0 ($k0) must be >= 1")
    require(topK >= 1, s"topK ($topK) must be >= 1")
    val contribs = rankings.map { r =>
      val ranked = General.withContiguousRowIds(
        r.select(col(idCol), col(scoreCol).cast("double").as("__s"))
          .filter(col("__s").isNotNull)
          .withColumn("__neg", lit(0.0) - col("__s")),
        Seq("__neg", idCol), "__r0")
      ranked.select(col(idCol),
        (lit(1.0) / (lit(k0.toDouble) + col("__r0").cast("double") + 1.0))
          .as("__c"))
    }
    contribs.reduce(_ unionAll _)
      .groupBy(idCol)
      .agg(round(sum(col("__c")), 6).as("fused6"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("fused6").desc, col(idCol))
      .limit(topK)
  }

  /** Split-conformal threshold per group — the distribution-free
    * calibrated alarm (Vovk et al.; Angelopoulos & Bates' tutorial
    * formulation): given a CALIBRATION frame of nonconformity scores,
    * the per-group threshold is the `⌈(n+1)(1−α)⌉`-th smallest
    * calibration score, and flagging future scores above it
    * guarantees a false-alarm rate <= α on exchangeable data — no
    * distributional assumption, which is why it is the modern
    * replacement for hand-tuned z-score cutoffs on quality/anomaly
    * monitors. When the rank exceeds n (too little calibration data
    * for the requested α) the threshold is NULL: the honest "cannot
    * promise this α yet" answer, never a guess.
    *
    * The k-th order statistic is EXACT (a calibration score that
    * actually occurred — well-defined under ties because the k-th
    * VALUE of a multiset does not depend on tie order), via a
    * group-partitioned row_number — sorts within groups only, never
    * one global partition. Output is one row per group:
    * (groups..., `n_cal`, `k_rank`, `threshold`). */
  def conformalThreshold(
      calibration: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      alpha: Double): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(alpha > 0.0 && alpha < 1.0, s"alpha ($alpha) must be in (0, 1)")
    val ranked = calibration
      .filter(col(scoreCol).isNotNull)
      .select(groupCols.map(col) :+ col(scoreCol).cast("double").as("__s"): _*)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*).orderBy(col("__s"))))
    val sizes = ranked.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_cal"))
      // (n+1)(1-alpha) in double arithmetic can land a few ulps ABOVE
      // a mathematically exact integer (e.g. 10 * 0.9), making ceil
      // overshoot by a full rank — needlessly conservative or NULL.
      // The 1e-9 backoff absorbs ulp error without ever crossing a
      // true non-integer boundary (ranks are spaced >= 1 apart).
      .withColumn("k_rank",
        ceil((col("n_cal") + 1) * lit(1.0 - alpha) - lit(1e-9)).cast("long"))
    // LEFT join on (group, rank = k): a group whose k exceeds n keeps
    // its row with a NULL threshold instead of silently disappearing
    val cond = groupCols.map(c => col(s"s.$c") <=> col(s"r.$c"))
      .reduce(_ && _) && col("r.__rn") === col("s.k_rank")
    sizes.as("s").join(ranked.as("r"), cond, "left")
      .select(groupCols.map(c => col(s"s.$c").as(c)) ++
        Seq(col("s.n_cal"), col("s.k_rank"),
          col("r.__s").as("threshold")): _*)
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical labelings (two annotators, a heuristic vs gold
    * labels, two model generations): `kappa = (p_o − p_e) / (1 − p_e)`
    * where `p_o` is observed agreement and `p_e` the agreement two
    * INDEPENDENT labelers with the same marginals would reach by
    * chance — the label-quality number an annotation pipeline reports
    * instead of raw accuracy, which a skewed class balance inflates
    * for free.
    *
    * Arithmetic is exact until ONE division: with `n` rows, `a`
    * agreements, and `P = Σ_k rowMarginal_k · colMarginal_k`,
    * `kappa = (n·a − P) / (n² − P)` — numerator and denominator are
    * exact integers (carried as DECIMAL(38,0), since `n²` overflows a
    * long at petabyte row counts), so the only IEEE operation is the
    * final division, rounded to 6 decimals on both engines. Rows where
    * either label is NULL are excluded (unlabeled, not a category).
    * Degenerate corpus where `p_e = 1` (both labelers constant):
    * kappa is NULL — agreement beyond chance is undefined, not zero.
    *
    * Scale shape: one map-side-combined count onto (a, b) cells —
    * bounded by the label-vocabulary square, never the corpus — then
    * marginals and the `P` join over that tiny cell table; three
    * bounded driver scalars, one output row.
    *
    * Output: (`n`, `n_agree`, `kappa6`). */
  def cohenKappa(
      df: DataFrame,
      colA: String,
      colB: String): DataFrame = {
    val spark = df.sparkSession
    val cells = df
      .select(col(colA).cast("string").as("a"), col(colB).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val rowM = cells.groupBy("a").agg(sum(col("c")).as("ra"))
    val colM = cells.groupBy("b").agg(sum(col("c")).as("cb"))
    val t = cells.agg(
        coalesce(sum(col("c")), lit(0L)).as("n"),
        coalesce(sum(when(col("a") === col("b"), col("c"))
          .otherwise(lit(0L))), lit(0L)).as("agree"))
      .head()
    val (n, agree) = (t.getLong(0), t.getLong(1))
    require(n > 0, "cohenKappa needs at least one doubly-labeled row")
    val peRow = rowM.join(colM, col("a") === col("b"))
      .agg(coalesce(sum(col("ra").cast("decimal(38,0)") *
        col("cb").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    val p = BigDecimal(peRow.getDecimal(0))
    val nB = BigDecimal(n)
    val num = nB * BigDecimal(agree) - p
    val den = nB * nB - p
    // HALF_UP == round-half-away-from-zero == DuckDB's ROUND convention
    // (kappa can be negative, where JVM math.round would diverge)
    val kappa6: java.lang.Double =
      if (den == BigDecimal(0)) null
      else BigDecimal(num.toDouble / den.toDouble)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((n, agree, Option(kappa6).map(_.doubleValue)))
      .toDF("n", "n_agree", "kappa6")
  }

  /** Per-group [[cohenKappa]] — two-rater chance-corrected agreement
    * PER SLICE (per language, per source, per task type): the
    * drill-down that catches raters agreeing overall while guessing
    * on one language. The whole readout runs IN the plan over exact
    * decimal columns (group cardinality unbounded, no driver
    * scalars): `κ = (n·a − P)/(n² − P)` per group with
    * `P = Σ_k rowMarginal_k·colMarginal_k`, one rounded division on
    * the 6dp gate; a group where chance agreement is 1 reports NULL.
    * NULL labels are excluded ([[cohenKappa]]'s rule); a NULL group
    * is its own stratum.
    *
    * Scale shape: one map-side-combined count onto (group, a, b)
    * cells — groups × label-vocabulary² bounded — then group-keyed
    * marginal joins over that table. Output: one row per group —
    * (`groupCol` as STRING, `n`, `n_agree`, `kappa6`), ordered by
    * group. */
  def cohenKappaByGroup(
      df: DataFrame, groupCol: String, colA: String,
      colB: String): DataFrame = Blocks.scoped { s =>
    val cells = s.checkpoint(df.select(col(groupCol).cast("string").as("__g"),
        col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__g", "__a", "__b").agg(count(lit(1)).as("__c")))
    val ra = cells.groupBy("__g", "__a").agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy("__g", "__b").agg(sum(col("__c")).as("__cb"))
    val t = cells.groupBy("__g").agg(
      sum(col("__c")).as("n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("n_agree"))
    val p = ra.alias("__l")
      .join(cb.alias("__r"),
        col("__l.__g") <=> col("__r.__g") &&
          col("__l.__a") <=> col("__r.__b"))
      .select(col("__l.__g").as("__g"),
        (col("__ra").cast("decimal(38,0)") *
          col("__cb").cast("decimal(38,0)")).as("__rc"))
      .groupBy("__g").agg(sum(col("__rc")).as("__p"))
    val nD = col("n").cast("decimal(38,0)")
    val pD = coalesce(col("__p"), lit(0).cast("decimal(38,0)"))
    t.alias("__t")
      .join(p.alias("__p2"), col("__t.__g") <=> col("__p2.__g"),
        "left_outer")
      .select(col("__t.__g").as(groupCol), col("n"), col("n_agree"),
        when(nD * nD - pD =!= 0,
            round((nD * col("n_agree").cast("decimal(38,0)") - pD)
                .cast("double") /
              (nD * nD - pD).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("kappa6"))
      .orderBy(groupCol)
  }

  /** Weighted Cohen's kappa — [[cohenKappa]] for ORDINAL labels
    * (quality scores 0–4, Likert scales, star ratings), where
    * disagreeing by one level is NOT the same mistake as disagreeing
    * by four: cell (i, j) is penalized by `|i − j|` (linear) and
    * `(i − j)²` (quadratic — the RLHF community's default for scored
    * preference labels), and
    * `κ_w = 1 − Σ w·O / Σ w·E`. Both weightings emit from ONE pass.
    * Levels must be non-negative integers (loud otherwise); rows
    * with a NULL on either side are excluded.
    *
    * Arithmetic is exact until one division per weighting: levels are
    * integers, so `Σ w·O` (observed) and `n·Σ w·E = Σ_ij w_ij·r_i·c_j`
    * (chance, over the level-bounded marginal grid) are exact
    * DECIMAL(38,0) integers and
    * `κ_w = 1 − n·ΣwO / Σ w·r·c` is one rounded division. A corpus
    * where chance weighted disagreement is zero (both raters constant
    * at one level) reports NULL (0/0).
    *
    * Scale shape: one map-side-combined count onto (a, b) cells —
    * level-vocabulary-bounded — then marginal joins over that tiny
    * table. Output: one row —
    * (`n`, `n_levels`, `kappa_linear6`, `kappa_quadratic6`). */
  def weightedKappa(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    val spark = df.sparkSession
    def lvl(c: String, side: String) =
      when(col(c).cast("double") >= 0.0 &&
          col(c).cast("double") === floor(col(c).cast("double")),
          col(c).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"weightedKappa: $side level must be a non-negative " +
            "integer, got "), col(c).cast("string")))).as(side)
    Blocks.scoped { s =>
      val cells = s.checkpoint(df
        .filter(col(colA).isNotNull && col(colB).isNotNull)
        .select(lvl(colA, "a"), lvl(colB, "b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c")))
      def wLin(x: Column, y: Column) =
        abs(x - y).cast("decimal(38,0)")
      def wQuad(x: Column, y: Column) =
        ((x - y) * (x - y)).cast("decimal(38,0)")
      val top = cells.agg(
        coalesce(sum(col("c")), lit(0L)).as("n"),
        sum(wLin(col("a"), col("b")) * col("c").cast("decimal(38,0)"))
          .as("ol"),
        sum(wQuad(col("a"), col("b")) * col("c").cast("decimal(38,0)"))
          .as("oq")).head()
      val n = top.getLong(0)
      require(n > 0L, "weightedKappa: no doubly-labeled rows")
      val nLevels = cells
        .select(explode(array(col("a"), col("b"))).as("l"))
        .distinct().count()
      val ra = cells.groupBy("a").agg(sum(col("c")).as("ra"))
      val cb = cells.groupBy("b").agg(sum(col("c")).as("cb"))
      val e = ra.crossJoin(cb).agg(
        sum(wLin(col("a"), col("b")) * col("ra").cast("decimal(38,0)") *
          col("cb").cast("decimal(38,0)")).as("el"),
        sum(wQuad(col("a"), col("b")) * col("ra").cast("decimal(38,0)") *
          col("cb").cast("decimal(38,0)")).as("eq")).head()
      def k6(o: java.math.BigDecimal, ex: java.math.BigDecimal)
          : Option[Double] = {
        val num = BigDecimal(n) * BigDecimal(o)
        val den = BigDecimal(ex)
        if (den == BigDecimal(0)) None
        else Some(BigDecimal(1.0 - num.toDouble / den.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      import spark.implicits._
      Seq((n, nLevels,
          k6(top.getDecimal(1), e.getDecimal(0)),
          k6(top.getDecimal(2), e.getDecimal(1))))
        .toDF("n", "n_levels", "kappa_linear6", "kappa_quadratic6")
    }
  }

  /** Kendall's W (coefficient of concordance) — agreement among m
    * raters who each SCORE every item (the multi-rater ordinal
    * companion to [[graft.operators.Annotate.fleissKappa]]'s nominal
    * panel): each rater's scores become ranks by (score, item) — a
    * deterministic total order, the [[spearmanRho]] tie discipline,
    * so every rater's ranks are an exact permutation and the no-tie
    * formula `W = (12·ΣR_i² − 3m²n(n+1)²) / (m²n(n²−1))` applies
    * exactly: all integers, one rounded division. W = 1 is perfect
    * concordance, W ≈ 0 is no agreement beyond chance. Requires a
    * COMPLETE panel (every rater scores every item) — loud otherwise;
    * duplicate (item, rater) assignments loud; NULL scores excluded
    * (which then trips the completeness check by construction).
    *
    * Scale shape: per-rater ranks ride [[General
    * .withContiguousRowIdsPerGroup]]'s global range-partitioned sort
    * (ONE rater's corpus-sized ranking cannot single-task a window
    * partition), then one item-keyed rank-sum aggregation to two
    * driver scalars. Output: one row — (`n_items`, `n_raters`,
    * `w6`). */
  def kendallW(
      df: DataFrame, itemCol: String, raterCol: String,
      scoreCol: String): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(
        col(itemCol).cast("string").as("__it"),
        col(raterCol).cast("string").as("__r"),
        col(scoreCol).cast("double").as("__s"))
      .filter(col("__it").isNotNull && col("__r").isNotNull &&
        col("__s").isNotNull)
    val guarded = base.groupBy("__it", "__r")
      .agg(count(lit(1)).as("__c"), first(col("__s")).as("__s"))
      .select(col("__it"), col("__r"),
        when(col("__c") === 1L, col("__s"))
          .otherwise(raise_error(concat(
            lit("kendallW: rater "), col("__r"),
            lit(" scored item "), col("__it"),
            lit(" "), col("__c").cast("string"),
            lit(" times — one score per (item, rater)")))).as("__s"))
    Blocks.scoped { s =>
      val ranked = s.checkpoint(General.withContiguousRowIdsPerGroup(
          guarded, Seq("__r"), Seq("__s", "__it"), "__rk")
        .withColumn("__rk", col("__rk") + 1L))
      val dims = ranked.agg(
        countDistinct(col("__it")).as("n"),
        countDistinct(col("__r")).as("m"),
        count(lit(1)).as("tot")).head()
      val (n, m, tot) = (dims.getLong(0), dims.getLong(1), dims.getLong(2))
      require(n >= 2L && m >= 2L,
        s"kendallW: needs >= 2 items and >= 2 raters (got $n, $m)")
      require(tot == n * m,
        s"kendallW: incomplete panel — $tot scores for $n items x $m " +
          "raters; every rater must score every item")
      val s2 = BigDecimal(ranked
        .groupBy("__it").agg(sum(col("__rk")).as("__ri"))
        .agg(sum(col("__ri").cast("decimal(38,0)") *
          col("__ri").cast("decimal(38,0)"))).head().getDecimal(0))
      val mB = BigDecimal(m); val nB = BigDecimal(n)
      val num = BigDecimal(12) * s2 -
        BigDecimal(3) * mB * mB * nB * (nB + 1) * (nB + 1)
      val den = mB * mB * nB * (nB * nB - 1)
      val w6 = BigDecimal(num.toDouble / den.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import spark.implicits._
      Seq((n, m, w6)).toDF("n_items", "n_raters", "w6")
    }
  }

  /** Rank-biased overlap at bounded depth — how much two rankers
    * agree AT THE TOP (retrieval candidates, leaderboards, quality
    * orderings), where Spearman/Kendall over the full corpus drown
    * the head in the tail: `RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·X_d/d`
    * with `X_d` the size of the two top-d prefixes' intersection and
    * `p` the persistence (expected depth examined ≈ 1/(1−p)). Ranks
    * order by (score DESC, id) — deterministic ties, both engines
    * replay them. Rows with either score NULL are excluded.
    *
    * Cross-engine determinism: the k depth terms are 12dp-rounded
    * decimals (order-free sum; a libm `pow` ulp cannot survive the
    * rounding). Scale shape: two range-partitioned rank assignments,
    * one id-keyed join, ONE k-bounded count aggregation (X_d is the
    * running count of items whose WORSE rank clears d — no per-depth
    * passes); the k-row readout is driver arithmetic. Output: one
    * row — (`n`, `depth`, `p`, `overlap_at_k`, `rbo6`). */
  def rankBiasedOverlap(
      df: DataFrame, idCol: String, scoreColA: String, scoreColB: String,
      depth: Int = 50, p: Double = 0.9): DataFrame = Blocks.scoped { s =>
    require(depth >= 1 && depth <= 100000,
      s"rankBiasedOverlap: depth ($depth) must be in [1, 100000]")
    require(p > 0.0 && p < 1.0,
      s"rankBiasedOverlap: p ($p) must be in (0, 1)")
    val spark = df.sparkSession
    // NULL ids are excluded BEFORE ranking (a NULL id would take a
    // top-k slot both sides yet vanish from the id join); duplicate
    // ids fail loudly below — a duplicated id would cross-multiply in
    // the join and push X_d past d
    val base = s.checkpoint(df.select(col(idCol).cast("string").as("__id"),
        col(scoreColA).cast("double").as("__a"),
        col(scoreColB).cast("double").as("__b"))
      .filter(col("__id").isNotNull &&
        col("__a").isNotNull && col("__b").isNotNull))
    val dims = base.agg(count(lit(1)).as("n"),
      countDistinct(col("__id")).as("d")).head()
    val nTotal = dims.getLong(0)
    require(nTotal == dims.getLong(1),
      s"rankBiasedOverlap: ${nTotal - dims.getLong(1)} " +
        "duplicate id(s) — one row per ranked item")
    require(nTotal > 0L, "rankBiasedOverlap: no doubly-scored rows")
    val ra = General.withContiguousRowIds(
      base.select(col("__id"), (-col("__a")).as("__na")),
      Seq("__na", "__id"), "__ra")
    val rb = General.withContiguousRowIds(
      base.select(col("__id"), (-col("__b")).as("__nb")),
      Seq("__nb", "__id"), "__rb")
    // X_d = #items with max(rankA, rankB) <= d: k-bounded counts, the
    // cumulative readout is driver arithmetic over <= k rows
    val counts = ra.join(rb, Seq("__id"))
      .select(greatest(col("__ra") + 1L, col("__rb") + 1L).as("__m"))
      .filter(col("__m") <= depth.toLong)
      .groupBy("__m").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    var x = 0L
    var acc = BigDecimal(0)
    var d = 1
    while (d <= depth) {
      x += counts.getOrElse(d.toLong, 0L)
      val term = math.pow(p, (d - 1).toDouble) * x.toDouble / d.toDouble
      acc += BigDecimal(term)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      d += 1
    }
    val rbo6 = BigDecimal((1.0 - p) * acc.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((nTotal, depth, p, x, rbo6))
      .toDF("n", "depth", "p", "overlap_at_k", "rbo6")
  }

  /** Spearman rank correlation between two per-item scores — the
    * scorer-agreement number (does the cheap quality heuristic rank
    * documents like the expensive one? does the new embedding model
    * order retrieval candidates like the old?): `ρ = 1 − 6·Σd² /
    * (n(n²−1))` over the two rank assignments, with ranks by
    * (score asc, id) — a DETERMINISTIC total order instead of
    * average-ranks-under-ties, so the statistic is an exact function
    * of the data both engines reproduce (ties are broken identically,
    * never averaged differently). Rows where either score is NULL are
    * excluded (no rank, not rank-last).
    *
    * Arithmetic is exact until one division: Σd² accumulates as
    * DECIMAL(38,0) (at petabyte row counts n³-scale sums overflow a
    * long), the denominator likewise, and ρ is one rounded division.
    * Fewer than 2 ranked rows → NULL ρ (no order to correlate).
    *
    * Scale shape: two range-partitioned rank assignments
    * ([[General.withContiguousRowIds]] — never a single-partition
    * window), one id-keyed join, one aggregation to three driver
    * scalars. Output: one row (`n`, `sum_d2`, `rho6`). */
  def spearmanRho(
      df: DataFrame,
      idCol: String,
      scoreColA: String,
      scoreColB: String): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("__id"),
        col(scoreColA).cast("double").as("__a"),
        col(scoreColB).cast("double").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val ra = General.withContiguousRowIds(
      base.select("__id", "__a"), Seq("__a", "__id"), "__ra")
    val rb = General.withContiguousRowIds(
      base.select("__id", "__b"), Seq("__b", "__id"), "__rb")
    val s = ra.select("__id", "__ra").join(rb.select("__id", "__rb"), "__id")
      .agg(count(lit(1)).as("n"),
        sum(((col("__ra") - col("__rb")) * (col("__ra") - col("__rb")))
          .cast("decimal(38,0)")).as("sd"))
      .head()
    val n = s.getLong(0)
    val sd = Option(s.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
    import spark.implicits._
    val rho: Option[Double] =
      if (n < 2) None
      else {
        val denom = BigDecimal(n) * (BigDecimal(n) * BigDecimal(n) - 1)
        // the one IEEE step, identical on both engines: exact integer
        // numerator/denominator each convert to double once, divide,
        // round HALF_UP (away from zero — DuckDB ROUND's rule) at 6
        val raw = 1.0 - 6.0 * sd.toDouble / denom.toDouble
        Some(BigDecimal(raw)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    Seq((n, sd.toDouble, rho)).toDF("n", "sum_d2", "rho6")
  }

  /** Exact Kendall tau-b rank correlation between two ORDINAL columns
    * — [[spearmanRho]]'s companion agreement number, built from pair
    * concordance instead of rank displacement (robust to a few large
    * rank jumps, the statistic linkage/quality literature quotes):
    * over all row pairs, `τ_b = (C − D) / √((T−t_a)(T−t_b))` with C/D
    * the concordant/discordant pair counts and t_a/t_b the marginal
    * tie masses — the tie-corrected form, the only honest one on
    * discrete scores where ties dominate.
    *
    * The pair counts are computed WITHOUT pair enumeration: rows
    * reduce to the (a, b) joint grid (one corpus pass), the grid is
    * densified (the association family's by-construction-bounded
    * cross join), and the discordant mass reads off TWO grid-bounded
    * window passes — a prefix over a within each b (mass at a' < a),
    * then a suffix over b within each a (Σ over b' > b), giving each
    * cell its dominated mass `U = Σ_{a'<a, b'>b} n'` so `D = Σ n·U`.
    * C then follows from exact tie algebra
    * (`C = T − t_a − (t_b − t_ab) − D` over DOUBLED counts — no /2
    * ever divides an odd integer). Every count is DECIMAL(38,0)-exact;
    * the readout is one double division on the 6dp gate, with the
    * identical `2(C−D)/√((T2−ta2)(T2−tb2))` expression on both
    * engines.
    *
    * CONTRACT: the axes must be ordinal/discrete — the dense grid is
    * |A|×|B| cells and a count-first guard fails LOUDLY past
    * `maxCells` (bucketize continuous doubles first, e.g.
    * [[graft.operators.Stats.quantileBucketize]] — rank agreement of
    * CONTINUOUS scores is [[spearmanRho]]'s job). Window partitions
    * are grid-axis-bounded (one b-value's |A| cells), never
    * corpus-sized. Rows NULL on either side are excluded. A constant
    * axis reports NULL tau (0/0 — the Cramér's V convention). Output:
    * one row — (`n`, `n_concordant`, `n_discordant`, `tau_b6`). */
  def kendallTauB(
      df: DataFrame,
      colA: String,
      colB: String,
      maxCells: Long = 4000000L): DataFrame = {
    require(colA != colB,
      s"kendallTauB needs two distinct columns (got $colA twice)")
    require(maxCells >= 1L, s"maxCells ($maxCells) must be positive")
    val spark = df.sparkSession
    Blocks.scoped { s =>
      val joint = s.checkpoint(df.select(col(colA).cast("double").as("__a"),
          col(colB).cast("double").as("__b"))
        .filter(col("__a").isNotNull && col("__b").isNotNull)
        .groupBy("__a", "__b").agg(count(lit(1)).as("__n")))
      val dims = joint.agg(
        coalesce(sum(col("__n")), lit(0L)).as("n"),
        countDistinct(col("__a")).as("da"),
        countDistinct(col("__b")).as("db"),
        sum(col("__n").cast("decimal(38,0)") *
          (col("__n") - lit(1L)).cast("decimal(38,0)")).as("tab2")).head()
      val n = dims.getLong(0)
      require(n >= 2L, s"kendallTauB: fewer than 2 complete (a, b) rows ($n)")
      val (da, db) = (dims.getLong(1), dims.getLong(2))
      // count-first: the guard reads cardinalities, never materializes
      // an oversize grid (BigInt product — two ~1e10-distinct axes
      // would overflow the long product and silently PASS a long guard)
      require(BigInt(da) * BigInt(db) <= BigInt(maxCells),
        s"kendallTauB: dense grid would be $da x $db = ${BigInt(da) * BigInt(db)} cells " +
          s"(cap $maxCells) — the axes are not ordinal-bounded; bucketize " +
          "continuous scores first or use spearmanRho")
      val tab2 = BigDecimal(dims.getDecimal(3))
      val ra = joint.groupBy("__a").agg(sum(col("__n")).as("__na"))
      val rb = joint.groupBy("__b").agg(sum(col("__n")).as("__nb"))
      def tieMass2(m: DataFrame, c: String): BigDecimal = BigDecimal(
        m.agg(sum(col(c).cast("decimal(38,0)") *
          (col(c) - lit(1L)).cast("decimal(38,0)"))).head().getDecimal(0))
      val ta2 = tieMass2(ra, "__na")
      val tb2 = tieMass2(rb, "__nb")
      // densified grid (qualified aliases — ra/rb derive from joint)
      val grid = ra.alias("__ra")
        .crossJoin(rb.alias("__rb")) // cells-bounded BY CONSTRUCTION
        .join(joint.alias("__j"),
          col("__ra.__a") <=> col("__j.__a") &&
            col("__rb.__b") <=> col("__j.__b"),
          "left_outer")
        .select(col("__ra.__a").as("__a"), col("__rb.__b").as("__b"),
          coalesce(col("__j.__n"), lit(0L)).as("__c"))
      val wA = Window.partitionBy("__b").orderBy("__a")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wB = Window.partitionBy("__a").orderBy(col("__b").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val d2Row = grid
        .withColumn("__pa", coalesce(sum(col("__c")).over(wA), lit(0L)))
        .withColumn("__u", coalesce(
          sum(col("__pa").cast("decimal(38,0)")).over(wB),
          lit(0L).cast("decimal(38,0)")))
        .agg(sum(col("__c").cast("decimal(38,0)") * col("__u"))).head()
      val dMass = Option(d2Row.getDecimal(0))
        .map(BigDecimal(_)).getOrElse(BigDecimal(0))
      val t2 = BigDecimal(n) * BigDecimal(n - 1L)
      // doubled-count tie algebra: C2 = T2 − ta2 − (tb2 − tab2) − D2
      val d2 = dMass * 2
      val c2 = t2 - ta2 - (tb2 - tab2) - d2
      val tau: Option[Double] =
        if (t2 == ta2 || t2 == tb2) None // a constant axis: τ is 0/0
        else {
          // the one IEEE step, identical on both engines: exact decimal
          // numerator/denominator factors each convert to double once
          val raw = (c2 - d2).toDouble /
            math.sqrt((t2 - ta2).toDouble * (t2 - tb2).toDouble)
          Some(BigDecimal(raw)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      import spark.implicits._
      Seq((n, (c2 / 2).toLongExact, dMass.toLongExact, tau))
        .toDF("n", "n_concordant", "n_discordant", "tau_b6")
    }
  }

  /** Benjamini–Hochberg FDR control — the multiple-comparison step an
    * experimentation/eval pipeline needs the moment it tests MANY
    * hypotheses at once (50 metrics × arms, 500 per-slice drift
    * checks): naive per-test alpha floods the readout with false
    * discoveries. The step-up rule: sort p ascending, find the LARGEST
    * rank i with `p_(i) ≤ q·i/m`, reject hypotheses 1..i. Ranks order
    * by (p, id) — deterministic ties — and the threshold arithmetic is
    * the identical `(q·i)/m` double expression on both engines, so the
    * reject set is engine-exact without any rounding emit.
    *
    * Scale shape: the global p-sort rides [[General
    * .withContiguousRowIds]] (range-partitioned, never one sorted
    * window partition), the step-up cutoff is ONE driver scalar
    * (max flagged rank), and the final flag is a map-only comparison.
    * NULL p rejected loudly (an unknown p-value is a pipeline bug, not
    * a non-discovery). Output: input id + (`p`, `p_rank` 1-based,
    * `rejected`). The frame reads a sort checkpoint —
    * [[graft.operators.Blocks.release]] once consumed. */
  def benjaminiHochberg(
      df: DataFrame,
      idCol: String,
      pCol: String,
      q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"FDR level q ($q) must be in (0, 1)")
    val bad = df.filter(col(pCol).isNull ||
        col(pCol) < 0.0 || col(pCol) > 1.0).limit(1).collect()
    require(bad.isEmpty,
      s"benjaminiHochberg: NULL or out-of-[0,1] p-value in '$pCol' " +
        s"(e.g. ${bad.headOption.map(_.toString).orNull})")
    val base = df.select(col(idCol), col(pCol).cast("double").as("p"))
    val m = base.count()
    require(m > 0, "benjaminiHochberg: no hypotheses")
    val ranked = General.withContiguousRowIds(base, Seq("p", idCol), "__r0")
      .withColumn("p_rank", (col("__r0") + 1L))
      .drop("__r0")
      .withColumn("__flag",
        col("p") <= (lit(q) * col("p_rank").cast("double")) / lit(m.toDouble))
    val cRow = ranked.agg(max(when(col("__flag"), col("p_rank")))).head()
    val cutoff = if (cRow.isNullAt(0)) 0L else cRow.getLong(0)
    ranked.withColumn("rejected", col("p_rank") <= cutoff).drop("__flag")
  }
}
