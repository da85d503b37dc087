package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: keep a keyed summary table
  * current by folding in ONLY each new batch, never rescanning the
  * accumulated fact history — at 100 TB the difference between "the
  * daily rollup reads yesterday's summary plus today's shard" and "the
  * daily rollup reads 100 TB". The same algebraic-merge discipline as
  * the exact/near-dup ledgers ([[Dedup.incrementalExactDedup]] /
  * q109): state lives in a compact keyed artifact, ingestion cost
  * tracks the batch. No reference counterpart — the reference's
  * pipelines recompute.
  *
  * Only ALGEBRAIC statistics are maintained (count, sum, min, max):
  * each merges associatively and commutatively, so
  * `summarize(a ∪ b) == merge(summarize(a), summarize(b))` holds
  * exactly (pinned generatively by spec) and a summary can fold in
  * shards in any order. Derived values (mean = sum/count) are computed
  * at read time from the maintained columns — storing them would break
  * mergeability. Holistic statistics need sketches: distinct counts
  * are maintained through the [[distinctSummarize]] /
  * [[distinctMerge]] HLL family (register-exact merges); medians
  * remain out of scope (use [[Profile.profile]] /
  * [[Stats]]' approx-percentile flag at read time).
  *
  * Determinism: counts/mins/maxes are order-free by nature; SUM over
  * doubles is NOT (addition order varies with partitioning) — callers
  * wanting bit-stable summaries cast value columns to DECIMAL first
  * (the q01 monetary discipline); decimal addition is exact, so shard
  * order can never show.
  */
object Maintain {

  /** What a summary maintains: `sums`/`mins`/`maxs` name FACT columns;
    * the summary carries them as `<c>_sum` / `<c>_min` / `<c>_max`
    * plus the row count `countCol`. */
  final case class SummarySpec(
      sums: Seq[String] = Nil,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      countCol: String = "n") {
    require(sums.nonEmpty || mins.nonEmpty || maxs.nonEmpty,
      "a summary needs at least one maintained statistic")
    def summaryCols: Seq[String] =
      (countCol +: (sums.map(_ + "_sum") ++ mins.map(_ + "_min") ++
        maxs.map(_ + "_max")))
  }

  /** Aggregate a fact batch into summary form: ONE map-side-combined
    * aggregation, exchange bounded by key cardinality. */
  def summarize(df: DataFrame, keys: Seq[String], spec: SummarySpec): DataFrame = {
    require(keys.nonEmpty, "summarize needs grouping keys")
    val aggs = count(lit(1)).as(spec.countCol) +:
      (spec.sums.map(c => sum(col(c)).as(s"${c}_sum")) ++
        spec.mins.map(c => min(col(c)).as(s"${c}_min")) ++
        spec.maxs.map(c => max(col(c)).as(s"${c}_max")))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a batch summary into the base summary: union + ONE keyed
    * re-aggregation of the already-aggregated rows — the exchange is
    * bounded by the UNION of key sets, and the fact rows behind
    * `base` are never touched again. New keys appear, existing keys
    * combine; both inputs must carry the spec's summary columns
    * (anything else is a schema drift bug better caught loudly than
    * silently aggregated away). */
  def merge(
      base: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      spec: SummarySpec): DataFrame = {
    require(keys.nonEmpty, "merge needs grouping keys")
    Seq("base" -> base, "delta" -> delta).foreach { case (name, df) =>
      val missing = (keys ++ spec.summaryCols).filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"$name summary is missing columns: ${missing.mkString(", ")}")
    }
    val ordered = (keys ++ spec.summaryCols).map(col)
    val u = base.select(ordered: _*).unionByName(delta.select(ordered: _*))
    val aggs = sum(col(spec.countCol)).cast("long").as(spec.countCol) +:
      (spec.sums.map(c => sum(col(s"${c}_sum")).as(s"${c}_sum")) ++
        spec.mins.map(c => min(col(s"${c}_min")).as(s"${c}_min")) ++
        spec.maxs.map(c => max(col(s"${c}_max")).as(s"${c}_max")))
    u.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[summarize]]/[[merge]] as a [[FoldMonitor]] over the fact feed:
    * the summary table is the state, and the readout is the final
    * summary itself. */
  def rollupMonitor(keys: Seq[String], spec: SummarySpec): FoldMonitor =
    FoldMonitor("rollupMonitor", _.select(
        (keys ++ spec.sums ++ spec.mins ++ spec.maxs).distinct.map(col): _*),
      summarize(_, keys, spec), merge(_, _, keys, spec), identity)

  /** Aggregate a fact batch into a mergeable DISTINCT-COUNT summary:
    * one HLL sketch (Apache DataSketches, Spark's `hll_sketch_agg`)
    * per key over `valueCol`, plus the exact row count. This closes
    * the holistic gap the algebraic [[SummarySpec]] family
    * deliberately scopes out: distinct counts don't merge as numbers,
    * but their SKETCHES do — register-wise max is associative,
    * commutative, and idempotent, so
    * `sketch(a ∪ b) == union(sketch(a), sketch(b))` holds
    * REGISTER-EXACT (not just approximately; the merge==recompute
    * spec pins estimates bit-identical), shard order can never show,
    * and re-folding a batch twice cannot inflate the estimate. The
    * summary row is `4 + 2^lgConfigK` bytes per key — at lgK=12, 4 KB
    * per key regardless of value cardinality, which is what makes a
    * per-key distinct-users rollup over 100 TB of events foldable.
    * Estimates carry the standard HLL error (~1.04/√2^lgK ≈ 1.6% at
    * lgK=12); the q190 gate holds them to ±2% of exact. */
  def distinctSummarize(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      lgConfigK: Int = 12): DataFrame = {
    require(keys.nonEmpty, "distinctSummarize needs grouping keys")
    require(lgConfigK >= 4 && lgConfigK <= 21,
      s"lgConfigK ($lgConfigK) must be in [4, 21] (the DataSketches bound)")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        hll_sketch_agg(col(valueCol), lit(lgConfigK))
          .as(s"${valueCol}_hll"))
  }

  /** Fold a batch distinct summary into the base: union + one keyed
    * `hll_union_agg` — the exchange is bounded by the union of key
    * sets and each group reduces to one merged sketch; the fact rows
    * behind `base` are never rescanned ([[merge]]'s discipline for the
    * sketch column). */
  def distinctMerge(
      base: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "distinctMerge needs grouping keys")
    val hllCol = s"${valueCol}_hll"
    Seq("base" -> base, "delta" -> delta).foreach { case (name, df) =>
      val missing = (keys ++ Seq("n", hllCol)).filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"$name distinct summary is missing columns: ${missing.mkString(", ")}")
    }
    val ordered = (keys ++ Seq("n", hllCol)).map(col)
    base.select(ordered: _*).unionByName(delta.select(ordered: _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).cast("long").as("n"),
        hll_union_agg(col(hllCol), lit(false)).as(hllCol))
  }

  /** Read a distinct summary: replace the sketch column with its
    * estimate (`<valueCol>_distinct`, rounded to a long). */
  def distinctEstimate(summary: DataFrame, valueCol: String): DataFrame =
    summary
      .withColumn(s"${valueCol}_distinct",
        hll_sketch_estimate(col(s"${valueCol}_hll")).cast("long"))
      .drop(s"${valueCol}_hll")

  /** [[distinctSummarize]]/[[distinctMerge]] as a [[FoldMonitor]]:
    * register-wise max is also idempotent, so the stream's estimates
    * equal the batch recompute's register-exact. State is
    * keys-bounded (~4 KB per key). Returns the [[distinctEstimate]]
    * frame. */
  def distinctRollupMonitor(keys: Seq[String], valueCol: String): FoldMonitor =
    FoldMonitor("distinctRollupMonitor",
      _.select((keys :+ valueCol).map(col): _*),
      distinctSummarize(_, keys, valueCol),
      distinctMerge(_, _, keys, valueCol), distinctEstimate(_, valueCol))

  /** Keyed snapshot diff — the change-feed PRODUCER whose output
    * [[AsOfJoin.applyChanges]] consumes: compare two snapshots of a
    * keyed table and emit one row per difference, `change_type` in
    * `insert` (key only in `next`), `delete` (key only in `prev`),
    * `update` (key in both, any compared column differing null-safely).
    * Unchanged keys emit NOTHING — the diff is the delta, which is the
    * point: shipping it downstream costs what changed, not the table.
    * The roundtrip contract `applyChanges(prev, diff) == next` is
    * pinned by spec — producer and consumer provably compose.
    *
    * Plan shape: ONE full-outer hash equi-join on the keys (null-safe
    * comparisons, so NULL attr values diff correctly) + a map-side
    * filter; no window, no sort. Both snapshot scans prune to
    * `keys ++ compareCols`.
    *
    * Output: keys (coalesced from both sides), `change_type`, then
    * `<c>_prev` / `<c>_next` for every compared column.
    */
  def snapshotDiff(
      prev: DataFrame,
      next: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String],
      auditUniqueKeys: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs key columns")
    require(compareCols.nonEmpty, "snapshotDiff needs columns to compare")
    require(keys.intersect(compareCols).isEmpty,
      s"keys and compared columns overlap: " +
        keys.intersect(compareCols).mkString(", "))
    // A duplicated key would silently MULTIPLY diff rows through the
    // join, so audit each snapshot per key (an unordered window on the
    // same keys the join shuffles on — no extra exchange) and raise.
    def audited(df: DataFrame, side: String): DataFrame =
      if (!auditUniqueKeys) df
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
        df.withColumn("__kn", count(lit(1)).over(w))
          // a FILTER, not a dropped column — pruning could silently
          // eliminate an unused check column, never a predicate
          .filter(when(col("__kn") > 1, raise_error(concat(
              lit(s"snapshotDiff: duplicate key in $side snapshot: "),
              concat_ws(",", keys.map(k => col(k).cast("string")): _*))))
            .otherwise(lit(true)))
          .drop("__kn")
      }
    // presence markers, not key-null checks: a legitimately NULL key
    // row must still read as "present on this side" after the join
    val p = audited(prev.select((keys ++ compareCols).map(col): _*), "prev")
      .withColumn("__in_p", lit(true)).alias("p")
    val n = audited(next.select((keys ++ compareCols).map(col): _*), "next")
      .withColumn("__in_n", lit(true)).alias("n")
    val joinCond = keys.map(k => col(s"p.$k") <=> col(s"n.$k")).reduce(_ && _)
    val inPrev = col("p.__in_p").isNotNull
    val inNext = col("n.__in_n").isNotNull
    val changed = compareCols
      .map(c => !(col(s"p.$c") <=> col(s"n.$c"))).reduce(_ || _)
    val changeType = when(!inPrev, lit("insert"))
      .when(!inNext, lit("delete"))
      .when(changed, lit("update"))
    p.join(n, joinCond, "full_outer")
      .withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .select(
        keys.map(k => coalesce(col(s"p.$k"), col(s"n.$k")).as(k)) ++
          Seq(col("change_type")) ++
          compareCols.flatMap(c => Seq(
            col(s"p.$c").as(s"${c}_prev"), col(s"n.$c").as(s"${c}_next"))): _*)
  }
}
