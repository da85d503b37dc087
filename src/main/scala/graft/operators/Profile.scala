package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling: the pre-flight scan a 100 TB ingest runs
  * before committing to a pipeline — null rates, cardinalities, value
  * ranges, and the hot values that will skew every downstream join.
  * The reference has no profiling surface (its frames are small enough
  * to eyeball); at training-corpus scale, profiling IS the operator
  * that decides partition counts, join strategies, and salting.
  */
object Profile {

  /** One row per profiled column: total rows, null count, distinct
    * cardinality, and min/max rendered as strings (the only type a
    * mixed-column long-form frame can carry losslessly).
    *
    * Output: (col_name, n_rows, n_null, n_distinct, min_val, max_val).
    *
    * Scale shape: ONE aggregation over one scan — every statistic is
    * algebraic (sum / min / max / HLL sketch), so partial aggregation
    * combines map-side and the exchange carries one row per partition.
    * The long form is produced by exploding the single result row,
    * which never touches executors again.
    *
    * `exactDistinct = false` (the default, the 100 TB path) estimates
    * cardinality with HyperLogLog++ (`approx_count_distinct`, relative
    * error `rsd`): sketches merge map-side like any other partial agg.
    * `exactDistinct = true` is engine-exact for oracle comparison and
    * small frames, but pays Spark's multi-distinct Expand — the scan's
    * rows are replicated once per profiled column before aggregation —
    * so it is deliberately NOT the default. */
  def profile(
      df: DataFrame,
      cols: Seq[String],
      exactDistinct: Boolean = false,
      rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in frame: ${missing.mkString(", ")}")
    def distinctAgg(c: String): Column =
      if (exactDistinct) count_distinct(col(c)) else approx_count_distinct(col(c), rsd)
    val aggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null__$c"),
        distinctAgg(c).as(s"__dist__$c"),
        min(col(c)).cast("string").as(s"__min__$c"),
        max(col(c)).cast("string").as(s"__max__$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n_rows").as("n_rows"),
        col(s"__null__$c").as("n_null"),
        col(s"__dist__$c").as("n_distinct"),
        col(s"__min__$c").as("min_val"),
        col(s"__max__$c").as("max_val"))
    }
    one.select(explode(array(entries: _*)).as("__p")).select(col("__p.*"))
  }

  /** The skew probe: exact top-`k` most frequent values per profiled
    * column, the thing to run BEFORE keying a join or aggregation on a
    * column at scale — a value holding 30% of a 100 TB table is a
    * straggler task unless salted, and this is how it's found.
    *
    * Output: (col_name, value, n), ordered (n desc, value asc) within
    * each column; null values are not counted (they are [[profile]]'s
    * `n_null`). Values are rendered as strings so one frame profiles
    * columns of any type.
    *
    * Scale shape: one explode to (col_name, value) — the scan's rows
    * x profiled columns, map-only — then a map-side-combined count per
    * (col_name, value), then the bounded-heap
    * [[graft.functions.Aggregators.TopKByKey]] per column: every map
    * task's contribution is capped at `k` candidates before the final
    * exchange, so the heavy column costs O(k x partitions) exchange
    * rows — never a per-column window sort, which would funnel every
    * distinct value of a column through one task. Counts ride the
    * heap's double score: exact to 2^53, far past any real frequency.
    * Ties at equal count break by value ascending lexicographically —
    * deterministic, and matched by the oracle's ORDER BY. */
  def topValues(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    require(k > 0, "k must be positive")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in frame: ${missing.mkString(", ")}")
    val pairs = df
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value"))
      }: _*)).as("__e"))
      .select(col("__e.col_name").as("col_name"), col("__e.value").as("value"))
      .filter(col("value").isNotNull)
    val counted = pairs.groupBy("col_name", "value").agg(count(lit(1)).as("n"))
    val topk = udaf(new graft.functions.Aggregators.TopKByKey(k),
      Encoders.product[graft.functions.Aggregators.ScoredKey])
    counted
      .groupBy("col_name")
      .agg(topk(col("n").cast("double"), col("value")).as("__top"))
      .select(col("col_name"), explode(col("__top")).as("__e"))
      .select(col("col_name"), col("__e.id").as("value"),
        col("__e.score").cast("long").as("n"))
  }

  /** Equi-width histogram of a numeric column over `[lo, hi]`: bucket
    * `i` covers `[lo + i·w, lo + (i+1)·w)` with `w = (hi − lo) / bins`
    * and the TOP bucket closed (a value exactly at `hi` lands in
    * bucket `bins−1`, not a phantom overflow bucket); values outside
    * the bounds CLAMP into the edge buckets, so a frame scored against
    * reference bounds (the [[drift]] use) never drops rows. NULLs are
    * excluded. Every bucket appears in the output, zero-filled —
    * downstream distribution math ([[drift]], plotting) needs the
    * empty cells.
    *
    * Scale shape: bucket assignment is map-only arithmetic, the count
    * shuffle is bins-bounded, and the zero-fill joins a `spark.range
    * (bins)` frame AQE broadcasts. Bounds come from the caller —
    * compute them once via [[profile]] (or domain knowledge) rather
    * than forcing a second scan here.
    *
    * Output: (`bucket`, `lo`, `hi`, `n`).
    */
  def histogram(
      df: DataFrame,
      c: String,
      bins: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(bins >= 1, s"bins ($bins) must be >= 1")
    require(hi > lo, s"hi ($hi) must be > lo ($lo)")
    val v = col(c).cast("double")
    val raw = floor((v - lit(lo)) * lit(bins.toDouble) / (lit(hi) - lit(lo)))
      .cast("int")
    val bucket = least(greatest(raw, lit(0)), lit(bins - 1))
    val counts = df.filter(v.isNotNull)
      .select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    df.sparkSession.range(bins.toLong)
      .select(col("id").cast("int").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        (lit(lo) + col("bucket") * (lit(hi) - lit(lo)) / lit(bins.toDouble))
          .as("lo"),
        (lit(lo) + (col("bucket") + 1) * (lit(hi) - lit(lo)) / lit(bins.toDouble))
          .as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Population Stability Index between a REFERENCE frame and a
    * CURRENT frame on one numeric column — the standard drift alarm of
    * model monitoring: bucket both distributions with the SAME
    * reference-derived bounds ([[histogram]] with clamping, so
    * out-of-range current values land in edge buckets instead of
    * vanishing), then
    * `PSI = Σ_buckets (p_ref − p_cur) · ln(p_ref / p_cur)` with
    * proportions floored at `eps` so empty cells contribute a large
    * finite surprise instead of ±∞. Rule of thumb: < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 act.
    *
    * Output: one row per bucket (`bucket`, `n_ref`, `n_cur`, `psi`
    * contribution) — `sum(psi)` is the index; per-bucket rows show
    * WHERE the distribution moved, which is what an on-call engineer
    * actually asks. Two bins-bounded aggregations, one broadcast-sized
    * join; the scans are the only corpus-sized work.
    */
  def drift(
      reference: DataFrame,
      current: DataFrame,
      c: String,
      bins: Int,
      lo: Double,
      hi: Double,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0, s"eps ($eps) must be positive")
    val r = histogram(reference, c, bins, lo, hi)
      .select(col("bucket"), col("n").as("n_ref"))
    val u = histogram(current, c, bins, lo, hi)
      .select(col("bucket"), col("n").as("n_cur"))
    psiFromCounts(r.join(u, "bucket"), eps)
  }

  /** The PSI arithmetic over pre-joined per-bucket counts (`bucket`,
    * `n_ref`, `n_cur`) — the shared back half of [[drift]] and the
    * stream-maintained variant ([[driftMonitor]]), extracted so both
    * formulations provably share one definition. */
  private[graft] def psiFromCounts(joined: DataFrame, eps: Double): DataFrame = {
    require(eps > 0, s"eps ($eps) must be positive")
    val tot = joined.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
      .collect()(0)
    require(!tot.isNullAt(0) && !tot.isNullAt(1) &&
      tot.getLong(0) > 0 && tot.getLong(1) > 0,
      "drift needs non-empty reference and current frames")
    def p(n: Column, t: Long) =
      greatest(n.cast("double") / lit(t.toDouble), lit(eps))
    val pr = p(col("n_ref"), tot.getLong(0))
    val pc = p(col("n_cur"), tot.getLong(1))
    joined.select(col("bucket"), col("n_ref"), col("n_cur"),
      ((pr - pc) * log(pr / pc)).as("psi"))
  }

  /** The fold of a count table keyed by one column: `c` summed per
    * `key`. Counts merge by SUM, associative and commutative. */
  private def sumCounts(key: String, c: String)(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy(key).agg(sum(col(c)).as(c))

  /** [[drift]] as a [[FoldMonitor]]: the monitored slice's
    * [[histogram]] counts, bucketed with the same bounds as the
    * reference, fold by SUM per bucket (bins-bounded state), and the
    * readout runs [[psiFromCounts]] against the reference histogram.
    * Returns the per-bucket (`bucket`, `n_ref`, `n_cur`, `psi`) frame. */
  def driftMonitor(reference: DataFrame, c: String, bins: Int, lo: Double,
      hi: Double, eps: Double = 1e-6): FoldMonitor =
    FoldMonitor("driftMonitor", _.select(c),
      histogram(_, c, bins, lo, hi).select(col("bucket"), col("n")),
      sumCounts("bucket", "n"),
      state => psiFromCounts(
        histogram(reference, c, bins, lo, hi)
          .select(col("bucket"), col("n").as("n_ref"))
          .join(state.select(col("bucket"), col("n").as("n_cur")), "bucket"),
        eps))

  /** PSI drift over a CATEGORICAL column — [[drift]] without the
    * binning: the reference and current category frequency tables are
    * full-outer joined (a category present on only one side
    * contributes its eps-floored surprise instead of silently
    * vanishing — new categories appearing IS the drift signal a
    * label/source/format mix monitor exists to catch) and each
    * category's contribution comes from the shared
    * [[psiFromCounts]] arithmetic, so numeric and categorical drift
    * are provably one definition. NULL categories group as one
    * category, exactly as the modeled pipeline would route them.
    *
    * Two map-side-combined counts bounded by the category
    * vocabulary, one vocabulary-bounded join, two bounded driver
    * scalars.
    *
    * Output: one row per category in either frame — (`category`,
    * `n_ref`, `n_cur`, `psi`); `sum(psi)` is the index. */
  def categoricalDrift(
      reference: DataFrame,
      current: DataFrame,
      c: String,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0, s"eps ($eps) must be positive")
    def counts(df: DataFrame, key: String, out: String) =
      df.groupBy(col(c).cast("string").as(key))
        .agg(count(lit(1)).as(out))
    categoricalDriftFromCounts(counts(reference, "category", "n_ref"),
      counts(current, "category", "n_cur"), eps)
  }

  /** The categorical-PSI back half over PRE-AGGREGATED per-category
    * counts (`category`, `n_ref`) x (`category`, `n_cur`) — the shared
    * machinery of [[categoricalDrift]] and the stream-maintained
    * variant ([[categoricalDriftMonitor]], whose accumulated state
    * table IS a counts frame), so both
    * formulations provably share one definition. The join key is
    * null-SAFE: a plain full-outer equi join would emit the NULL
    * category twice (one unmatched row per side) instead of grouping
    * it as one category. */
  private[graft] def categoricalDriftFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame,
      eps: Double): DataFrame = {
    val joined = refCounts
      .withColumnRenamed("category", "__bref")
      .join(curCounts.withColumnRenamed("category", "__bcur"),
        col("__bref") <=> col("__bcur"), "full_outer")
      .select(coalesce(col("__bref"), col("__bcur")).as("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    psiFromCounts(joined, eps).withColumnRenamed("bucket", "category")
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — the
    * binning-free drift number [[drift]]'s PSI cannot be: the maximum
    * gap between the two samples' empirical CDFs,
    * `D = sup_v |F_ref(v) − F_cur(v)|`, sensitive to ANY
    * distributional change (shift, spread, shape) with no bucket
    * choice to argue about. Computed EXACTLY over the distinct-value
    * grid: per distinct value, each side's count; cumulative counts
    * via TWO range-partitioned prefix sums
    * ([[General.withRunningTotal]] — the whole point is that a global
    * `sum().over(orderBy)` window would funnel the value grid through
    * one partition, and at 100 TB the distinct-value grid is itself
    * large); D evaluates AFTER each value's ties (the
    * inclusive-cumulative convention, well-defined under ties). Every
    * per-row quantity is an integer ratio — both engines compute
    * identical doubles — so the max and its 6dp rounding are
    * hash-exact. NULLs are excluded (no position on the value line).
    *
    * Output: one row (`n_ref`, `n_cur`, `ks6`). */
  def ksStatistic(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String): DataFrame =
    ksFromCounts(ksSideCounts(ref, valueCol, "ca"),
      ksSideCounts(cur, valueCol, "cb"))

  /** One side's distinct-value count table (`v`, `out`) — the foldable
    * state of [[valueCountMonitor]]. */
  private[graft] def ksSideCounts(
      df: DataFrame, valueCol: String, out: String): DataFrame = df
    .select(col(valueCol).cast("double").as("v"))
    .filter(col("v").isNotNull)
    .groupBy("v").agg(count(lit(1)).as(out))

  /** [[ksStatistic]]'s arithmetic over two prepared count tables
    * (`(v, ca)` / `(v, cb)`) — shared verbatim by the batch operator
    * and the streaming monitor ([[ksDriftMonitor]]), the
    * psiFromCounts discipline. */
  private[graft] def ksFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val spark = refCounts.sparkSession
    val m = refCounts.join(curCounts, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val t = m.agg(coalesce(sum(col("ca")), lit(0L)),
      coalesce(sum(col("cb")), lit(0L))).head()
    val (na, nb) = (t.getLong(0), t.getLong(1))
    require(na > 0L && nb > 0L,
      s"ksStatistic: both samples need non-null values (got $na ref, $nb cur)")
    val cum = General.withRunningTotal(
      General.withRunningTotal(m, Seq("v"), "ca", "__pa"),
      Seq("v"), "cb", "__pb")
    val d = cum.agg(max(abs(
        (col("__pa") + col("ca")).cast("double") / lit(na.toDouble) -
          (col("__pb") + col("cb")).cast("double") / lit(nb.toDouble))))
      .head().getDouble(0)
    import spark.implicits._
    Seq((na, nb, BigDecimal(d)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_ref", "n_cur", "ks6")
  }

  /** Exact 1-Wasserstein (earth-mover) distance between two samples —
    * the INTEGRAL of the empirical-CDF gap where [[ksStatistic]] takes
    * its supremum: `W1 = ∫ |F_ref(v) − F_cur(v)| dv`, the drift number
    * that weighs HOW FAR mass moved, not just whether it did (a 1%
    * tail excursion and a full-distribution shift can share a KS D but
    * never a W1). Exact over the merged distinct-value grid: the gap
    * is piecewise-constant between consecutive grid values, so
    * `W1 = Σ_i |F_ref(v_{i−1}) − F_cur(v_{i−1})| · (v_i − v_{i−1})` —
    * and each row's EXCLUSIVE prefix count IS the inclusive CDF count
    * at the previous value, so one prefix sum per side plus a lag of
    * the value column computes it without window functions: cumulative
    * counts via two range-partitioned prefix sums
    * ([[General.withRunningTotal]]) and the previous grid value via
    * the same machinery's lag twin ([[General.withPrevValue]]) — never
    * a global one-partition window over the value grid. Per-row terms
    * are integer-ratio × value-gap doubles, 12dp-rounded and summed as
    * exact decimals (order-independent — the shard/micro-batch split
    * provably cannot move a digit), readout on the 6dp gate.
    * NULLs are excluded (no position on the value line).
    *
    * Output: one row (`n_ref`, `n_cur`, `w1_6`). */
  def wassersteinDistance(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String): DataFrame =
    wassersteinFromCounts(ksSideCounts(ref, valueCol, "ca"),
      ksSideCounts(cur, valueCol, "cb"))

  /** [[wassersteinDistance]]'s arithmetic over two prepared
    * distinct-value count tables (`(v, ca)` / `(v, cb)`) — the SAME
    * foldable ECDF state the KS/quantile/Gini family maintains, shared
    * verbatim by the batch operator and the streaming monitor
    * ([[wassersteinDriftMonitor]]). */
  private[graft] def wassersteinFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val spark = refCounts.sparkSession
    val m = refCounts.join(curCounts, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val t = m.agg(coalesce(sum(col("ca")), lit(0L)),
      coalesce(sum(col("cb")), lit(0L))).head()
    val (na, nb) = (t.getLong(0), t.getLong(1))
    require(na > 0L && nb > 0L,
      s"wassersteinDistance: both samples need non-null values " +
        s"(got $na ref, $nb cur)")
    val cum = General.withRunningTotal(
      General.withRunningTotal(m, Seq("v"), "ca", "__pa"),
      Seq("v"), "cb", "__pb")
    val lagged = General.withPrevValue(cum, Seq("v"), "v", "__pv")
    val term = round(
      abs(col("__pa").cast("double") / lit(na.toDouble) -
        col("__pb").cast("double") / lit(nb.toDouble)) *
        (col("v") - col("__pv")), 12).cast("decimal(38,12)")
    val w1 = lagged
      .agg(coalesce(sum(when(col("__pv").isNotNull, term)),
        lit(0).cast("decimal(38,12)")))
      .head().getDecimal(0)
    import spark.implicits._
    Seq((na, nb, BigDecimal(w1.doubleValue)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_ref", "n_cur", "w1_6")
  }

  /** Jensen–Shannon divergence between two CATEGORICAL mixes — the
    * bounded, symmetric drift number next to [[categoricalDrift]]'s
    * PSI: `JSD = ½·KL(p ‖ m) + ½·KL(q ‖ m)` with `m = (p+q)/2`,
    * natural log, so `0 ≤ JSD ≤ ln 2` — no eps floor needed (a
    * category absent from one side contributes a FINITE `½·p·ln 2`
    * term, where PSI must clamp), which is exactly why it is the
    * better alarm for vocabularies that legitimately grow. NULL
    * categories group as one category.
    *
    * Two map-side-combined counts bounded by the category vocabulary,
    * one null-safe vocabulary-bounded join, per-category terms
    * 12dp-rounded into an exact decimal sum, readout on the 6dp gate.
    *
    * Output: one row (`n_ref`, `n_cur`, `n_categories`, `jsd6`). */
  def jsDivergence(
      reference: DataFrame,
      current: DataFrame,
      c: String): DataFrame =
    jsDivergenceFromCounts(catSideCounts(reference, c, "ca"),
      catSideCounts(current, c, "cb"))

  /** One side's category count table (`category`, `out`) — the
    * foldable state of the category monitors (the
    * [[categoricalDriftFromCounts]] state shape). */
  private[graft] def catSideCounts(
      df: DataFrame, c: String, out: String): DataFrame =
    df.groupBy(col(c).cast("string").as("category"))
      .agg(count(lit(1)).as(out))

  /** A [[FoldMonitor]] over the (`category`, `cnt`) counts of column
    * `c`, vocabulary-bounded: counts merge by SUM, and NULL categories
    * carry through the fold as the NULL key. `readout` gets the
    * reference counts and the folded state. */
  private def categoryMonitor(name: String, reference: DataFrame, c: String,
      refCol: String, curCol: String)(
      readout: (DataFrame, DataFrame) => DataFrame): FoldMonitor =
    FoldMonitor(name, _.select(c), catSideCounts(_, c, "cnt"),
      sumCounts("category", "cnt"), state => readout(
        catSideCounts(reference, c, refCol),
        state.withColumnRenamed("cnt", curCol)))

  /** [[categoricalDrift]] as a monitor. Returns the (`category`,
    * `n_ref`, `n_cur`, `psi`) frame. */
  def categoricalDriftMonitor(
      reference: DataFrame, c: String, eps: Double = 1e-6): FoldMonitor =
    categoryMonitor("categoricalDriftMonitor", reference, c, "n_ref", "n_cur")(
      categoricalDriftFromCounts(_, _, eps))

  /** [[jsDivergence]] as a monitor. */
  def jsDivergenceMonitor(reference: DataFrame, c: String): FoldMonitor =
    categoryMonitor("jsDivergenceMonitor", reference, c, "ca", "cb")(
      jsDivergenceFromCounts)

  /** [[hellingerDistance]] as a monitor. */
  def hellingerMonitor(reference: DataFrame, c: String): FoldMonitor =
    categoryMonitor("hellingerMonitor", reference, c, "ca", "cb")(
      hellingerFromCounts)

  /** [[jsDivergence]]'s arithmetic over two prepared category count
    * tables — shared verbatim by the batch operator and the streaming
    * monitor ([[jsDivergenceMonitor]]),
    * the psiFromCounts discipline. */
  private[graft] def jsDivergenceFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val spark = refCounts.sparkSession
    Blocks.scoped { s =>
      // vocabulary-bounded; scalars + terms read it
      val joined = s.checkpoint(refCounts
        .withColumnRenamed("category", "__jref")
        .join(curCounts.withColumnRenamed("category", "__jcur"),
          col("__jref") <=> col("__jcur"), "full_outer")
        .select(coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb")))
      val t = joined.agg(coalesce(sum(col("ca")), lit(0L)),
        coalesce(sum(col("cb")), lit(0L)), count(lit(1))).head()
      val (na, nb, k) = (t.getLong(0), t.getLong(1), t.getLong(2))
      require(na > 0L && nb > 0L,
        s"jsDivergence: both sides need rows (got $na ref, $nb cur)")
      val pa = col("ca").cast("double") / lit(na.toDouble)
      val pb = col("cb").cast("double") / lit(nb.toDouble)
      val mm = (pa + pb) / lit(2.0)
      val term =
        when(col("ca") > 0L, lit(0.5) * pa * log(pa / mm))
          .otherwise(lit(0.0)) +
          when(col("cb") > 0L, lit(0.5) * pb * log(pb / mm))
            .otherwise(lit(0.0))
      val jsd = joined
        .agg(coalesce(sum(round(term, 12).cast("decimal(38,12)")),
          lit(0).cast("decimal(38,12)")))
        .head().getDecimal(0)
      import spark.implicits._
      Seq((na, nb, k, BigDecimal(jsd.doubleValue)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("n_ref", "n_cur", "n_categories", "jsd6")
    }
  }

  /** Exact Mann–Whitney U rank-sum test with Cliff's delta — the
    * NONPARAMETRIC location test next to the drift family's
    * distribution gaps ("did values in the current slice
    * systematically shift up?"): `U = #(ref > cur) + ½·#(ref = cur)`
    * over all cross pairs, WITHOUT pair enumeration — per distinct
    * value, `ca_v · (cumb_before(v) + cb_v/2)` off the merged grid's
    * prefix sum, kept exact as the INTEGER `2U` through
    * `DECIMAL` arithmetic (a cross-pair count can pass 2^63 long
    * before the corpus is large). Reported alongside:
    *
    *   - `u_x2` — exactly 2U, cast to double only at readout;
    *   - `cliffs_delta6` — the effect size `2U/(na·nb) − 1 ∈ [−1, 1]`
    *     (+1 = every ref value above every cur value);
    *   - `z6` — the tie-corrected normal approximation
    *     `(U − na·nb/2) / sqrt(na·nb/12 · ((n+1) − Σ(t³−t)/(n(n−1))))`
    *     (NULL when the variance degenerates — all mass on one value).
    *
    * Tie cubes run through widened decimals (one 3M-deep hot value
    * overflows a long cube). One grid prefix sum, map-side terms,
    * three driver scalars — the ksFromCounts scale shape; same
    * foldable count state. NULLs excluded.
    *
    * Output: one row (`n_ref`, `n_cur`, `u_x2`, `cliffs_delta6`,
    * `z6`). */
  def mannWhitney(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String): DataFrame =
    mannWhitneyFromCounts(ksSideCounts(ref, valueCol, "ca"),
      ksSideCounts(cur, valueCol, "cb"))

  /** [[mannWhitney]]'s arithmetic over two prepared distinct-value
    * count tables — shared verbatim by the batch operator and the
    * streaming monitor ([[mannWhitneyMonitor]]). */
  private[graft] def mannWhitneyFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val spark = refCounts.sparkSession
    val m = refCounts.join(curCounts, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val t = m.agg(coalesce(sum(col("ca")), lit(0L)),
      coalesce(sum(col("cb")), lit(0L))).head()
    val (na, nb) = (t.getLong(0), t.getLong(1))
    require(na > 0L && nb > 0L,
      s"mannWhitney: both samples need non-null values (got $na ref, $nb cur)")
    val cum = General.withRunningTotal(m, Seq("v"), "cb", "__pb")
    // 2U = Σ ca·(2·cumb_before + cb): exact integers end-to-end
    val ties = col("ca") + col("cb")
    val s = cum.agg(
      coalesce(sum(col("ca").cast("decimal(19,0)") *
        (col("__pb") * lit(2L) + col("cb")).cast("decimal(19,0)")),
        lit(0).cast("decimal(38,0)")).as("u2"),
      coalesce(sum(ties.cast("decimal(19,0)") * ties.cast("decimal(19,0)") *
        ties.cast("decimal(19,0)") - ties.cast("decimal(19,0)")),
        lit(0).cast("decimal(38,0)")).as("tie")).head()
    val u2 = s.getDecimal(0).doubleValue
    val tie = s.getDecimal(1).doubleValue
    val (nad, nbd) = (na.toDouble, nb.toDouble)
    val n = nad + nbd
    val u = u2 / 2.0
    val mu = nad * nbd / 2.0
    val varU = nad * nbd / 12.0 * ((n + 1.0) - tie / (n * (n - 1.0)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val z = if (varU > 0.0) Some(r6((u - mu) / math.sqrt(varU))) else None
    import spark.implicits._
    Seq((na, nb, u2, r6(u2 / (nad * nbd) - 1.0), z))
      .toDF("n_ref", "n_cur", "u_x2", "cliffs_delta6", "z6")
  }

  /** Exact two-sample Cramér–von Mises criterion — the L2 member of
    * the drift trio ([[ksStatistic]] = sup of the CDF gap,
    * [[wassersteinDistance]] = ∫|gap| dv, this = the gap SQUARED
    * integrated against the POOLED empirical distribution):
    * `T = (na·nb / n²) · Σ_v (ca_v + cb_v) · (F_ref(v) − F_cur(v))²`
    * (Anderson's two-sample form), sensitive to spread and shape where
    * a mean-matched shift hides from rank tests. Exact over the merged
    * distinct-value grid: inclusive CDFs off two range-partitioned
    * prefix sums (never a global window), per-value terms 12dp-rounded
    * into an exact decimal sum, readout on the 6dp gate. Same foldable
    * ECDF count state as the KS/W1/quantile family. NULLs excluded.
    *
    * Output: one row (`n_ref`, `n_cur`, `cvm6`). */
  def cramerVonMises(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String): DataFrame =
    cvmFromCounts(ksSideCounts(ref, valueCol, "ca"),
      ksSideCounts(cur, valueCol, "cb"))

  /** [[cramerVonMises]]'s arithmetic over two prepared count tables —
    * shared verbatim by the batch operator and the streaming
    * monitor ([[cvmDriftMonitor]]). */
  private[graft] def cvmFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val spark = refCounts.sparkSession
    val m = refCounts.join(curCounts, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val t = m.agg(coalesce(sum(col("ca")), lit(0L)),
      coalesce(sum(col("cb")), lit(0L))).head()
    val (na, nb) = (t.getLong(0), t.getLong(1))
    require(na > 0L && nb > 0L,
      s"cramerVonMises: both samples need non-null values (got $na ref, $nb cur)")
    val cum = General.withRunningTotal(
      General.withRunningTotal(m, Seq("v"), "ca", "__pa"),
      Seq("v"), "cb", "__pb")
    val d = (col("__pa") + col("ca")).cast("double") / lit(na.toDouble) -
      (col("__pb") + col("cb")).cast("double") / lit(nb.toDouble)
    val term = round((col("ca") + col("cb")).cast("double") * (d * d), 12)
      .cast("decimal(38,12)")
    val tt = cum.agg(coalesce(sum(term), lit(0).cast("decimal(38,12)")))
      .head().getDecimal(0)
    val n = na.toDouble + nb.toDouble
    import spark.implicits._
    Seq((na, nb, BigDecimal(
        na.toDouble * nb.toDouble / (n * n) * tt.doubleValue)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_ref", "n_cur", "cvm6")
  }

  /** Quantile-shift drift report — WHERE along the distribution did
    * the drift land: the exact discrete quantiles of the reference
    * and current samples side by side, with the per-probability shift
    * ("p50 moved +3 but p99 moved +120" is the long-document story a
    * single KS/W1 number averages away). Both sides ride
    * [[exactQuantilesFromCounts]]'s verbatim discrete-rank arithmetic
    * over the SAME foldable count state as the rest of the drift
    * family; the shift is one subtraction of two verbatim-input
    * doubles on the 6dp gate. NULLs excluded.
    *
    * Output: one row per probability — (`p`, `n_ref`, `n_cur`,
    * `q_ref`, `q_cur`, `shift6`), ordered by p. */
  def quantileShift(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      ps: Seq[Double]): DataFrame =
    quantileShiftFromCounts(ksSideCounts(ref, valueCol, "cnt"),
      ksSideCounts(cur, valueCol, "cnt"), ps)

  /** [[quantileShift]]'s arithmetic over two prepared count tables —
    * shared verbatim by the batch operator and the streaming
    * monitor ([[quantileShiftMonitor]]). */
  private[graft] def quantileShiftFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame,
      ps: Seq[Double]): DataFrame = {
    val a = exactQuantilesFromCounts(refCounts, ps)
      .select(col("p"), col("n").as("n_ref"), col("q").as("q_ref"))
    val b = exactQuantilesFromCounts(curCounts, ps)
      .select(col("p"), col("n").as("n_cur"), col("q").as("q_cur"))
    a.join(b, Seq("p"))
      .select(col("p"), col("n_ref"), col("n_cur"),
        col("q_ref"), col("q_cur"),
        round(col("q_cur") - col("q_ref"), 6).as("shift6"))
      .orderBy("p")
  }

  /** PER-GROUP quantile-shift drift report — [[quantileShift]] keyed
    * by a slice column ("whose p99 moved?"): each group's reference
    * and current discrete quantiles side by side with the
    * per-(group, probability) shift, off the group-keyed foldable
    * count state via [[groupQuantilesFromCounts]]'s verbatim
    * global-prefix arithmetic per side. The join is null-safe on the
    * group (NULL is its own group) and inner on (g, p) — a group
    * present on only one side has no shift to report and drops,
    * documented rather than NULL-padded (the quantile frame has no
    * row to anchor the NULL on). Output: one row per (group, p) —
    * (`g`, `p`, `n_ref`, `n_cur`, `q_ref`, `q_cur`, `shift6`),
    * ordered by (g, p). */
  def quantileShiftByGroup(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[Double]): DataFrame =
    quantileShiftByGroupFromCounts(
      groupSideCounts(ref, groupCol, valueCol),
      groupSideCounts(cur, groupCol, valueCol), groupCol, ps)

  /** [[quantileShiftByGroup]]'s arithmetic over two prepared
    * group-keyed count tables — shared verbatim by the batch operator
    * and the streaming monitor ([[groupQuantileShiftMonitor]]). */
  private[graft] def quantileShiftByGroupFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame,
      groupCol: String,
      ps: Seq[Double]): DataFrame = {
    val a = groupQuantilesFromCounts(refCounts, groupCol, ps)
      .select(col(groupCol).as("g"), col("p"),
        col("n").as("n_ref"), col("q").as("q_ref"))
    val b = groupQuantilesFromCounts(curCounts, groupCol, ps)
      .select(col(groupCol).as("g"), col("p"),
        col("n").as("n_cur"), col("q").as("q_cur"))
    a.alias("__l").join(b.alias("__r"),
        col("__l.g") <=> col("__r.g") && col("__l.p") === col("__r.p"))
      .select(col("__l.g").as("g"), col("__l.p").as("p"),
        col("n_ref"), col("n_cur"), col("q_ref"), col("q_cur"),
        round(col("q_cur") - col("q_ref"), 6).as("shift6"))
      .orderBy("g", "p")
  }

  /** Benford first-significant-digit audit — the classic
    * fabricated-numbers screen for a monetary/measure column: the
    * observed first-digit mix against Benford's law
    * `P(d) = log10(1 + 1/d)`, one row per digit 1–9 INCLUDING digits
    * the data never hits (a missing digit is the loudest Benford
    * violation there is — structural zeros ride a literal digit grid).
    * The digit is extracted CROSS-ENGINE-DETERMINISTICALLY: the value
    * quantizes to `DECIMAL(38,12)` (the same rounding both engines run
    * everywhere else) and the first `[1-9]` of its string form IS the
    * first significant digit — true in plain AND scientific notation,
    * so no log10/pow boundary ulp can ever flip a 999.999… across a
    * decade. Magnitudes the decimal cannot hold (|v| ≥ 1e26 — ANSI
    * would abort the cast) fall back to the double's own string form,
    * whose leading `[1-9]` is the same first significant digit
    * (NaN/Infinity render no digit and drop out). Values that are
    * NULL or zero carry no digit and are excluded — zero by an
    * EXPLICIT `!= 0` filter, not by trusting any engine's rendering
    * of decimal zero. Expected probabilities are `ln(1+1/d)/ln(10)`
    * — the identical expression on both engines, never a pasted
    * constant. Map-only digit extraction, one 9-row aggregation.
    *
    * Output: one row per digit — (`digit`, `n_obs`, `obs_p6`,
    * `exp_p6`, `dev6` = |obs−exp| at 6dp), digit ascending. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    TempCols.reserve(df, "benfordAudit", "__d")
    val digits = df
      .filter(col(valueCol).isNotNull && col(valueCol) =!= 0)
      .select(firstSignificantDigit(valueCol).as("__d"))
      .filter(col("__d") =!= "")
      .groupBy(col("__d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val t = digits.agg(coalesce(sum(col("n_obs")), lit(0L))).head()
    val n = t.getLong(0)
    require(n > 0L, "benfordAudit: no non-zero values to audit")
    val grid = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val obs = col("n_obs").cast("double") / lit(n.toDouble)
    val exp = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    grid.join(digits, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .select(col("digit"), col("n_obs"),
        round(obs, 6).as("obs_p6"), round(exp, 6).as("exp_p6"),
        round(abs(obs - exp), 6).as("dev6"))
      .orderBy("digit")
  }

  /** First-significant-digit extraction shared by the Benford audits:
    * DECIMAL(38,12)-string within the decimal's range, the double's
    * own string form beyond it (both notations lead with the first
    * significant digit; CaseWhen branches evaluate lazily, so the
    * ANSI-fatal decimal cast never runs on an out-of-range value). */
  private def firstSignificantDigit(
      valueCol: String): org.apache.spark.sql.Column =
    regexp_extract(
      when(abs(col(valueCol).cast("double")) < lit(1e26),
          col(valueCol).cast("decimal(38,12)").cast("string"))
        .otherwise(col(valueCol).cast("double").cast("string")),
      "[1-9]", 0)

  /** PER-GROUP Benford first-digit audit — [[benfordAudit]] keyed by
    * a slice column ("does any ONE priority tier's amounts look
    * fabricated?" — a clean corpus can hide one cooked slice). Same
    * decimal-string digit extraction; the 9-digit grid per group
    * comes from an EXPLODE over the group totals (never a cross
    * join — a literal-grid cross join would plan the nested loop the
    * plan gate forbids), so structural zeros appear per group and
    * group cardinality stays unbounded. Groups whose values all
    * quantize to zero simply have no rows (no digit mix to audit).
    * NULL is its own group.
    *
    * Output: one row per (group, digit) — (`g` as STRING, `digit`,
    * `n_obs`, `obs_p6`, `exp_p6`, `dev6`), ordered by (g, digit). */
  def benfordAuditByGroup(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    TempCols.reserve(df, "benfordAuditByGroup", "__g", "__d", "__n")
    val digits = df
      .filter(col(valueCol).isNotNull && col(valueCol) =!= 0)
      .select(col(groupCol).cast("string").as("__g"),
        firstSignificantDigit(valueCol).as("__d"))
      .filter(col("__d") =!= "")
      .groupBy(col("__g"), col("__d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val tot = digits.groupBy("__g").agg(sum(col("n_obs")).as("__n"))
    val grid = tot.select(col("__g"), col("__n"),
      explode(array((1 to 9).map(lit): _*)).as("digit"))
    val obs = col("n_obs").cast("double") / col("__n").cast("double")
    val exp = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    grid.alias("__l")
      .join(digits.alias("__r"),
        col("__l.__g") <=> col("__r.__g") &&
          col("__l.digit") === col("__r.digit"), "left_outer")
      .select(col("__l.__g").as("__g"), col("__l.digit").as("digit"),
        col("__n"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .select(col("__g").as("g"), col("digit"), col("n_obs"),
        round(obs, 6).as("obs_p6"), round(exp, 6).as("exp_p6"),
        round(abs(obs - exp), 6).as("dev6"))
      .orderBy("g", "digit")
  }

  /** PER-GROUP Jensen–Shannon drift — [[jsDivergence]] keyed by a
    * slice column ("which snapshot's priority mix actually moved?"),
    * the drill-down under the corpus-wide divergence. The group-keyed
    * category counts merge by UNION + re-aggregation (NULL groups
    * meet themselves), per-group totals are columns (group
    * cardinality unbounded), and the per-category terms are the
    * scalar operator's verbatim — 12dp-rounded into per-group exact
    * decimal sums. A group present on only one side reports NULL
    * jsd6 (no mix to compare against). NULL is its own group AND its
    * own category.
    *
    * Output: one row per group — (`g` as STRING, `n_ref`, `n_cur`,
    * `n_categories`, `jsd6`), ordered by group. */
  def jsDivergenceByGroup(
      reference: DataFrame,
      current: DataFrame,
      groupCol: String,
      c: String): DataFrame =
    jsDivergenceByGroupFromCounts(
      groupCatCounts(reference, groupCol, c, "ca"),
      groupCatCounts(current, groupCol, c, "cb"))

  /** One side's GROUP-KEYED category count table
    * (`__g`, `category`, `out`) — the foldable state of the per-group
    * category monitors. */
  private[graft] def groupCatCounts(
      df: DataFrame, groupCol: String, c: String, out: String): DataFrame =
    df.select(col(groupCol).cast("string").as("__g"),
        col(c).cast("string").as("category"))
      .groupBy("__g", "category").agg(count(lit(1)).as(out))

  /** The per-group category-count fold — counts merge by SUM per
    * (group, category) cell. */
  def foldGroupCatCounts(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__g", "category")
      .agg(sum(col("cnt")).as("cnt"))

  /** A [[FoldMonitor]] over the group-keyed category counts
    * (cells-bounded: groups × categories), read out against the
    * reference's counts by `fromCounts`. */
  private def groupCategoryMonitor(name: String, reference: DataFrame,
      groupCol: String, c: String)(
      fromCounts: (DataFrame, DataFrame) => DataFrame): FoldMonitor =
    FoldMonitor(name, _.select(groupCol, c),
      groupCatCounts(_, groupCol, c, "cnt"), foldGroupCatCounts,
      state => fromCounts(groupCatCounts(reference, groupCol, c, "ca"),
        state.withColumnRenamed("cnt", "cb")))

  /** [[jsDivergenceByGroup]] as a monitor. */
  def groupJsDivergenceMonitor(
      reference: DataFrame, groupCol: String, c: String): FoldMonitor =
    groupCategoryMonitor("groupJsDivergenceMonitor", reference, groupCol, c)(
      jsDivergenceByGroupFromCounts)

  /** [[hellingerByGroup]] as a monitor. */
  def groupHellingerMonitor(
      reference: DataFrame, groupCol: String, c: String): FoldMonitor =
    groupCategoryMonitor("groupHellingerMonitor", reference, groupCol, c)(
      hellingerByGroupFromCounts)

  /** [[jsDivergenceByGroup]]'s arithmetic over two prepared
    * group-keyed count tables — shared verbatim by the batch operator
    * and the streaming monitor ([[groupJsDivergenceMonitor]]). */
  private[graft] def jsDivergenceByGroupFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val m = refCounts
      .select(col("__g"), col("category"), col("ca"), lit(0L).as("cb"))
      .unionByName(curCounts
        .select(col("__g"), col("category"), lit(0L).as("ca"), col("cb")))
      .groupBy("__g", "category")
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val tot = m.groupBy("__g").agg(sum(col("ca")).as("__na"),
      sum(col("cb")).as("__nb"), count(lit(1)).as("__k"))
    val j = m.alias("__l")
      .join(tot.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("ca"), col("cb"),
        col("__na"), col("__nb"), col("__k"))
    val pa = col("ca").cast("double") / col("__na").cast("double")
    val pb = col("cb").cast("double") / col("__nb").cast("double")
    val mm = (pa + pb) / lit(2.0)
    // the two-sided guard is per-row: ANSI zero division must not
    // abort the report over one one-sided group
    val term = when(col("__na") > 0L && col("__nb") > 0L,
      round(when(col("ca") > 0L, lit(0.5) * pa * log(pa / mm))
          .otherwise(lit(0.0)) +
        when(col("cb") > 0L, lit(0.5) * pb * log(pb / mm))
          .otherwise(lit(0.0)), 12).cast("decimal(38,12)"))
    j.groupBy("__g")
      .agg(max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
        max(col("__k")).as("n_categories"), sum(term).as("__t"))
      .select(col("__g").as("g"), col("n_ref"), col("n_cur"),
        col("n_categories"),
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          round(coalesce(col("__t"), lit(0).cast("decimal(38,12)"))
            .cast("double"), 6)).as("jsd6"))
      .orderBy("g")
  }

  /** Hellinger distance between two categorical mixes — the
    * metric-space companion to [[jsDivergence]] (a TRUE metric on
    * distributions, bounded [0,1]): `H = sqrt(1 − BC)` with the
    * Bhattacharyya coefficient `BC = Σ √(p_i·q_i)` — 1 on identical
    * mixes, 0 on disjoint supports. Same vocabulary-bounded null-safe
    * machinery as JSD; per-category √-terms 12dp-rounded into an
    * exact decimal sum; the readout clamps 1−BC at 0 before the
    * square root (term rounding can push BC a hair past 1 on
    * identical mixes — the clamp is the identical expression on both
    * engines). NULL categories group as one category.
    *
    * Output: one row (`n_ref`, `n_cur`, `n_categories`, `bc6`,
    * `hellinger6`). */
  def hellingerDistance(
      reference: DataFrame,
      current: DataFrame,
      c: String): DataFrame =
    hellingerFromCounts(catSideCounts(reference, c, "ca"),
      catSideCounts(current, c, "cb"))

  /** [[hellingerDistance]]'s arithmetic over two prepared category
    * count tables — shared verbatim by the batch operator and the
    * streaming monitor ([[hellingerMonitor]]). */
  private[graft] def hellingerFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val spark = refCounts.sparkSession
    Blocks.scoped { s =>
      val joined = s.checkpoint(refCounts
        .withColumnRenamed("category", "__href")
        .join(curCounts.withColumnRenamed("category", "__hcur"),
          col("__href") <=> col("__hcur"), "full_outer")
        .select(coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb")))
      val t = joined.agg(coalesce(sum(col("ca")), lit(0L)),
        coalesce(sum(col("cb")), lit(0L)), count(lit(1))).head()
      val (na, nb, k) = (t.getLong(0), t.getLong(1), t.getLong(2))
      require(na > 0L && nb > 0L,
        s"hellingerDistance: both sides need rows (got $na ref, $nb cur)")
      val pa = col("ca").cast("double") / lit(na.toDouble)
      val pb = col("cb").cast("double") / lit(nb.toDouble)
      val bc = joined
        .agg(coalesce(sum(round(sqrt(pa * pb), 12).cast("decimal(38,12)")),
          lit(0).cast("decimal(38,12)")))
        .head().getDecimal(0).doubleValue
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import spark.implicits._
      Seq((na, nb, k, r6(bc), r6(math.sqrt(math.max(1.0 - bc, 0.0)))))
        .toDF("n_ref", "n_cur", "n_categories", "bc6", "hellinger6")
    }
  }

  /** PER-GROUP Hellinger distance — [[hellingerDistance]] keyed by a
    * slice column, the metric twin of [[jsDivergenceByGroup]] over
    * the SAME group-keyed category counts: per-group Bhattacharyya
    * terms 12dp-rounded into exact decimal sums, the 1−BC clamp and
    * square root fully in-plan (group cardinality unbounded),
    * one-sided groups NULL. NULL is its own group AND category.
    *
    * Output: one row per group — (`g` as STRING, `n_ref`, `n_cur`,
    * `n_categories`, `bc6`, `hellinger6`), ordered by group. */
  def hellingerByGroup(
      reference: DataFrame,
      current: DataFrame,
      groupCol: String,
      c: String): DataFrame =
    hellingerByGroupFromCounts(
      groupCatCounts(reference, groupCol, c, "ca"),
      groupCatCounts(current, groupCol, c, "cb"))

  /** [[hellingerByGroup]]'s arithmetic over two prepared group-keyed
    * count tables — shared verbatim by the batch operator and the
    * streaming monitor ([[groupHellingerMonitor]]). */
  private[graft] def hellingerByGroupFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val m = refCounts
      .select(col("__g"), col("category"), col("ca"), lit(0L).as("cb"))
      .unionByName(curCounts
        .select(col("__g"), col("category"), lit(0L).as("ca"), col("cb")))
      .groupBy("__g", "category")
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val tot = m.groupBy("__g").agg(sum(col("ca")).as("__na"),
      sum(col("cb")).as("__nb"), count(lit(1)).as("__k"))
    val j = m.alias("__l")
      .join(tot.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("ca"), col("cb"),
        col("__na"), col("__nb"), col("__k"))
    val pa = col("ca").cast("double") / col("__na").cast("double")
    val pb = col("cb").cast("double") / col("__nb").cast("double")
    val term = when(col("__na") > 0L && col("__nb") > 0L,
      round(sqrt(pa * pb), 12).cast("decimal(38,12)"))
    val bc = coalesce(col("__t"), lit(0).cast("decimal(38,12)"))
      .cast("double")
    j.groupBy("__g")
      .agg(max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
        max(col("__k")).as("n_categories"), sum(term).as("__t"))
      .select(col("__g").as("g"), col("n_ref"), col("n_cur"),
        col("n_categories"),
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          round(bc, 6)).as("bc6"),
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          round(sqrt(greatest(lit(1.0) - bc, lit(0.0))), 6))
          .as("hellinger6"))
      .orderBy("g")
  }

  /** Exact quantiles off the SAME distinct-value count state the KS
    * family folds ([[ksSideCounts]] — counts merge by SUM, so the
    * maintained ECDF is provably split- and order-invariant): for
    * each probability `p`, the DISCRETE quantile — the value covering
    * 1-based rank `max(⌈p·n⌉, 1)` in value order. Discrete, not
    * interpolated, ON PURPOSE: the answer is one of the input doubles
    * VERBATIM, so there is no interpolation arithmetic two engines
    * could disagree on by an ulp (the cross-engine rounding trap the
    * round-at-6 gates elsewhere exist to cage) — and the oracle
    * replays the rank rule in four lines of integer SQL. `⌈p·n⌉`
    * itself is one IEEE multiply + ceil of exact inputs — identical
    * on every engine.
    *
    * Scale shape: one scalar count, then ONE range-partitioned prefix
    * sum over the value grid ([[General.withRunningTotal]] — the
    * ksFromCounts discipline; never a global one-partition window),
    * then a bounded-literal probe sweep (the pruningReport pattern):
    * each grid row tests |ps| rank targets map-side and a
    * map-side-combined MIN per target picks the covering value.
    * Output: one row per p — (`p`, `n`, `q`), ordered by p. */
  def exactQuantilesFromCounts(counts: DataFrame, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "exactQuantilesFromCounts needs probabilities")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"probabilities must be in (0, 1]: $ps")
    require(ps.distinct.size == ps.size, s"duplicate probabilities: $ps")
    val m = counts.select(col("v").cast("double").as("v"),
      col("cnt").cast("long").as("cnt"))
    // the prefix pass FIRST: withRunningTotal checkpoints the sorted
    // grid, so the scalar n is one cheap agg over the checkpoint
    // (max inclusive cumulative = total mass) instead of a second
    // full run of the counts lineage — one scan, as documented
    val cum = General.withRunningTotal(m, Seq("v"), "cnt", "__pre")
    val n = cum.agg(coalesce(max(col("__pre") + col("cnt")), lit(0L)))
      .head().getLong(0)
    require(n > 0L, "exactQuantilesFromCounts: empty count state")
    // 1-based target rank per p; driver-side java.lang.Math.ceil is
    // the identical IEEE op the oracle's CEIL(p * n) runs
    val targets = ps.map(p => (p, math.max(math.ceil(p * n.toDouble).toLong, 1L)))
    cum.select(col("v"), (col("__pre") + col("cnt")).as("__cum"),
        explode(array(targets.map { case (p, t) =>
          struct(lit(p).as("p"), lit(t).as("t")) }: _*)).as("__pt"))
      .filter(col("__cum") >= col("__pt.t"))
      .groupBy(col("__pt.p").as("p"))
      .agg(min(col("v")).as("q"))
      .select(col("p"), lit(n).as("n"), col("q"))
      .orderBy("p")
  }

  /** Batch [[exactQuantilesFromCounts]]: fold the value counts from
    * the raw frame first (NULLs excluded — no position on the value
    * line). */
  def exactQuantiles(
      df: DataFrame, valueCol: String, ps: Seq[Double]): DataFrame =
    exactQuantilesFromCounts(ksSideCounts(df, valueCol, "cnt"), ps)

  /** Mergeable quantile SKETCH state — the sketch-tier twin of
    * [[exactQuantiles]] for cardinalities where even the distinct
    * value grid is too large to aggregate: the k rows with the
    * smallest `portable_hash32(salt:id)` (ties by id), each carrying
    * its value — a deterministic bottom-k uniform sample.
    *
    * Why bottom-k instead of KLL/t-digest: a compaction sketch's
    * content depends on the MERGE TREE, so two partitionings of the
    * same data yield different sketches — un-oracle-able and
    * non-reproducible by construction. The bottom-k state is an ORDER
    * STATISTIC of a deterministic per-row key: any partitioning, any
    * merge order, any micro-batch split folds to the IDENTICAL k rows
    * (min-k is associative, commutative, idempotent) — bit-reproducible
    * across engines and partitionings, spec-pinned. The price is a
    * probabilistic (not worst-case) rank guarantee: the sample is
    * uniform, so by DKW
    * `P(sup-rank-error > t·n/√k) ≤ 2·exp(−2t²)` — at the default
    * gate `t = 4` that is ≥ 1 − 2e⁻³² ; [[sketchQuantileReport]]
    * carries the realized error against that bound IN the readout
    * (the ANN recall-gate discipline).
    *
    * Scale shape: ONE `TakeOrderedAndProject` pass — every partition
    * keeps its own k-bounded heap, the driver merges heaps; the
    * shuffle carries k rows per partition, never data. NULL ids are
    * rejected loudly ([[graft.operators.Experiment.stratifiedSample]]'s
    * rule: no identity, no stable membership), and so are DUPLICATE
    * ids — (hash, id) is the row's whole identity, so a duplicated id
    * would make the retained VALUE an arbitrary pick and break the
    * fold==batch idempotence proof; the probe is one payload-free
    * id-count aggregation that short-circuits at the first duplicate.
    * The id rides the state AS A STRING — the exact form that was
    * hashed — so non-numeric ids work unchanged and tie order among
    * hash collisions is the hashed byte order on both engines. NULL
    * values are excluded (no position on the value line). */
  def sketchStateOf(
      df: DataFrame, valueCol: String, idCol: String,
      k: Int = 1024, salt: String = "qsk"): DataFrame = {
    require(k >= 16 && k <= 65536,
      s"quantile sketch k ($k) must be in [16, 65536]")
    TempCols.reserve(df, "sketchStateOf", "__qh", "__qid", "__qv")
    val base = df.filter(col(valueCol).isNotNull)
    // ONE identity-audit pass (was two: a null scan + a dup groupBy —
    // both full passes over the input): the id-count aggregation
    // detects NULL ids (they group under the NULL key) and duplicates
    // together; null-id reporting keeps priority.
    val bad = base.groupBy(col(idCol)).agg(count(lit(1)).as("__c"))
      .filter(col(idCol).isNull || col("__c") > 1L)
      .agg(coalesce(max(when(col(idCol).isNull, lit(1)).otherwise(lit(0))),
        lit(0)).as("__hasNull"), count(lit(1)).as("__nbad"))
      .head()
    require(bad.getInt(0) == 0,
      s"quantile sketch: NULL $idCol rows have no stable membership")
    require(bad.getLong(1) == 0L,
      s"quantile sketch: duplicate $idCol values — (hash, id) is the " +
        "row identity, so duplicates would make the retained value " +
        "an arbitrary pick; deduplicate or choose a unique id column")
    base.select(
        graft.functions.TextFunctions.portableTokenHash32(
          concat(lit(salt), lit(":"), col(idCol).cast("string")))
          .as("__qh"),
        col(idCol).cast("string").as("__qid"),
        col(valueCol).cast("double").as("__qv"))
      .orderBy("__qh", "__qid").limit(k)
  }

  /** Fold two sketch states: union, dedup on (hash, id) — a row's
    * identity; its value is functionally dependent — then keep the k
    * smallest (hash, id). Min-k over identities is associative,
    * commutative, AND idempotent, so the fold provably equals the
    * batch sketch whatever the split (the merge proof spec) and an
    * at-least-once redelivery of a micro-batch cannot corrupt the
    * state. Inputs are ≤ k rows each. */
  def foldSketchState(base: DataFrame, delta: DataFrame, k: Int): DataFrame =
    base.unionByName(delta).dropDuplicates("__qh", "__qid")
      .orderBy("__qh", "__qid").limit(k)

  /** Quantile estimates off a sketch state, gated against the exact
    * ranks: for each p the estimate is the sample's
    * `max(1, ⌈p·m⌉)`-th smallest value (m = sample size; when the
    * data fits inside the sample, m = n and the answer is EXACT);
    * `rank_abs_err = |#{v ≤ est} − ⌈p·n⌉|` is measured against the
    * full data and `within_bound` gates it at `⌈t·n/√k⌉` (t = 4, the
    * DKW envelope above) — the report carries its own honesty check.
    * All outputs are exact longs and verbatim data values (no
    * rounding anywhere — the estimate IS a data point).
    *
    * Output: one row per p — (`p`, `n`, `sample_m`, `est`,
    * `rank_abs_err`, `within_bound`), ordered by p. */
  def sketchQuantileReport(
      state: DataFrame, data: DataFrame, valueCol: String,
      ps: Seq[Double], k: Int = 1024, t: Double = 4.0): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile sketch: probabilities ${ps.mkString(",")} outside (0, 1]")
    val spark = state.sparkSession
    // the state is k-bounded by construction — the bounded-model-table
    // discipline, like IVF codebooks
    val sample = state.select(col("__qv")).collect()
      .map(_.getDouble(0)).sorted
    val m = sample.length
    require(m > 0, "quantile sketch: empty state")
    val vals = data.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__qv"))
    val ests = ps.map { p =>
      p -> sample(math.min(m, math.max(1L,
        math.ceil(p * m.toDouble).toLong)).toInt - 1)
    }
    val aggs = ests.zipWithIndex.map { case ((_, est), i) =>
      sum(when(col("__qv") <= est, 1L).otherwise(0L)).as(s"__r$i")
    } :+ count(lit(1)).as("__n")
    val r = vals.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(r.fieldIndex("__n"))
    val bound = math.ceil(t * n.toDouble / math.sqrt(k.toDouble)).toLong
    val out = ests.zipWithIndex.map { case ((p, est), i) =>
      val rank = r.getLong(r.fieldIndex(s"__r$i"))
      val target = math.ceil(p * n.toDouble).toLong
      val err = math.abs(rank - target)
      (p, n, m.toLong, est, err, err <= bound)
    }
    import spark.implicits._
    out.toDF("p", "n", "sample_m", "est", "rank_abs_err", "within_bound")
      .orderBy("p")
  }

  /** One-shot sketch-quantile report: [[sketchStateOf]] +
    * [[sketchQuantileReport]] over the same frame. */
  def sketchQuantiles(
      df: DataFrame, valueCol: String, idCol: String, ps: Seq[Double],
      k: Int = 1024, salt: String = "qsk"): DataFrame =
    sketchQuantileReport(sketchStateOf(df, valueCol, idCol, k, salt),
      df, valueCol, ps, k)

  /** [[sketchQuantiles]] as a [[FoldMonitor]]: each micro-batch's own
    * bottom-k sample folds into the state by [[foldSketchState]]
    * (associative, commutative and idempotent), so the final state
    * equals the batch sketch whatever the split. State is k rows, ever.
    * `data` is the frame the readout gates the estimates against, the
    * frame the monitor replays. */
  def sketchQuantileMonitor(data: DataFrame, valueCol: String, idCol: String,
      ps: Seq[Double], k: Int = 1024, salt: String = "qsk"): FoldMonitor =
    FoldMonitor("sketchQuantileMonitor",
      _.select(col(idCol).cast("long").as("id"),
        col(valueCol).cast("double").as("v")),
      sketchStateOf(_, "v", "id", k, salt), foldSketchState(_, _, k),
      sketchQuantileReport(_, data, valueCol, ps, k))

  /** PER-GROUP mergeable quantile sketch state — [[sketchStateOf]]
    * keyed by a group column ("the sketched p90 per language") with
    * the same identity contract (bottom-k rows by portable
    * (hash, id), id carried as the hashed STRING form) applied within
    * each group.
    *
    * Scale shape: NOT a global TakeOrdered and NOT a per-group window
    * sort (which would shuffle every row of a group to one task) —
    * the bounded-heap Aggregator
    * ([[graft.functions.Aggregators.BottomKByHash]], the topKPerGroup
    * discipline) reduces each map task's slice to ≤ k rows per group
    * BEFORE the shuffle, so the exchange carries O(k × partitions)
    * rows per group however skewed the group is, and group
    * cardinality stays unbounded — nothing per-group ever reaches the
    * driver. NULL ids and duplicate ids WITHIN a group are rejected
    * loudly (the pooled sketch's probes, group-scoped); NULL group is
    * its own group ([[exactQuantilesByGroup]]'s rule).
    *
    * Output: (`__qg` string, `__qh`, `__qid`, `__qv`) — ≤ k rows per
    * group. Fold states with [[foldSketchStateByGroup]]. */
  def sketchStateByGroup(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      k: Int = 1024, salt: String = "qsk"): DataFrame = {
    require(k >= 16 && k <= 65536,
      s"quantile sketch k ($k) must be in [16, 65536]")
    TempCols.reserve(df, "sketchStateByGroup",
      "__qg", "__qh", "__qid", "__qv")
    val base = df.filter(col(valueCol).isNotNull)
    // ONE identity-audit pass (see sketchStateOf): nulls and dups
    // detected in the same (group, id)-count aggregation.
    val bad = base.groupBy(col(groupCol), col(idCol))
      .agg(count(lit(1)).as("__c"))
      .filter(col(idCol).isNull || col("__c") > 1L)
      .agg(coalesce(max(when(col(idCol).isNull, lit(1)).otherwise(lit(0))),
        lit(0)).as("__hasNull"), count(lit(1)).as("__nbad"))
      .head()
    require(bad.getInt(0) == 0,
      s"quantile sketch: NULL $idCol rows have no stable membership")
    require(bad.getLong(1) == 0L,
      s"quantile sketch: duplicate ($groupCol, $idCol) values — " +
        "(hash, id) is the row identity within a group, so duplicates " +
        "would make the retained value an arbitrary pick")
    val bk = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.BottomKByHash(k),
      org.apache.spark.sql.Encoders
        .product[graft.functions.Aggregators.HashRow])
    base.select(col(groupCol).cast("string").as("__qg"),
        graft.functions.TextFunctions.portableTokenHash32(
          concat(lit(salt), lit(":"), col(idCol).cast("string")))
          .as("__qh"),
        col(idCol).cast("string").as("__qid"),
        col(valueCol).cast("double").as("__qv"))
      .groupBy("__qg")
      .agg(bk(col("__qh"), col("__qid"), col("__qv")).as("__rows"))
      .select(col("__qg"), explode(col("__rows")).as("__e"))
      .select(col("__qg"), col("__e.h").as("__qh"),
        col("__e.id").as("__qid"), col("__e.v").as("__qv"))
  }

  /** Fold two per-group sketch states: union, dedup on
    * (group, hash, id) — the value is functionally dependent on the
    * identity — then per-group min-k through the same bounded-heap
    * aggregator. Min-k over identities is associative, commutative,
    * AND idempotent per group, so the fold provably equals the batch
    * state whatever the split (the [[foldSketchState]] proof, keyed).
    * Inputs are ≤ k rows per group each. */
  def foldSketchStateByGroup(
      base: DataFrame, delta: DataFrame, k: Int): DataFrame = {
    val bk = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.BottomKByHash(k),
      org.apache.spark.sql.Encoders
        .product[graft.functions.Aggregators.HashRow])
    base.unionByName(delta).dropDuplicates("__qg", "__qh", "__qid")
      .groupBy("__qg")
      .agg(bk(col("__qh"), col("__qid"), col("__qv")).as("__rows"))
      .select(col("__qg"), explode(col("__rows")).as("__e"))
      .select(col("__qg"), col("__e.h").as("__qh"),
        col("__e.id").as("__qid"), col("__e.v").as("__qv"))
  }

  /** Per-group quantile estimates off a [[sketchStateByGroup]] state,
    * each group gated against ITS OWN exact ranks and DKW envelope —
    * [[sketchQuantileReport]] keyed, with every step IN the plan
    * (group cardinality unbounded, nothing per-group on the driver):
    * the per-group sample collapses to ONE sorted ≤ k-element array
    * (`sort_array(collect_list(...))` — k-bounded by construction, the
    * bounded-model-table discipline), order statistics are
    * `element_at` picks, and the exact rank counts ride one NULL-safe
    * broadcast-shaped join of the data against the one-row-per-group
    * estimate table followed by one aggregation. Estimates are
    * verbatim data values; ranks/bounds exact longs — no rounding
    * anywhere.
    *
    * Output: one row per (group, p) — (`g`, `p`, `n`, `sample_m`,
    * `est`, `rank_abs_err`, `within_bound` with the per-group bound
    * `⌈t·n_g/√k⌉`), ordered by (g, p). */
  def sketchQuantileReportByGroup(
      state: DataFrame, data: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double], k: Int = 1024,
      t: Double = 4.0): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile sketch: probabilities ${ps.mkString(",")} outside (0, 1]")
    val perG = state.groupBy(col("__qg"))
      .agg(sort_array(collect_list(col("__qv"))).as("__vs"),
        count(lit(1)).as("__m"))
    val estCols = ps.zipWithIndex.map { case (p, i) =>
      element_at(col("__vs"),
        greatest(lit(1L), least(col("__m"),
          ceil(lit(p) * col("__m")))).cast("int")).as(s"__e$i")
    }
    val ests = perG.select(
      (col("__qg").as("__qg2") +: col("__m").as("__m2") +: estCols): _*)
    val vals = data.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__qg"),
        col(valueCol).cast("double").as("__v"))
    // NULL-safe equality: NULL is its own group and must not drop
    val joined = vals.join(ests, col("__qg") <=> col("__qg2"))
    val aggs = Seq(count(lit(1)).as("__n"),
        first(col("__m2")).as("__m")) ++
      ps.indices.map(i =>
        sum(when(col("__v") <= col(s"__e$i"), 1L).otherwise(0L))
          .as(s"__r$i")) ++
      ps.indices.map(i => first(col(s"__e$i")).as(s"__est$i"))
    val r = joined.groupBy(col("__qg")).agg(aggs.head, aggs.tail: _*)
    val rows = explode(array(ps.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"), col(s"__est$i").as("est"),
        col(s"__r$i").as("rank"))
    }: _*))
    r.select(col("__qg").as("g"), col("__n").as("n"),
        col("__m").as("sample_m"), rows.as("__x"))
      .select(col("g"), col("__x.p").as("p"), col("n"),
        col("sample_m"), col("__x.est").as("est"),
        abs(col("__x.rank") - ceil(col("__x.p") * col("n")))
          .as("rank_abs_err"))
      .withColumn("within_bound",
        col("rank_abs_err") <=
          ceil(lit(t) * col("n") / lit(math.sqrt(k.toDouble))))
      .orderBy("g", "p")
  }

  /** One-shot per-group sketch-quantile report:
    * [[sketchStateByGroup]] + [[sketchQuantileReportByGroup]] over the
    * same frame. */
  def sketchQuantilesByGroup(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      ps: Seq[Double], k: Int = 1024, salt: String = "qsk"): DataFrame =
    sketchQuantileReportByGroup(
      sketchStateByGroup(df, groupCol, valueCol, idCol, k, salt),
      df, groupCol, valueCol, ps, k)

  /** [[sketchQuantilesByGroup]] as a [[FoldMonitor]]: the keyed min-k
    * fold ([[foldSketchStateByGroup]]) is associative, commutative and
    * idempotent per group. Ids ride as strings end to end (the hashed
    * form), so a micro-batch's hash equals the batch hash byte for
    * byte. `data` as in [[sketchQuantileMonitor]]. */
  def groupSketchQuantileMonitor(data: DataFrame, groupCol: String,
      valueCol: String, idCol: String, ps: Seq[Double], k: Int = 1024,
      salt: String = "qsk"): FoldMonitor =
    FoldMonitor("groupSketchQuantileMonitor",
      _.select(col(groupCol).cast("string").as("g"),
        col(idCol).cast("string").as("id"),
        col(valueCol).cast("double").as("v")),
      sketchStateByGroup(_, "g", "v", "id", k, salt),
      foldSketchStateByGroup(_, _, k),
      sketchQuantileReportByGroup(_, data, groupCol, valueCol, ps, k))

  /** PER-GROUP exact discrete quantiles — [[exactQuantiles]] keyed by
    * a group ("the p90 document length per language") WITHOUT a
    * group-partitioned window over the value grid: for a continuous
    * column the distinct-value grid is row-sized, so one skewed group
    * would single-task its window partition. Instead the grid rides
    * ONE global range-partitioned prefix sum over (group, value) and
    * each row's per-group cumulative mass is recovered as
    * `global_prefix − group_offset + cnt` (the
    * withContiguousRowIdsPerGroup trick applied to running totals —
    * the offset is a group-bounded MIN join). Rank targets
    * `max(⌈p·W_g⌉, 1)` are computed IN the plan (per-group totals are
    * columns, never driver scalars — group cardinality stays
    * unbounded), and the covering value is a map-side-combined MIN
    * per (group, p). Discrete, verbatim-input answers — the
    * [[exactQuantilesFromCounts]] no-interpolation contract. NULL is
    * its own group. Output: (`groupCol`, `p`, `n`, `q`) ordered by
    * (group, p), group read back as STRING. */
  def exactQuantilesByGroup(
      df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame =
    groupQuantilesFromCounts(groupSideCounts(df, groupCol, valueCol),
      groupCol, ps)

  /** PER-GROUP exact two-sample KS drift — [[ksStatistic]] keyed by a
    * slice column ("did the value distribution drift WITHIN each event
    * type?"), the drill-down under the corpus-wide alarm (a drift
    * confined to one slice dilutes linearly in the pooled statistic).
    * Per-group CDFs WITHOUT a per-group window sort: the merged
    * two-sided grid rides ONE global range-partitioned prefix sum over
    * (group, value) per side, and each row's group-local cumulative is
    * recovered as `global_prefix − group_offset + count` (the
    * [[exactQuantilesByGroup]] trick, twice). Group totals are
    * columns, never driver scalars — group cardinality unbounded. A
    * group present on only ONE side reports NULL ks6 (no CDF to
    * compare) instead of failing the whole report. NULL is its own
    * group; NULL values are excluded (no position on the value line).
    *
    * Output: one row per group — (`g` as STRING, `n_ref`, `n_cur`,
    * `ks6`), ordered by group. */
  def ksByGroup(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame =
    ksByGroupFromCounts(
      groupSideCounts(ref, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
      groupSideCounts(cur, groupCol, valueCol).withColumnRenamed("cnt", "cb"))

  /** [[ksByGroup]]'s arithmetic over two prepared group-keyed count
    * tables (`(__g, v, ca)` / `(__g, v, cb)`) — shared verbatim by the
    * batch operator and the streaming monitor
    * ([[groupKsDriftMonitor]]). The two-sided merge is a
    * UNION + re-aggregation (never a null-unsafe join — a NULL group
    * must meet itself). */
  private[graft] def ksByGroupFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val m = refCounts.select(col("__g"), col("v"), col("ca"), lit(0L).as("cb"))
      .unionByName(
        curCounts.select(col("__g"), col("v"), lit(0L).as("ca"), col("cb")))
      .groupBy("__g", "v")
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val pre = General.withRunningTotal(
      General.withRunningTotal(m, Seq("__g", "v"), "ca", "__preA"),
      Seq("__g", "v"), "cb", "__preB")
    val offs = pre.groupBy("__g").agg(
      min(col("__preA")).as("__offA"), min(col("__preB")).as("__offB"),
      sum(col("ca")).as("__na"), sum(col("cb")).as("__nb"))
    val cum = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"),
        (col("__preA") - col("__offA") + col("ca")).as("__ca"),
        (col("__preB") - col("__offB") + col("cb")).as("__cb"),
        col("__na"), col("__nb"))
    cum.groupBy("__g")
      .agg(max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
        // the one-sided guard sits INSIDE the row expression: ANSI
        // mode turns 0-total divisions into errors, not NaNs, and a
        // single one-sided group must not abort the whole report
        max(when(col("__na") > 0L && col("__nb") > 0L,
          abs(col("__ca").cast("double") / col("__na").cast("double")
            - col("__cb").cast("double") / col("__nb").cast("double"))))
          .as("__d"))
      .select(col("__g").as("g"), col("n_ref"), col("n_cur"),
        round(col("__d"), 6).as("ks6"))
      .orderBy("g")
  }

  /** PER-GROUP exact 1-Wasserstein drift — [[wassersteinDistance]]
    * keyed by a slice column, completing the per-group drift pair
    * next to [[ksByGroup]] ("not just whether each event type's
    * values drifted, but how FAR each type's mass moved").
    * Group-local exclusive prefixes ride the ksByGroup machinery
    * (one global range-partitioned prefix sum per side, group offsets
    * recovered by a group-bounded MIN join); the previous grid value
    * comes from TWO distributed lags ([[General.withPrevValue]] on
    * the value AND on the group — a term only fires when the lagged
    * group null-safe-equals the row's group, so group boundaries
    * never leak a gap). One-sided groups report NULL w1_6; a
    * both-sided group whose grid is a single value reports 0 (its
    * only row has no predecessor — the COALESCE is semantic, not
    * cosmetic). NULL is its own group; NULL values excluded.
    *
    * Output: one row per group — (`g` as STRING, `n_ref`, `n_cur`,
    * `w1_6`), ordered by group. */
  def wassersteinByGroup(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame =
    wassersteinByGroupFromCounts(
      groupSideCounts(ref, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
      groupSideCounts(cur, groupCol, valueCol).withColumnRenamed("cnt", "cb"))

  /** [[wassersteinByGroup]]'s arithmetic over two prepared group-keyed
    * count tables — shared verbatim by the batch operator and the
    * streaming monitor ([[groupWassersteinDriftMonitor]]). */
  private[graft] def wassersteinByGroupFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val m = refCounts.select(col("__g"), col("v"), col("ca"), lit(0L).as("cb"))
      .unionByName(
        curCounts.select(col("__g"), col("v"), lit(0L).as("ca"), col("cb")))
      .groupBy("__g", "v")
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val pre = General.withRunningTotal(
      General.withRunningTotal(m, Seq("__g", "v"), "ca", "__preA"),
      Seq("__g", "v"), "cb", "__preB")
    val lagged = General.withPrevValue(
      General.withPrevValue(pre, Seq("__g", "v"), "v", "__pv"),
      Seq("__g", "v"), "__g", "__pg")
    val offs = lagged.groupBy("__g").agg(
      min(col("__preA")).as("__offA"), min(col("__preB")).as("__offB"),
      sum(col("ca")).as("__na"), sum(col("cb")).as("__nb"))
    val cum = lagged.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("v"), col("__pv"),
        col("__l.__pg").as("__pg"),
        (col("__preA") - col("__offA")).as("__pa"),
        (col("__preB") - col("__offB")).as("__pb"),
        col("__na"), col("__nb"))
    // a term fires only INSIDE a group (lagged group == group) and on
    // two-sided groups (the ANSI zero-division guard, in-row)
    val term = when(col("__pg") <=> col("__g") &&
        col("__na") > 0L && col("__nb") > 0L,
      round(abs(col("__pa").cast("double") / col("__na").cast("double")
          - col("__pb").cast("double") / col("__nb").cast("double")) *
          (col("v") - col("__pv")), 12).cast("decimal(38,12)"))
    cum.groupBy("__g")
      .agg(max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
        sum(term).as("__t"))
      .select(col("__g").as("g"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          round(coalesce(col("__t"), lit(0).cast("decimal(38,12)"))
            .cast("double"), 6)).as("w1_6"))
      .orderBy("g")
  }

  /** PER-GROUP Mann–Whitney U with Cliff's delta — [[mannWhitney]]
    * keyed by a slice column, completing the per-slice drift matrix
    * (KS, W1, CvM, MWU — whether / how far / shape-weighted / which
    * direction, each per group): `2U` per group stays an exact
    * integer through widened decimals off ONE group-local prefix of
    * the current-side counts, tie cubes through decimals, and the
    * tie-corrected z / effect-size readouts run fully IN-PLAN (group
    * totals are columns — group cardinality unbounded). One-sided
    * groups report NULL statistics; a degenerate per-group variance
    * reports NULL z. NULL is its own group; NULL values excluded.
    *
    * Output: one row per group — (`g` as STRING, `n_ref`, `n_cur`,
    * `u_x2`, `cliffs_delta6`, `z6`), ordered by group. */
  def mannWhitneyByGroup(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame =
    mannWhitneyByGroupFromCounts(
      groupSideCounts(ref, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
      groupSideCounts(cur, groupCol, valueCol).withColumnRenamed("cnt", "cb"))

  /** [[mannWhitneyByGroup]]'s arithmetic over two prepared group-keyed
    * count tables — shared verbatim by the batch operator and the
    * streaming monitor ([[groupMannWhitneyMonitor]]). */
  private[graft] def mannWhitneyByGroupFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val m = refCounts.select(col("__g"), col("v"), col("ca"), lit(0L).as("cb"))
      .unionByName(
        curCounts.select(col("__g"), col("v"), lit(0L).as("ca"), col("cb")))
      .groupBy("__g", "v")
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val pre = General.withRunningTotal(m, Seq("__g", "v"), "cb", "__preB")
    val offs = pre.groupBy("__g").agg(min(col("__preB")).as("__offB"),
      sum(col("ca")).as("__na"), sum(col("cb")).as("__nb"))
    val cum = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("ca"), col("cb"),
        (col("__preB") - col("__offB")).as("__pb"),
        col("__na"), col("__nb"))
    val ties = col("ca") + col("cb")
    val agg = cum.groupBy("__g").agg(
      max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
      coalesce(sum(col("ca").cast("decimal(19,0)") *
        (col("__pb") * lit(2L) + col("cb")).cast("decimal(19,0)")),
        lit(0).cast("decimal(38,0)")).as("__u2"),
      coalesce(sum(ties.cast("decimal(19,0)") * ties.cast("decimal(19,0)") *
        ties.cast("decimal(19,0)") - ties.cast("decimal(19,0)")),
        lit(0).cast("decimal(38,0)")).as("__tie"))
    val nad = col("n_ref").cast("double")
    val nbd = col("n_cur").cast("double")
    val n = nad + nbd
    val u2d = col("__u2").cast("double")
    val tied = col("__tie").cast("double")
    // the n>1 guard is explicit, not left to &&-short-circuit: a
    // one-sided single-row group has n(n-1)=0 and ANSI mode errors on
    // the double division instead of producing a NaN to discard
    val tieTerm = when(n > 1.0, tied / (n * (n - lit(1.0))))
      .otherwise(lit(0.0))
    val varU = nad * nbd / lit(12.0) * ((n + lit(1.0)) - tieTerm)
    val bothSided = col("n_ref") > 0L && col("n_cur") > 0L
    agg.select(col("__g").as("g"), col("n_ref"), col("n_cur"),
        when(bothSided, u2d).as("u_x2"),
        when(bothSided, round(u2d / (nad * nbd) - lit(1.0), 6))
          .as("cliffs_delta6"),
        when(bothSided && varU > 0.0,
          round((u2d / lit(2.0) - nad * nbd / lit(2.0)) / sqrt(varU), 6))
          .as("z6"))
      .orderBy("g")
  }

  /** PER-GROUP Cramér–von Mises drift — [[cramerVonMises]] keyed by a
    * slice column: each group's squared CDF gap integrated against
    * its own pooled distribution, fully in-plan off the shared
    * group-local prefix machinery (the ksByGroup shape with the gap
    * squared and mass-weighted). One-sided groups report NULL. NULL
    * is its own group; NULL values excluded.
    *
    * Output: one row per group — (`g` as STRING, `n_ref`, `n_cur`,
    * `cvm6`), ordered by group. */
  def cramerVonMisesByGroup(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame =
    cvmByGroupFromCounts(
      groupSideCounts(ref, groupCol, valueCol).withColumnRenamed("cnt", "ca"),
      groupSideCounts(cur, groupCol, valueCol).withColumnRenamed("cnt", "cb"))

  /** [[cramerVonMisesByGroup]]'s arithmetic over two prepared
    * group-keyed count tables — shared verbatim by the batch operator
    * and the streaming monitor ([[groupCvmDriftMonitor]]). */
  private[graft] def cvmByGroupFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val m = refCounts.select(col("__g"), col("v"), col("ca"), lit(0L).as("cb"))
      .unionByName(
        curCounts.select(col("__g"), col("v"), lit(0L).as("ca"), col("cb")))
      .groupBy("__g", "v")
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val pre = General.withRunningTotal(
      General.withRunningTotal(m, Seq("__g", "v"), "ca", "__preA"),
      Seq("__g", "v"), "cb", "__preB")
    val offs = pre.groupBy("__g").agg(
      min(col("__preA")).as("__offA"), min(col("__preB")).as("__offB"),
      sum(col("ca")).as("__na"), sum(col("cb")).as("__nb"))
    val cum = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("ca"), col("cb"),
        (col("__preA") - col("__offA") + col("ca")).as("__ca"),
        (col("__preB") - col("__offB") + col("cb")).as("__cb"),
        col("__na"), col("__nb"))
    val d = col("__ca").cast("double") / col("__na").cast("double") -
      col("__cb").cast("double") / col("__nb").cast("double")
    val term = when(col("__na") > 0L && col("__nb") > 0L,
      round((col("ca") + col("cb")).cast("double") * (d * d), 12)
        .cast("decimal(38,12)"))
    val nad = col("n_ref").cast("double")
    val nbd = col("n_cur").cast("double")
    val n = nad + nbd
    cum.groupBy("__g")
      .agg(max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
        sum(term).as("__t"))
      .select(col("__g").as("g"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          round(nad * nbd / (n * n) *
            coalesce(col("__t"), lit(0).cast("decimal(38,12)"))
              .cast("double"), 6)).as("cvm6"))
      .orderBy("g")
  }

  /** One batch's per-group value-count state `(__g, v, cnt)` — the
    * [[ksSideCounts]] shape keyed by group, NULL group and NULL-safe
    * grouping included; the seed the per-group quantile maintenance
    * matrix folds. */
  private[graft] def groupSideCounts(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("__g", "v").agg(count(lit(1)).as("cnt"))

  /** The per-group count-state fold — [[foldValueCounts]] keyed by
    * group: union + one grid-bounded re-aggregation, counts merge by
    * SUM (associative and commutative), so the per-group batch,
    * incremental, and streaming quantile readouts are three
    * formulations of one ground truth — exactly the corpus-wide
    * argument, group-keyed. */
  def foldGroupValueCounts(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__g", "v")
      .agg(sum(col("cnt")).as("cnt"))

  /** A [[FoldMonitor]] over the `(__g, v, cnt)` state of `valueCol` per
    * `groupCol`: one maintained group grid serves the whole per-group
    * drift, quantile and concentration family. */
  private[graft] def groupValueCountMonitor(
      name: String, groupCol: String, valueCol: String)(
      readout: DataFrame => DataFrame): FoldMonitor =
    FoldMonitor(name, _.select(groupCol, valueCol),
      groupSideCounts(_, groupCol, valueCol), foldGroupValueCounts, readout)

  /** A per-group two-sample monitor: `fromCounts` over the reference's
    * `(__g, v, ca)` counts and the folded state as `(__g, v, cb)`. */
  private def groupTwoSampleMonitor(name: String, reference: DataFrame,
      groupCol: String, valueCol: String)(
      fromCounts: (DataFrame, DataFrame) => DataFrame): FoldMonitor =
    groupValueCountMonitor(name, groupCol, valueCol)(state => fromCounts(
      groupSideCounts(reference, groupCol, valueCol)
        .withColumnRenamed("cnt", "ca"),
      state.withColumnRenamed("cnt", "cb")))

  /** [[ksByGroup]] as a monitor. */
  def groupKsDriftMonitor(reference: DataFrame, groupCol: String,
      valueCol: String): FoldMonitor =
    groupTwoSampleMonitor("groupKsDriftMonitor", reference, groupCol,
      valueCol)(ksByGroupFromCounts)

  /** [[wassersteinByGroup]] as a monitor. */
  def groupWassersteinDriftMonitor(reference: DataFrame, groupCol: String,
      valueCol: String): FoldMonitor =
    groupTwoSampleMonitor("groupWassersteinDriftMonitor", reference,
      groupCol, valueCol)(wassersteinByGroupFromCounts)

  /** [[mannWhitneyByGroup]] as a monitor. */
  def groupMannWhitneyMonitor(reference: DataFrame, groupCol: String,
      valueCol: String): FoldMonitor =
    groupTwoSampleMonitor("groupMannWhitneyMonitor", reference, groupCol,
      valueCol)(mannWhitneyByGroupFromCounts)

  /** [[cramerVonMisesByGroup]] as a monitor. */
  def groupCvmDriftMonitor(reference: DataFrame, groupCol: String,
      valueCol: String): FoldMonitor =
    groupTwoSampleMonitor("groupCvmDriftMonitor", reference, groupCol,
      valueCol)(cvmByGroupFromCounts)

  /** [[quantileShiftByGroup]] as a monitor. */
  def groupQuantileShiftMonitor(reference: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double]): FoldMonitor =
    groupValueCountMonitor("groupQuantileShiftMonitor", groupCol, valueCol)(
      state => quantileShiftByGroupFromCounts(
        groupSideCounts(reference, groupCol, valueCol), state, groupCol, ps))

  /** [[exactQuantilesByGroup]] as a monitor: per-language percentiles
    * that stay current as the crawl lands. */
  def groupQuantileMonitor(
      groupCol: String, valueCol: String, ps: Seq[Double]): FoldMonitor =
    groupValueCountMonitor("groupQuantileMonitor", groupCol, valueCol)(
      groupQuantilesFromCounts(_, groupCol, ps))

  /** PER-GROUP WEIGHT-MASS quantiles — the composite of
    * [[weightedExactQuantiles]]'s mass semantics and
    * [[exactQuantilesByGroup]]'s skew-proof machinery ("the p90 doc
    * length PER LANGUAGE, weighted by token mass" — the per-slice
    * number that prices a per-language max_seq_len choice): each
    * row carries `weightCol` units of mass, the per-group count state
    * is seeded with weight SUMS, and the answer at (g, p) is the
    * value covering weighted rank ⌈p·W_g⌉ within the group. The
    * weight contract is [[weightedExactQuantiles]]'s verbatim —
    * non-negative integers loudly enforced, zero/NULL mass drops —
    * and the readout is ONE global range-partitioned prefix sum over
    * the (group, value) grid, rank targets in-plan, group cardinality
    * unbounded. Output: (`groupCol`, `p`, `n`, `q`) ordered by
    * (group, p) — `n` the group's total MASS. */
  def weightedExactQuantilesByGroup(
      df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, ps: Seq[Double]): DataFrame =
    groupQuantilesFromCounts(
      df.filter(col(valueCol).isNotNull &&
          col(weightCol).isNotNull && col(weightCol) =!= 0)
        .select(col(groupCol).cast("string").as("__g"),
          col(valueCol).cast("double").as("v"),
          integerMass("weightedExactQuantilesByGroup", df, weightCol,
            valueCol).as("cnt"))
        .groupBy("__g", "v").agg(sum(col("cnt")).as("cnt")),
      groupCol, ps)

  /** The shared per-group discrete-rank readout over a prepared
    * `(__g, v, cnt)` count state — [[exactQuantilesByGroup]] verbatim,
    * factored so the weighted variant and the incremental/streaming
    * maintenance paths reuse the one global range-partitioned prefix
    * sum + in-plan rank targets. */
  private[graft] def groupQuantilesFromCounts(
      counts: DataFrame, groupCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "exactQuantilesByGroup needs probabilities")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"probabilities must be in (0, 1]: $ps")
    require(ps.distinct.size == ps.size, s"duplicate probabilities: $ps")
    val pre = General.withRunningTotal(counts, Seq("__g", "v"), "cnt", "__pre")
    val offs = pre.groupBy("__g")
      .agg(min(col("__pre")).as("__off"), sum(col("cnt")).as("__w"))
    val cum = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("v"),
        (col("__pre") - col("__off") + col("cnt")).as("__cum"),
        col("__w"))
    cum.select(col("__g"), col("v"), col("__cum"), col("__w"),
        explode(array(ps.map(lit): _*)).as("p"))
      .filter(col("__cum") >=
        greatest(ceil(col("p") * col("__w").cast("double")), lit(1L)))
      .groupBy(col("__g"), col("p"))
      .agg(max(col("__w")).as("n"), min(col("v")).as("q"))
      .select(col("__g").as(groupCol), col("p"), col("n"), col("q"))
      .orderBy(groupCol, "p")
  }

  /** WEIGHT-MASS quantiles off the same machinery: each row carries
    * `weightCol` units of mass, and the answer at `p` is the value
    * covering weighted rank ⌈p·W⌉ (W = total mass) — "the sequence
    * length below which 90% of the TOKENS sit", the number that
    * actually prices a `max_seq_len` choice, versus the per-document
    * quantile that lets a million short docs outvote the token mass.
    * Weights must be non-negative integers (exactness of the folded
    * ECDF): a negative OR fractional weight fails LOUDLY at scan time
    * (a fractional-typed weight column is validated value-by-value —
    * never silently truncated), zero/NULL weights carry no mass and
    * drop. Same scale shape as [[exactQuantiles]] — the count state
    * is just seeded with weight sums, and still folds by SUM for the
    * incremental/streaming variants. */
  def weightedExactQuantiles(
      df: DataFrame, valueCol: String, weightCol: String,
      ps: Seq[Double]): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) =!= 0)
      .select(col(valueCol).cast("double").as("v"),
        integerMass("weightedExactQuantiles", df, weightCol, valueCol)
          .as("cnt"))
      .groupBy("v").agg(sum(col("cnt")).as("cnt"))
    exactQuantilesFromCounts(counts, ps)
  }

  /** The weight contract of the weighted-quantile family as one
    * validated long column: non-negative, and INTEGRAL — an
    * integral-typed weight column only needs the sign guard (its type
    * proves integrality), while a fractional/decimal one is checked
    * value-by-value (`w === floor(w)`) so a 2.7 fails loudly instead
    * of silently truncating to 2 and quietly shifting every mass rank
    * above it. */
  private def integerMass(
      op: String, df: DataFrame, weightCol: String,
      valueCol: String): Column = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralType = df.schema(weightCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val w = col(weightCol)
    val guarded =
      if (integralType)
        when(w >= 0, w).otherwise(raise_error(concat(
          lit(s"$op: negative weight "), w.cast("string"),
          lit(" for value "), col(valueCol).cast("string"))))
      else
        when(w >= 0 && w === floor(w), w).otherwise(raise_error(concat(
          lit(s"$op: weight must be a non-negative integer, got "),
          w.cast("string"), lit(" for value "),
          col(valueCol).cast("string"))))
    guarded.cast("long")
  }

  /** Categorical association audit over two columns — the
    * composition-dependence readout a mixture pipeline needs before
    * trusting a marginal report ("is language independent of source?
    * is quality tier independent of crawl snapshot?"): the chi-square
    * independence statistic over the FULL r×c contingency grid
    * (structural zero cells included — an observed-cells-only sum
    * understates X² by exactly the missing cells' expected mass),
    * Cramér's V (the [0,1]-normalized effect size X²/(n·min(r−1,c−1))
    * under a square root — comparable across table shapes), and the
    * mutual information in nats (Σ p_ab·ln(p_ab/(p_a·p_b)), zero
    * cells contributing their correct limit 0). NULL is its own
    * category on both axes (the window-PARTITION BY convention
    * elsewhere) — null-safe joins throughout.
    *
    * Scale shape: ONE corpus pass builds the joint contingency table,
    * checkpointed (cells-bounded — categories × categories, not
    * rows); marginals, the full grid (a cells-bounded cross join —
    * the one cross join in this file, and it is |A|×|B| by
    * construction), and both statistics never rescan facts. Per-cell
    * terms round at 12 and accumulate through DECIMAL (the zipfFit
    * discipline — fold-order-exact on any engine), the readout rides
    * the 6dp gate. Degenerate axes are well-defined, not special-
    * cased: a constant column gives dof 0, X² 0, MI 0, and NULL V
    * (0/0). Output: one row — (`n`, `dof`, `chi2_6`, `cramers_v6`,
    * `mi6`). */
  def categoricalAssociation(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    require(colA != colB,
      s"categoricalAssociation needs two distinct columns (got $colA twice)")
    // ONE corpus pass: the joint table; everything downstream is
    // cells-bounded, never a fact rescan
    associationFromJoint(
      df.select(col(colA).cast("string").as("__a"),
          col(colB).cast("string").as("__b"))
        .groupBy("__a", "__b").agg(count(lit(1)).as("__c")))
  }

  /** [[categoricalAssociation]]'s readout over a prepared joint count
    * table `(__a, __b, __c)` — shared VERBATIM by the batch operator
    * and the streaming monitor ([[associationMonitor]]), the
    * ksFromCounts discipline: joint
    * counts fold by SUM, so whoever accumulated the table reads the
    * identical statistics off it. Checkpoints the (cells-bounded)
    * input so the marginal/grid/term passes never recompute it. */
  private[graft] def associationFromJoint(jointCounts: DataFrame): DataFrame = {
    val spark = jointCounts.sparkSession
    Blocks.scoped { scope =>
      val joint = scope.checkpoint(jointCounts)
      val dims = joint.agg(coalesce(sum(col("__c")), lit(0L)).as("n"),
        countDistinct(struct(col("__a"))).as("r"),
        countDistinct(struct(col("__b"))).as("c")).head()
      val (n, r, c) = (dims.getLong(0), dims.getLong(1), dims.getLong(2))
      require(n > 0L, "categoricalAssociation: empty input")
      val grid = associationGrid(joint, n)
      def dsum(t: org.apache.spark.sql.Column) =
        sum(round(t, 12).cast("decimal(38,12)")).cast("double")
      val o = col("o")
      val e = col("e")
      val s = grid.agg(
        dsum((o - e) * (o - e) / e).as("chi2"),
        dsum(when(o > 0.0,
            (o / lit(n.toDouble)) * log(o / e))
          .otherwise(lit(0.0))).as("mi")).head()
      val (chi2, mi) = (s.getDouble(0), s.getDouble(1))
      val minDim = math.min(r, c) - 1L
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val v =
        if (minDim <= 0L) None // a constant axis: V is 0/0, reported NULL
        else Some(r6(math.sqrt(chi2 / (n.toDouble * minDim.toDouble))))
      import spark.implicits._
      Seq((n, (r - 1L) * (c - 1L), r6(chi2), v, r6(mi)))
        .toDF("n", "dof", "chi2_6", "cramers_v6", "mi6")
    }
  }

  /** The full r×c observed/expected grid behind
    * [[associationFromJoint]] — marginals from the joint, the ONE
    * cells-bounded cross join, structural zeros filled by the outer
    * join. Factored private[graft] so the plan-shape spec can PIN the
    * cells-bounded claim (the cross join's two inputs must be the
    * marginal AGGREGATES, never a fact scan): the public operator's
    * returned frame is a literal and escapes the returned-plan
    * audit. */
  private[graft] def associationGrid(joint: DataFrame, n: Long): DataFrame = {
    // explicit aliases: ra/rb derive from joint, so their __a/__b
    // attributes share expression ids with joint's — an unqualified
    // condition would self-reference
    val ra = joint.groupBy("__a").agg(sum(col("__c")).as("__na"))
    val rb = joint.groupBy("__b").agg(sum(col("__c")).as("__nb"))
    ra.alias("__ra")
      .crossJoin(rb.alias("__rb")) // cells-bounded BY CONSTRUCTION
      .join(joint.alias("__j"),
        col("__ra.__a") <=> col("__j.__a") &&
          col("__rb.__b") <=> col("__j.__b"),
        "left_outer")
      .select(coalesce(col("__j.__c"), lit(0L)).cast("double").as("o"),
        (col("__na").cast("double") * col("__nb").cast("double") /
          lit(n.toDouble)).as("e"))
  }

  /** PER-GROUP categorical association — [[categoricalAssociation]]
    * keyed by a slice column ("is language ⊥ source WITHIN each crawl
    * snapshot?"), the drill-down under the corpus-wide number, with
    * chi-square / Cramér's V / MI as IN-PLAN columns over per-group
    * joint tables — group cardinality stays unbounded, never a driver
    * loop over the one-row operator. Arithmetic is the batch
    * operator's verbatim per group: full r_g×c_g grid including
    * structural zeros (the per-group marginal join plays the cross
    * join's role, group-bounded by the equi-key), per-cell terms
    * 12dp-rounded decimal sums, readouts on the 6dp gate, a
    * constant-axis group reporting NULL V (0/0) — pinned by the
    * grouped == filtered-ungrouped equivalence spec. NULL is its own
    * category on both axes AND its own group.
    *
    * Scale shape: ONE corpus pass builds the per-group joint state
    * (cells-bounded: Σ_g r_g·c_g rows), checkpointed; marginals,
    * dims, the grid, and both statistics are joins/aggregations over
    * that bounded state keyed on (group[, category]) — facts are
    * never rescanned. The returned frame reads the joint checkpoint
    * ([[Blocks.release]] once consumed). Output: one row per group —
    * (`groupCol` as STRING, `n`, `dof`, `chi2_6`, `cramers_v6`,
    * `mi6`), ordered by group. */
  def categoricalAssociationByGroup(
      df: DataFrame, groupCol: String, colA: String,
      colB: String): DataFrame =
    Blocks.scoped { s =>
      associationByGroupFromJoint(
        s.checkpoint(groupJointCountsOf(df, groupCol, colA, colB)), groupCol)
    }

  /** One batch's GROUP-KEYED joint count table —
    * `(__g, __a, __b, __c)`, [[jointCountsOf]] with the group riding
    * along; folds with [[foldGroupJointCounts]]. */
  private[graft] def groupJointCountsOf(
      df: DataFrame, groupCol: String, colA: String,
      colB: String): DataFrame = {
    require(colA != colB,
      s"categoricalAssociationByGroup needs two distinct columns (got $colA twice)")
    require(groupCol != colA && groupCol != colB,
      s"the group column ($groupCol) must differ from both axes")
    df.select(col(groupCol).cast("string").as("__g"),
        col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .groupBy("__g", "__a", "__b").agg(count(lit(1)).as("__c"))
  }

  /** The group-keyed joint-state fold — [[foldJointCounts]] with the
    * group in the key: union + one cells-bounded re-aggregation,
    * counts merge by SUM, so the per-group batch, incremental, and
    * streaming association readouts are formulations of one ground
    * truth. */
  private[graft] def foldGroupJointCounts(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__g", "__a", "__b")
      .agg(sum(col("__c")).as("__c"))

  /** [[categoricalAssociationByGroup]] as a [[FoldMonitor]] over the
    * cells-bounded `(__g, __a, __b, __c)` state: is language ⊥ source
    * within each crawl snapshot, live? */
  def groupAssociationMonitor(
      groupCol: String, colA: String, colB: String): FoldMonitor =
    FoldMonitor("groupAssociationMonitor", _.select(groupCol, colA, colB),
      groupJointCountsOf(_, groupCol, colA, colB), foldGroupJointCounts,
      state => associationByGroupFromJoint(Blocks.checkpoint(state), groupCol))

  /** [[categoricalAssociationByGroup]]'s readout over accumulated
    * `(__g, __a, __b, __c)` state — shared verbatim by the batch
    * operator, the incremental fold, and the streaming monitor (the
    * caller owns checkpointing). */
  private[graft] def associationByGroupFromJoint(
      joint: DataFrame, groupCol: String): DataFrame = {
    val ra = joint.groupBy("__g", "__a").agg(sum(col("__c")).as("__na"))
    val rb = joint.groupBy("__g", "__b").agg(sum(col("__c")).as("__nb"))
    val dims = joint.groupBy("__g").agg(sum(col("__c")).as("__n"),
      countDistinct(struct(col("__a"))).as("__r"),
      countDistinct(struct(col("__b"))).as("__cc"))
    // qualified everywhere: ra/rb/dims all derive from joint, so bare
    // __g would self-reference (the associationGrid hazard, plus a
    // group key)
    val grid = ra.alias("__ra")
      .join(rb.alias("__rb"), col("__ra.__g") <=> col("__rb.__g"))
      .join(joint.alias("__j"),
        col("__ra.__g") <=> col("__j.__g") &&
          col("__ra.__a") <=> col("__j.__a") &&
          col("__rb.__b") <=> col("__j.__b"),
        "left_outer")
      .join(dims.alias("__d"), col("__ra.__g") <=> col("__d.__g"))
      .select(col("__ra.__g").as("__g"),
        col("__n"), col("__r"), col("__cc"),
        coalesce(col("__j.__c"), lit(0L)).cast("double").as("o"),
        (col("__na").cast("double") * col("__nb").cast("double") /
          col("__n").cast("double")).as("e"))
    def dsum(t: Column) =
      sum(round(t, 12).cast("decimal(38,12)")).cast("double")
    val o = col("o")
    val e = col("e")
    grid.groupBy("__g").agg(
        max(col("__n")).as("n"), max(col("__r")).as("__r"),
        max(col("__cc")).as("__cc"),
        dsum((o - e) * (o - e) / e).as("__chi2"),
        dsum(when(o > 0.0, (o / col("__n").cast("double")) * log(o / e))
          .otherwise(lit(0.0))).as("__mi"))
      .select(col("__g").as(groupCol), col("n"),
        ((col("__r") - 1L) * (col("__cc") - 1L)).as("dof"),
        round(col("__chi2"), 6).as("chi2_6"),
        // the constant-axis guard is load-bearing under ANSI mode:
        // unguarded, the 0/0 group would be a DIVIDE_BY_ZERO error
        when(least(col("__r"), col("__cc")) > 1L,
            round(sqrt(col("__chi2") / (col("n").cast("double") *
              (least(col("__r"), col("__cc")) - 1L).cast("double"))), 6))
          .otherwise(lit(null).cast("double")).as("cramers_v6"),
        round(col("__mi"), 6).as("mi6"))
      .orderBy(groupCol)
  }

  /** One batch's joint count table for the association family —
    * `(__a, __b, __c)`, NULL its own category on both axes. */
  private[graft] def jointCountsOf(
      df: DataFrame, colA: String, colB: String): DataFrame =
    df.select(col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))

  /** The joint-count state fold: union + one cells-bounded re-
    * aggregation; NULL categories group as themselves (groupBy
    * semantics), counts merge by SUM — associative and commutative,
    * so the batch, incremental, and streaming association readouts
    * are formulations of one ground truth. */
  private[graft] def foldJointCounts(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__a", "__b")
      .agg(sum(col("__c")).as("__c"))

  /** The (v, cnt) state fold — the q131 incremental-maintenance
    * algebra specialized to the value-count table: union + ONE
    * grid-bounded re-aggregation; the fact rows behind `base` are
    * never rescanned. Counts merge by SUM (associative AND
    * commutative), which is exactly why the batch, incremental, and
    * streaming quantile readouts are three formulations of one ground
    * truth. */
  def foldValueCounts(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("v").agg(sum(col("cnt")).as("cnt"))

  /** [[categoricalAssociation]] as a [[FoldMonitor]] over the joint
    * contingency counts (cells-bounded): the ingest-time
    * composition-dependence dashboard. */
  def associationMonitor(colA: String, colB: String): FoldMonitor =
    FoldMonitor("associationMonitor", _.select(colA, colB),
      jointCountsOf(_, colA, colB), foldJointCounts, associationFromJoint)

  /** A [[FoldMonitor]] over the (`v`, `cnt`) value counts of `valueCol`
    * (distinct-value-bounded): one maintained ECDF serves the whole
    * drift, quantile and concentration family. */
  private[graft] def valueCountMonitor(name: String, valueCol: String)(
      readout: DataFrame => DataFrame): FoldMonitor =
    FoldMonitor(name, _.select(valueCol), ksSideCounts(_, valueCol, "cnt"),
      foldValueCounts, readout)

  /** A two-sample monitor: `fromCounts` over the reference's (`v`,
    * `ca`) counts and the folded state as (`v`, `cb`). */
  private def twoSampleMonitor(name: String, reference: DataFrame,
      valueCol: String)(
      fromCounts: (DataFrame, DataFrame) => DataFrame): FoldMonitor =
    valueCountMonitor(name, valueCol)(state => fromCounts(
      ksSideCounts(reference, valueCol, "ca"),
      state.withColumnRenamed("cnt", "cb")))

  /** [[ksStatistic]] as a monitor. */
  def ksDriftMonitor(reference: DataFrame, valueCol: String): FoldMonitor =
    twoSampleMonitor("ksDriftMonitor", reference, valueCol)(ksFromCounts)

  /** [[wassersteinDistance]] as a monitor. */
  def wassersteinDriftMonitor(
      reference: DataFrame, valueCol: String): FoldMonitor =
    twoSampleMonitor("wassersteinDriftMonitor", reference, valueCol)(
      wassersteinFromCounts)

  /** [[mannWhitney]] as a monitor. */
  def mannWhitneyMonitor(reference: DataFrame, valueCol: String): FoldMonitor =
    twoSampleMonitor("mannWhitneyMonitor", reference, valueCol)(
      mannWhitneyFromCounts)

  /** [[cramerVonMises]] as a monitor. */
  def cvmDriftMonitor(reference: DataFrame, valueCol: String): FoldMonitor =
    twoSampleMonitor("cvmDriftMonitor", reference, valueCol)(cvmFromCounts)

  /** [[quantileShift]] as a monitor. */
  def quantileShiftMonitor(
      reference: DataFrame, valueCol: String, ps: Seq[Double]): FoldMonitor =
    valueCountMonitor("quantileShiftMonitor", valueCol)(state =>
      quantileShiftFromCounts(ksSideCounts(reference, valueCol, "cnt"),
        state, ps))

  /** [[exactQuantiles]] as a monitor. */
  def quantileMonitor(valueCol: String, ps: Seq[Double]): FoldMonitor =
    valueCountMonitor("quantileMonitor", valueCol)(
      exactQuantilesFromCounts(_, ps))
}
