package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group statistical normalization: z-scores and winsorization
  * (percentile clipping) — the feature-engineering / quality-score
  * conditioning steps of a training-data pipeline ("standardize the
  * quality score within each language", "clip document lengths at the
  * tail percentiles before length-weighted sampling"). No reference
  * counterpart — LLM-pipeline extensions.
  *
  * Shared scale shape: group statistics are ONE map-side-combined
  * aggregation whose output is bounded by the group count (languages,
  * sources, domains — thousands, not rows), joined back onto the
  * corpus. The join is deliberately UNHINTED: bounded-by-groups is
  * usually broadcastable and AQE will broadcast it runtime-measured,
  * but a forced broadcast() would bypass the size check and OOM on a
  * pathological high-cardinality grouping. The join is NULL-SAFE
  * (`<=>`), so a NULL group is its own stratum — exactly window
  * `PARTITION BY` semantics, no silently dropped rows. The
  * normalization itself is a map-only projection after the join.
  */
object Stats {

  /** Grouped percentile aggregation shared by the quantile family:
    * `exact = true` (the default, and what every oracle pins) is
    * Spark's `percentile` — linear-interpolated, sorts within each
    * group; `exact = false` swaps in `approx_percentile` (mergeable
    * t-digest-style sketch, no per-group sort, rank error bounded by
    * `n / accuracy`) — the 100 TB path, now a flag instead of a
    * comment, mirroring [[Profile.profile]]'s `exactDistinct`. The
    * approx result is cast to double (the sketch returns the input
    * type) so downstream fence/clip arithmetic is identical. */
  private def groupPercentiles(
      valueExpr: String,
      fracs: Seq[Double],
      exact: Boolean,
      accuracy: Int): org.apache.spark.sql.Column = {
    val arr = fracs.map(f => s"${f}D").mkString(", ")
    if (exact) expr(s"percentile($valueExpr, array($arr))")
    else expr(
      s"transform(approx_percentile($valueExpr, array($arr), $accuracy), " +
        "x -> cast(x as double))")
  }

  /** Null-safe group join: attach `stats`' non-group columns to every
    * `df` row whose group matches, NULL group = NULL group included. */
  private def joinOnGroups(
      df: DataFrame, stats: DataFrame, groupCols: Seq[String]): DataFrame = {
    val l = df.alias("__sl")
    val r = stats.alias("__sr")
    val cond = groupCols.map(c => col(s"__sl.$c") <=> col(s"__sr.$c"))
      .reduce(_ && _)
    val keep = df.columns.toSeq.map(c => col(s"__sl.$c")) ++
      stats.columns.toSeq.filterNot(groupCols.contains).map(c => col(s"__sr.$c"))
    l.join(r, cond).select(keep: _*)
  }

  /** Per-group z-score: `(value - mean_g) / stddev_samp_g` as `outCol`.
    * Groups with fewer than two rows or zero variance yield NULL (a
    * constant column carries no standardizable signal; NULL is honest
    * where 0/0 would be noise). Rows with a NULL value pass through
    * with a NULL score; a NULL group standardizes within its own
    * stratum (the null-safe join above), it is not dropped. */
  def zScore(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      outCol: String): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    TempCols.reserve(df, "zScore", "__mean", "__sd")
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(avg(col(valueCol)).as("__mean"), stddev_samp(col(valueCol)).as("__sd"))
    joinOnGroups(df, stats, groupCols)
      .withColumn(outCol,
        when(col("__sd") > 0, (col(valueCol) - col("__mean")) / col("__sd")))
      .drop("__mean", "__sd")
  }

  /** Winsorize `valueCol` per group: clip into the group's
    * [`lo`, `hi`] EXACT percentile bounds (linear interpolation) as
    * `outCol`. The robust-stats answer to heavy-tailed web data: a
    * handful of 100 MB documents stops dominating a mean length or a
    * length-weighted mixture once clipped at, say, the 1/16 and 15/16
    * percentiles. A NULL value stays NULL (least/greatest would
    * otherwise fabricate the lo bound for a missing measurement);
    * NULL groups clip within their own stratum.
    *
    * Exact `percentile` (the default) sorts within each group — the
    * oracle-checkable formulation (and why dyadic fractions like
    * 0.0625/0.9375 over integer values reproduce bit-for-bit across
    * engines: every interpolated bound is exactly representable).
    * `exact = false` swaps in `approx_percentile` (mergeable sketch,
    * no per-group sort, rank error <= n/`approxAccuracy`) — the
    * 100 TB path as a first-class flag; its bounds are
    * engine-specific, so the exact form remains what the oracle
    * pins. */
  /** Tukey IQR outlier flags per group: fences at
    * `[q1 − k·IQR, q3 + k·IQR]` from the group's EXACT quartiles
    * (linear interpolation, the [[winsorize]] percentile machinery),
    * each row flagged when its value falls outside. The robust
    * feature-QA screen: unlike z-scores the fences ignore the
    * outliers themselves, so one corrupt sensor reading cannot widen
    * its own acceptance band.
    *
    * Fences are ROUNDED to `roundDigits` before comparison (the q118
    * flag discipline): the flag compares against a value both engines
    * agree on bit-for-bit, so an interpolation ulp cannot flip a row
    * at the boundary. NULL values flag NULL (unknown, not outlier).
    *
    * Scale shape: exact `percentile` sorts within groups only, the
    * fences join back on the group keys unhinted (AQE broadcasts the
    * group-bounded bounds frame), flagging is map-only. For corpora
    * where per-group sorts hurt, `exact = false` swaps in
    * `approx_percentile` — same flag contract as [[winsorize]].
    *
    * Output: input columns + (lo_fence, hi_fence, is_outlier). */
  def iqrOutlierFlags(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Double = 1.5,
      roundDigits: Int = 6,
      exact: Boolean = true,
      approxAccuracy: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(k >= 0.0, s"k ($k) must be non-negative")
    require(approxAccuracy >= 1, s"approxAccuracy ($approxAccuracy) must be >= 1")
    TempCols.reserve(df, "iqrOutlierFlags", "__b", "__q1", "__q3")
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(groupPercentiles(valueCol, Seq(0.25, 0.75),
        exact, approxAccuracy).as("__b"))
      .select((groupCols.map(col) :+ element_at(col("__b"), 1).as("__q1")
        :+ element_at(col("__b"), 2).as("__q3")): _*)
    val iqr = col("__q3") - col("__q1")
    joinOnGroups(df, bounds, groupCols)
      .withColumn("lo_fence", round(col("__q1") - lit(k) * iqr, roundDigits))
      .withColumn("hi_fence", round(col("__q3") + lit(k) * iqr, roundDigits))
      .withColumn("is_outlier",
        when(col(valueCol).isNotNull,
          col(valueCol).cast("double") < col("lo_fence") ||
            col(valueCol).cast("double") > col("hi_fence")))
      .drop("__q1", "__q3")
  }

  def winsorize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      outCol: String,
      lo: Double = 0.0625,
      hi: Double = 0.9375,
      exact: Boolean = true,
      approxAccuracy: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(0 <= lo && lo < hi && hi <= 1, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
    require(approxAccuracy >= 1, s"approxAccuracy ($approxAccuracy) must be >= 1")
    TempCols.reserve(df, "winsorize", "__b", "__lo", "__hi")
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(groupPercentiles(valueCol, Seq(lo, hi),
        exact, approxAccuracy).as("__b"))
      .select((groupCols.map(col) :+ element_at(col("__b"), 1).as("__lo")
        :+ element_at(col("__b"), 2).as("__hi")): _*)
    joinOnGroups(df, bounds, groupCols)
      .withColumn(outCol,
        when(col(valueCol).isNotNull,
          least(greatest(col(valueCol).cast("double"), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Per-group quantile bucketing — the feature-binning transform
    * (equal-frequency discretization of a continuous quality signal
    * before it feeds a mixture weight, a stratified sample, or a
    * monotone-model feature): each row gets the 1-based bucket of its
    * value among the group's `buckets` exact-percentile cutpoints
    * (`i/buckets` for i in 1..buckets-1, linear interpolation).
    * Bucket = 1 + (number of cutpoints strictly below the value), so
    * a value exactly ON a cutpoint lands in the LOWER bucket — a
    * deterministic closed rule (unlike NTILE's row-count splitting,
    * which breaks ties by arbitrary row order). Cutpoints are ROUNDED
    * to `roundDigits` before comparison ([[iqrOutlierFlags]]'
    * discipline) so a cross-engine interpolation ulp cannot move a
    * row across a boundary. NULL values get a NULL bucket; NULL
    * groups bucket within their own stratum.
    *
    * Scale shape: one grouped percentile aggregation (group-bounded
    * output), the null-safe group join back (AQE broadcasts it), and
    * a map-only fold over the (buckets−1)-element cutpoint array.
    * `exact = false` swaps in `approx_percentile` cutpoints — the
    * [[winsorize]] flag contract.
    *
    * Output: input columns + `outCol` (int bucket 1..buckets). */
  def quantileBucketize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      buckets: Int,
      outCol: String,
      roundDigits: Int = 6,
      exact: Boolean = true,
      approxAccuracy: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(buckets >= 2, s"buckets ($buckets) must be >= 2")
    require(approxAccuracy >= 1, s"approxAccuracy ($approxAccuracy) must be >= 1")
    TempCols.reserve(df, "quantileBucketize", "__cuts")
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    val cuts = df.groupBy(groupCols.map(col): _*)
      .agg(transform(
        groupPercentiles(valueCol, fracs, exact, approxAccuracy),
        c => round(c, roundDigits)).as("__cuts"))
    joinOnGroups(df, cuts, groupCols)
      .withColumn(outCol,
        when(col(valueCol).isNotNull,
          (lit(1) + aggregate(col("__cuts"), lit(0),
            (acc, c) => acc +
              when(col(valueCol).cast("double") > c, 1).otherwise(0)))
            .cast("int")))
      .drop("__cuts")
  }

  /** Poisson(1) CDF as INTEGER cutoffs on the 32-bit portable hash:
    * `w = k` iff `hash < floor(CDF_k · 2^32)` first holds at k — so the
    * bootstrap weight is decided by exact integer comparisons that any
    * engine replays bit-identically (no float CDF in the hot path).
    * Tail capped at 6 (P(X>6) ≈ 8e-5 — immaterial to a CI). */
  private[graft] val poissonCuts: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L, 4292415291L)

  /** Deterministic bootstrap confidence interval for a mean — the
    * POISSON bootstrap, the at-scale variant of resampling: instead of
    * drawing n rows with replacement per replicate (which needs global
    * coordination), each row enters replicate `b` with weight
    * `w ~ Poisson(1)` decided by the portable hash of (salt, b, id) —
    * for large n the replicate is a with-replacement resample in
    * distribution, and the whole procedure is a pure function of
    * (salt, id): reruns and engines agree on every replicate.
    *
    * Per-replicate means accumulate per-term-rounded DECIMAL sums (the
    * [[graft.operators.Corpus.zipfFit]] discipline — fold-order-free),
    * the point estimate is the plain mean, and the interval is the
    * exact interpolated (alpha/2, 1−alpha/2) percentile pair over the
    * `nBoot` replicate means. NULL values are excluded (no value, no
    * resample weight).
    *
    * Scale shape: ONE corpus scan folds every row's `nBoot` weights in
    * a tight per-partition JVM loop ([[bootPartials]]) — no
    * row×replicate materialization at all (the explode shape pushed
    * n×nBoot rows through the whole row pipeline; kept as
    * [[bootstrapMeanCIExplode]] only as the equivalence-spec
    * reference). The shuffle carries `partitions × (nBoot+1)` partial
    * rows, the percentile runs over the nBoot-bounded means table, and
    * every partial is an EXACT decimal — addition is
    * order-independent, so the fold shape and the explode shape are
    * bit-identical by construction, not by luck. Output: one row —
    * (`n`, `n_boot`, `mean6`, `lo6`, `hi6`). */
  def bootstrapMeanCI(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      nBoot: Int = 100,
      alpha: Double = 0.05,
      salt: String = "boot"): DataFrame = Blocks.scoped { s =>
    require(nBoot >= 10, s"nBoot ($nBoot) must be >= 10 for a usable CI")
    require(alpha > 0.0 && alpha < 0.5, s"alpha ($alpha) must be in (0, 0.5)")
    // checkpoint of the (nBoot+1)-row aggregated state: the readout
    // reads it from THREE branches (means, base, percentile), and a
    // MapPartitions lambda defeats exchange reuse — without this the
    // corpus fold would run once per branch
    ciFromBootPartials(
      s.checkpoint(bootPartials(df, None, valueCol, idCol, nBoot, salt)),
      alpha)
  }

  /** The one-row CI readout over an accumulated (ungrouped)
    * [[bootPartials]] state frame — shared VERBATIM by
    * [[bootstrapMeanCI]] and the streaming monitor
    * ([[bootstrapMonitor]]): partials merge by exact decimal/long SUM,
    * so whoever accumulated the state (one scan, a delta fold, or a
    * file stream) reads the identical CI off it. */
  private[graft] def ciFromBootPartials(
      agg: DataFrame, alpha: Double): DataFrame = {
    val means = agg.filter(col("__b") >= 0 && col("__cnt") > 0)
      .select((col("__s").cast("double") / col("__cnt").cast("double"))
        .as("__m"))
    val base = agg.filter(col("__b") === -1)
      .select(col("__cnt").as("n"),
        (col("__s").cast("double") / col("__cnt").cast("double"))
          .as("__mean"))
    val lo = alpha / 2.0
    val hi = 1.0 - alpha / 2.0
    val ci = means.agg(
      expr(s"percentile(__m, ${lo}D)").as("__lo"),
      expr(s"percentile(__m, ${hi}D)").as("__hi"),
      count(lit(1)).as("n_boot"))
    // fold the two one-row frames without a join: label + union + agg
    // (unlike the explode shape, base is EMPTY — not a zero row — for
    // an empty input, hence the coalesce on the counters)
    val labeled = base.select(lit("b").as("p"), col("n").cast("double").as("a"),
        col("__mean").as("m"), lit(null).cast("double").as("l"),
        lit(null).cast("double").as("h2"), lit(null).cast("double").as("nb"))
      .unionByName(ci.select(lit("c").as("p"),
        lit(null).cast("double").as("a"), lit(null).cast("double").as("m"),
        col("__lo").as("l"), col("__hi").as("h2"),
        col("n_boot").cast("double").as("nb")))
    labeled.agg(
      coalesce(max(col("a")), lit(0.0)).cast("long").as("n"),
      coalesce(max(col("nb")), lit(0.0)).cast("long").as("n_boot"),
      round(max(col("m")), 6).as("mean6"),
      round(max(col("l")), 6).as("lo6"),
      round(max(col("h2")), 6).as("hi6"))
  }

  /** One micro-batch's (or delta shard's) bootstrap partial state —
    * `(__b, __s decimal(38,9), __cnt)`, `__b = -1` the base pair —
    * and the SUM-fold that merges it into accumulated state: the
    * incremental/streaming face of [[bootPartials]]. Exposed so a
    * foreachBatch monitor can maintain the CI state without ever
    * rescanning earlier batches; decimal sums are exact, so the
    * accumulated state is provably split-invariant. */
  private[graft] def bootPartialsOf(
      df: DataFrame, valueCol: String, idCol: String,
      nBoot: Int, salt: String): DataFrame =
    bootPartials(df, None, valueCol, idCol, nBoot, salt)

  private[graft] def foldBootPartials(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__g", "__b")
      .agg(sum(col("__s")).as("__s"), sum(col("__cnt")).as("__cnt"))

  /** [[bootstrapMeanCI]] as a [[FoldMonitor]] over the (nBoot+1)-row
    * partial state. Each row's replicate weights are a pure function
    * of (salt, b, id) and the partials are exact decimals, so the live
    * CI equals the batch CI of the same feed. */
  def bootstrapMonitor(valueCol: String, idCol: String, nBoot: Int = 100,
      alpha: Double = 0.05, salt: String = "boot"): FoldMonitor =
    FoldMonitor("bootstrapMonitor", _.select(valueCol, idCol),
      bootPartialsOf(_, valueCol, idCol, nBoot, salt), foldBootPartials,
      ciFromBootPartials(_, alpha))

  /** Per-group [[bootstrapMeanCI]] — the continuous-outcome twin of
    * the per-arm Wilson readout ([[graft.operators.Experiment
    * .abReport]]): one deterministic Poisson-bootstrap mean CI per
    * value of `groupCol`. Weights are the SAME pure function of
    * (salt, b, id) as the ungrouped form — grouping only partitions
    * rows, so a group's CI equals what ungrouped [[bootstrapMeanCI]]
    * would produce on that group filtered out (pinned by the
    * per-group equivalence spec).
    *
    * Scale shape: the identical one-scan fold ([[bootPartials]]),
    * keyed by the group — the shuffle carries
    * `partitions × groups × (nBoot+1)` exact-decimal partials, the
    * percentile runs per group over the (groups × nBoot)-bounded
    * means table, and the base-stats join is bounded by the group
    * count. Output: one row per group, `groupCol` read back as STRING
    * — (`groupCol`, `n`, `n_boot`, `mean6`, `lo6`, `hi6`), ordered by
    * group. */
  def bootstrapMeanCIByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      nBoot: Int = 100,
      alpha: Double = 0.05,
      salt: String = "boot"): DataFrame = Blocks.scoped { s =>
    require(nBoot >= 10, s"nBoot ($nBoot) must be >= 10 for a usable CI")
    require(alpha > 0.0 && alpha < 0.5, s"alpha ($alpha) must be in (0, 0.5)")
    // same three-branch reuse as the ungrouped CI (groups×(nBoot+1) rows)
    groupCiFromBootPartials(s.checkpoint(
      bootPartials(df, Some(groupCol), valueCol, idCol, nBoot, salt)),
      groupCol, alpha)
  }

  /** The per-group CI readout over accumulated GROUPED
    * [[bootPartials]] state — [[ciFromBootPartials]]'s argument
    * group-keyed, shared verbatim by [[bootstrapMeanCIByGroup]], the
    * incremental fold, and the streaming monitor: grouped partials
    * merge by exact decimal/long SUM per (group, replicate) cell, so
    * whoever accumulated the state reads the identical per-group CI
    * off it. */
  private[graft] def groupCiFromBootPartials(
      agg: DataFrame, groupCol: String, alpha: Double): DataFrame = {
    val lo = alpha / 2.0
    val hi = 1.0 - alpha / 2.0
    val means = agg.filter(col("__b") >= 0 && col("__cnt") > 0)
      .select(col("__g"),
        (col("__s").cast("double") / col("__cnt").cast("double"))
          .as("__m"))
    val ci = means.groupBy("__g").agg(
      expr(s"percentile(__m, ${lo}D)").as("__lo"),
      expr(s"percentile(__m, ${hi}D)").as("__hi"),
      count(lit(1)).as("n_boot"))
    val base = agg.filter(col("__b") === -1)
      .select(col("__g"), col("__cnt").as("n"),
        (col("__s").cast("double") / col("__cnt").cast("double"))
          .as("__mean"))
    // group-bounded join of two tiny frames; null-safe so a NULL
    // group is its own stratum (the file-header contract)
    base.alias("__bb")
      .join(ci.alias("__cc"), col("__bb.__g") <=> col("__cc.__g"))
      .select(col("__bb.__g").as(groupCol), col("n"), col("n_boot"),
        round(col("__mean"), 6).as("mean6"),
        round(col("__lo"), 6).as("lo6"),
        round(col("__hi"), 6).as("hi6"))
      .orderBy(groupCol)
  }

  /** One shard's GROUPED bootstrap partial state — [[bootPartialsOf]]
    * keyed by a group column; folds with [[foldBootPartials]] (whose
    * key is already (`__g`, `__b`)). */
  private[graft] def groupBootPartialsOf(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      nBoot: Int, salt: String): DataFrame =
    bootPartials(df, Some(groupCol), valueCol, idCol, nBoot, salt)

  /** [[bootstrapMeanCIByGroup]] as a [[FoldMonitor]] over the
    * groups × (nBoot+1) partial state: one live mean CI per segment. */
  def groupBootstrapMonitor(groupCol: String, valueCol: String,
      idCol: String, nBoot: Int = 100, alpha: Double = 0.05,
      salt: String = "boot"): FoldMonitor =
    FoldMonitor("groupBootstrapMonitor", _.select(groupCol, valueCol, idCol),
      groupBootPartialsOf(_, groupCol, valueCol, idCol, nBoot, salt),
      foldBootPartials, groupCiFromBootPartials(_, groupCol, alpha))

  /** The shared one-scan fold under both bootstrap CIs: per input
    * partition, per group (the ungrouped form uses one constant
    * group), fold every non-NULL row into `nBoot` Poisson-weighted
    * replicate partials plus the base (n, Σ) pair, then recombine the
    * bounded partial rows with an exact decimal SUM. Every per-term
    * value replicates the SQL semantics the oracle replays —
    * `cast(round(w·x, 9) as decimal(38,9))` via the identical
    * two-step (`BigDecimal.valueOf(v).setScale(9, HALF_UP)
    * .doubleValue`, then back through `valueOf(...).setScale(9,
    * HALF_UP)` — Spark's own Round-then-Cast arithmetic) — and
    * decimal addition is exact and commutative, so partition layout,
    * fold order, and the explode-vs-fold shape can never move the
    * result by an ulp. Returns `(__g, __b, __s decimal(38,9) summed,
    * __cnt)` with `__b = -1` carrying the base pair; a replicate a
    * partition never touched (all weights 0) is simply absent — the
    * explode shape's `cnt > 0` filter, expressed by omission. */
  private def bootPartials(
      df: DataFrame,
      groupCol: Option[String],
      valueCol: String,
      idCol: String,
      nBoot: Int,
      salt: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Option/String nullability is deliberate: a NULL id or a value
    // whose double-cast is NULL (possible even after the isNotNull
    // filter, e.g. a non-numeric string column) must reproduce the
    // explode shape's arithmetic, not NPE in the tuple encoder
    val rows = df.filter(col(valueCol).isNotNull)
      .select(
        groupCol.map(g => col(g).cast("string")).getOrElse(lit("")).as("__g"),
        col(valueCol).cast("double").as("__x"),
        col(idCol).cast("string").as("__id"))
      .as[(String, Option[Double], String)]
    // The fold is nBoot× heavier than the scan (nBoot md5s per row),
    // so its parallelism must follow CORES, not file splits: a test-SF
    // input is one parquet split and would single-task the whole fold.
    // Widening costs one exchange of the 3-column projection — far
    // less than the fold it parallelizes — and is a NO-OP at scale,
    // where the scan already carries more splits than cores.
    val target = spark.sparkContext.defaultParallelism
    val balanced =
      if (rows.rdd.getNumPartitions < target) rows.repartition(target)
      else rows
    val nb = nBoot
    val cuts = poissonCuts.toArray
    val saltPrefix = salt + ":"
    val partials = balanced.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      // "<salt>:<b>:" rendered once per replicate, not once per row
      val bBytes =
        Array.tabulate(nb)(b => (saltPrefix + b + ":").getBytes(utf8))
      class GroupAcc {
        val sums = Array.fill(nb)(java.math.BigDecimal.ZERO)
        val cnts = new Array[Long](nb)
        var baseSum = java.math.BigDecimal.ZERO
        var baseN = 0L
      }
      def round9(v: Double): java.math.BigDecimal = {
        val d = java.math.BigDecimal.valueOf(v)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
        java.math.BigDecimal.valueOf(d)
          .setScale(9, java.math.RoundingMode.HALF_UP)
      }
      val accs = scala.collection.mutable.HashMap.empty[String, GroupAcc]
      it.foreach { case (g, xOpt, id) =>
        val a = accs.getOrElseUpdate(g, new GroupAcc)
        a.baseN += 1
        xOpt.foreach(x => a.baseSum = a.baseSum.add(round9(x)))
        // NULL id: the explode shape's hash is NULL, every `h < cut`
        // is NULL, and the when-chain falls through to weight 6 —
        // reproduced here, not NPE'd on
        val idBytes = if (id == null) null else id.getBytes(utf8)
        var b = 0
        while (b < nb) {
          val w =
            if (idBytes == null) 6
            else {
              md.update(bBytes(b))
              md.update(idBytes)
              val dg = md.digest() // first 8 md5 hex chars = first 4 bytes
              val h = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
                ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
              var k = 0
              while (k < cuts.length && h >= cuts(k)) k += 1
              k
            }
          if (w > 0) {
            a.cnts(b) += w
            // a NULL-cast value contributes its weight to the count
            // but nothing to the sum — exactly what sum-over-NULL
            // does in the explode shape
            xOpt.foreach(x => a.sums(b) = a.sums(b).add(round9(w.toDouble * x)))
          }
          b += 1
        }
      }
      accs.iterator.flatMap { case (g, a) =>
        Iterator.range(0, nb).filter(a.cnts(_) > 0)
          .map(b => (g, b, a.sums(b).toPlainString, a.cnts(b))) ++
          Iterator((g, -1, a.baseSum.toPlainString, a.baseN))
      }
    }.toDF("__g", "__b", "__s", "__c")
    partials
      .groupBy("__g", "__b")
      .agg(sum(col("__s").cast("decimal(38,9)")).as("__s"),
        sum(col("__c")).as("__cnt"))
  }

  /** The n×nBoot explode shape [[bootstrapMeanCI]] replaced — retained
    * UNREGISTERED, solely as the independent reference the
    * fold-vs-explode equivalence spec checks the one-scan fold
    * against (two implementations sharing only [[poissonCuts]] and
    * the hash definition must agree bit-for-bit). Never call this on
    * real data: it materializes every (row, replicate) pair. */
  private[graft] def bootstrapMeanCIExplode(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      nBoot: Int = 100,
      alpha: Double = 0.05,
      salt: String = "boot"): DataFrame = {
    require(nBoot >= 10, s"nBoot ($nBoot) must be >= 10 for a usable CI")
    require(alpha > 0.0 && alpha < 0.5, s"alpha ($alpha) must be in (0, 0.5)")
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__x"),
        col(idCol).cast("string").as("__id"))
    val h = graft.functions.TextFunctions.portableTokenHash32(
      concat(lit(salt), lit(":"), col("__b").cast("string"),
        lit(":"), col("__id")))
    val w = poissonCuts.zipWithIndex
      .foldRight(lit(6): org.apache.spark.sql.Column) {
      case ((cut, k), e) => when(h < cut, lit(k)).otherwise(e)
    }
    val means = rows
      .select(col("__x"), col("__id"),
        explode(sequence(lit(0), lit(nBoot - 1))).as("__b"))
      .withColumn("__w", w)
      .groupBy("__b")
      .agg(sum(col("__w")).as("__cnt"),
        sum(round(col("__w") * col("__x"), 9).cast("decimal(38,9)"))
          .as("__s"))
      .filter(col("__cnt") > 0)
      .select((col("__s").cast("double") / col("__cnt").cast("double"))
        .as("__m"))
    val base = rows.agg(count(lit(1)).as("n"),
      (sum(round(col("__x"), 9).cast("decimal(38,9)")).cast("double") /
        count(lit(1))).as("__mean"))
    val lo = alpha / 2.0
    val hi = 1.0 - alpha / 2.0
    val ci = means.agg(
      expr(s"percentile(__m, ${lo}D)").as("__lo"),
      expr(s"percentile(__m, ${hi}D)").as("__hi"),
      count(lit(1)).as("n_boot"))
    // fold the two one-row frames without a join: label + union + agg
    val labeled = base.select(lit("b").as("p"), col("n").cast("double").as("a"),
        col("__mean").as("m"), lit(null).cast("double").as("l"),
        lit(null).cast("double").as("h2"), lit(null).cast("double").as("nb"))
      .unionByName(ci.select(lit("c").as("p"),
        lit(null).cast("double").as("a"), lit(null).cast("double").as("m"),
        col("__lo").as("l"), col("__hi").as("h2"),
        col("n_boot").cast("double").as("nb")))
    labeled.agg(
      max(col("a")).cast("long").as("n"),
      max(col("nb")).cast("long").as("n_boot"),
      round(max(col("m")), 6).as("mean6"),
      round(max(col("l")), 6).as("lo6"),
      round(max(col("h2")), 6).as("hi6"))
  }

  /** CUSUM change-point scan — WHERE did a series' level shift?
    * The classic single-change-point scan statistic
    * `max_k |S_k − (k/n)·S_n|` (the cumulative sum's maximum
    * excursion from the no-change diagonal), reported with its argmax
    * position — the root-cause pointer the drift alarms
    * (KS/W1/PSI answer WHETHER, this answers WHEN). Values are
    * fixed-pointed at `scaleDigits` decimals through exact DECIMAL
    * arithmetic (never a double multiply whose last ulp could flip a
    * truncation), so every candidate's excursion is the exact integer
    * `|S_k·n − k·S_n|` — the argmax is an integer compare on both
    * engines, ties breaking to the EARLIEST k. The statistic reads
    * out in original units on the 6dp gate.
    *
    * Scale shape: one range-partitioned contiguous-id pass + one
    * range-partitioned prefix sum ([[General.withContiguousRowIds]] /
    * [[General.withRunningTotal]] — never a global one-partition
    * window), two driver scalars, and a top-1 (TakeOrdered, not a
    * global sort). Rows with a NULL value are excluded (they carry no
    * level). Deterministic when `orderCols` is a total order.
    *
    * Output: one row — (`n`, `k`, the `orderCols` values at the
    * argmax, `cusum6`). */
  def changePointScan(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      scaleDigits: Int = 6): DataFrame = {
    require(orderCols.nonEmpty,
      "changePointScan needs a sort order for the series")
    require(!orderCols.contains(valueCol),
      s"changePointScan: value column '$valueCol' cannot be an order " +
        "column (it is consumed into the fixed-point series)")
    require(scaleDigits >= 0 && scaleDigits <= 9,
      s"scaleDigits ($scaleDigits) must be in [0, 9]")
    TempCols.reserve(df, "changePointScan", "__vl", "__rid", "__pre")
    val pow = math.pow(10.0, scaleDigits).toLong
    val sel = df
      .filter(col(valueCol).isNotNull)
      .select((orderCols.filterNot(_ == valueCol).map(col) :+
        (round(col(valueCol).cast("double"), scaleDigits)
          .cast(s"decimal(28,$scaleDigits)") * lit(pow))
          .cast("long").as("__vl")): _*)
    val ids = General.withContiguousRowIds(sel, orderCols, "__rid")
    val pre = General.withRunningTotal(ids, Seq("__rid"), "__vl", "__pre")
    val t = pre.agg(count(lit(1)), coalesce(sum(col("__vl")), lit(0L))).head()
    val (n, sn) = (t.getLong(0), t.getLong(1))
    require(n >= 2L, s"changePointScan: needs >= 2 series points (got $n)")
    val num = abs((col("__pre") + col("__vl")).cast("decimal(19,0)") * lit(n)
      - (col("__rid") + lit(1L)).cast("decimal(19,0)") * lit(sn))
    pre.withColumn("__num", num)
      .orderBy(col("__num").desc, col("__rid").asc)
      .limit(1)
      .select((lit(n).as("n") +: (col("__rid") + lit(1L)).as("k") +:
        orderCols.filterNot(_ == valueCol).map(col)) :+
        round(col("__num").cast("double") /
          (lit(n.toDouble) * lit(pow.toDouble)), 6).as("cusum6"): _*)
  }

  /** [[changePointScan]] as a [[FoldMonitor]] over a bucketed feed:
    * "WHEN did the level shift?" kept current as events land. The state
    * is one exact-decimal value sum per bucket (12dp-rounded terms),
    * folded by SUM; the double cast happens once, at readout. Returns
    * the one-row (`n`, `k`, `bucketCol`, `cusum6`) frame. */
  def changePointMonitor(bucketCol: String, valueCol: String): FoldMonitor = {
    def sums(df: DataFrame, term: org.apache.spark.sql.Column) =
      df.groupBy(bucketCol).agg(sum(term).cast("decimal(38,12)").as("__cps"))
    FoldMonitor("changePointMonitor", _.select(bucketCol, valueCol),
      batch => sums(batch.filter(col(valueCol).isNotNull),
        round(col(valueCol), 12).cast("decimal(38,12)")),
      (base, delta) => sums(base.unionByName(delta), col("__cps")),
      state => changePointScan(
        state.select(col(bucketCol), col("__cps").cast("double").as("__cpv")),
        Seq(bucketCol), "__cpv"))
  }

  /** PER-GROUP CUSUM change-point scan — [[changePointScan]] keyed by
    * a slice column ("each event type's own level-shift day"), fully
    * IN-PLAN: within-group positions ride
    * [[General.withContiguousRowIdsPerGroup]]'s skew-proof global
    * sort, group-local prefix sums come off ONE range-partitioned
    * running total minus a group-bounded MIN offset (the
    * exactQuantilesByGroup trick), group totals are columns, and the
    * per-group argmax is a `max_by` over the exact-integer excursion
    * with earliest-k ties (lexicographic (num, −k) — an integer
    * compare on both engines). A single-point group reads k=1,
    * cusum 0 (no interior candidate — the zero excursion IS the
    * answer, not a special case). Group cardinality unbounded; NULL
    * is its own group; NULL values excluded.
    *
    * Output: one row per group — (`g` as STRING, `n`, `k`, the
    * `orderCols` values at the argmax, `cusum6`), ordered by group. */
  def changePointScanByGroup(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      valueCol: String,
      scaleDigits: Int = 6): DataFrame = {
    require(orderCols.nonEmpty,
      "changePointScanByGroup needs a sort order for the series")
    require(!orderCols.contains(valueCol) && groupCol != valueCol &&
      !orderCols.contains(groupCol),
      "changePointScanByGroup: group, order, and value columns must be " +
        "distinct")
    require(scaleDigits >= 0 && scaleDigits <= 9,
      s"scaleDigits ($scaleDigits) must be in [0, 9]")
    TempCols.reserve(df, "changePointScanByGroup",
      "__g", "__vl", "__k0", "__pre", "__off", "__n", "__sn", "__num")
    val pow = math.pow(10.0, scaleDigits).toLong
    val sel = df
      .filter(col(valueCol).isNotNull)
      .select((col(groupCol).cast("string").as("__g") +:
        orderCols.map(col)) :+
        (round(col(valueCol).cast("double"), scaleDigits)
          .cast(s"decimal(28,$scaleDigits)") * lit(pow))
          .cast("long").as("__vl"): _*)
    val ids = General.withContiguousRowIdsPerGroup(
      sel, Seq("__g"), orderCols, "__k0")
    val pre = General.withRunningTotal(
      ids, Seq("__g") ++ orderCols, "__vl", "__pre")
    val offs = pre.groupBy("__g").agg(
      min(col("__pre")).as("__off"), count(lit(1)).as("__n"),
      sum(col("__vl")).as("__sn"))
    val cum = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select((col("__l.__g").as("__g") +: orderCols.map(col)) ++
        Seq(col("__k0"), col("__n"), col("__sn"),
          (col("__pre") - col("__off") + col("__vl")).as("__sk")): _*)
    val num = abs(col("__sk").cast("decimal(19,0)") * col("__n")
      - (col("__k0") + lit(1L)).cast("decimal(19,0)") * col("__sn"))
    val payload = struct((col("__n") +: (col("__k0") + lit(1L)).as("__k") +:
      orderCols.map(col)) :+
      round(num.cast("double") /
        (col("__n").cast("double") * lit(pow.toDouble)), 6)
        .as("__cusum6"): _*)
    cum.groupBy("__g")
      .agg(max_by(payload, struct(num, -col("__k0"))).as("__best"))
      .select((col("__g").as("g") +: col("__best.__n").as("n") +:
        col("__best.__k").as("k") +:
        orderCols.map(c => col(s"__best.$c").as(c))) :+
        col("__best.__cusum6").as("cusum6"): _*)
      .orderBy("g")
  }

  /** Exact Gini concentration index over non-negative INTEGER masses
    * (token counts, byte sizes, event counts) — the one-number
    * concentration audit of a corpus recipe: G near 0 = mass spread
    * evenly across documents/sources, G near 1 = a handful dominate
    * (the "is the corpus secretly one domain?" alarm that a mean
    * can't raise). Uses the rank identity
    * `G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)` over ascending-mass
    * 1-based ranks — ties ordered by (mass, id) for determinism,
    * though the identity's value is provably tie-order-invariant
    * (swapping equal masses cannot change Σ i·x_i).
    *
    * Scale shape: ranks ride [[General.withContiguousRowIds]]'s
    * range-partitioned sort (never one global window partition); both
    * sums are per-term-exact DECIMAL(38,0) products (a long
    * rank×mass product would overflow near 10^19 — exactly the
    * 100 TB regime), so the two scalars are integer-exact on any
    * engine and the readout is ONE double division on the 6dp gate.
    * Negative masses fail loudly at scan time; NULL masses are
    * excluded. Output: one row — (`n`, `total`, `gini6`). */
  def giniIndex(
      df: DataFrame, valueCol: String, idCol: String): DataFrame =
    Blocks.scoped { _ =>
      val row = giniSumsPlan(giniRankedMasses(df, valueCol, idCol)).head()
      val n = row.getLong(0)
      require(n > 0L, "giniIndex: no non-null masses")
      giniScalarReadout(df.sparkSession, n, row.getDecimal(1),
        row.getDecimal(2).multiply(java.math.BigDecimal.valueOf(2L)),
        "giniIndex")
    }

  /** The ONE scalar Gini readout every ungrouped path runs —
    * `(2Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)` over exact decimals, one double
    * division on the 6dp gate; shared so the rank path and the counts
    * path cannot drift (a rounding or guard change lands once). Takes
    * the DOUBLED rank sum (the counts path computes it natively;
    * halving would be the only fraction in an all-integer pipeline). */
  private def giniScalarReadout(
      spark: org.apache.spark.sql.SparkSession, n: Long,
      t: java.math.BigDecimal, twoS: java.math.BigDecimal,
      op: String): DataFrame = {
    require(t.signum > 0, s"$op: total mass is zero — G is 0/0")
    val numer = twoS.subtract(
      t.multiply(java.math.BigDecimal.valueOf(n + 1L)))
    val denom = t.multiply(java.math.BigDecimal.valueOf(n))
    val g = numer.doubleValue() / denom.doubleValue()
    import spark.implicits._
    Seq((n, t.longValueExact(), BigDecimal(g)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n", "total", "gini6")
  }

  /** The loud (mass, count) validation both count-state Gini paths
    * share: masses non-negative integers, counts strictly positive —
    * one place to relax the contract if decimal masses ever arrive.
    * Returned as the two guarded COLUMNS so the grouped path can ride
    * its group key alongside. */
  private def guardedMassCols(
      op: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = (
    when(col("v").cast("double") >= 0.0 &&
        col("v").cast("double") === floor(col("v").cast("double")),
        col("v").cast("double"))
      .otherwise(raise_error(concat(
        lit(s"$op: mass must be a non-negative integer, got "),
        col("v").cast("string")))).as("v"),
    when(col("cnt").cast("long") > 0L, col("cnt").cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$op: non-positive count "),
        col("cnt").cast("string"), lit(" for mass "),
        col("v").cast("string")))).as("cnt"))

  /** [[giniIndex]]'s guarded (mass, id) projection + range-partitioned
    * contiguous ranks — factored so the eager aggregate's plan is
    * spec-PINNABLE, not just comment-audited (the returned one-row
    * frame of the public operator is a literal and escapes the
    * returned-plan audit). */
  private[graft] def giniRankedMasses(
      df: DataFrame, valueCol: String, idCol: String): DataFrame = {
    val vals = df.filter(col(valueCol).isNotNull)
      .select(
        when(col(valueCol) >= 0, col(valueCol).cast("long"))
          .otherwise(raise_error(concat(
            lit("giniIndex: negative mass "),
            col(valueCol).cast("string"), lit(" for id "),
            col(idCol).cast("string")))).as("__x"),
        col(idCol).cast("string").as("__id"))
    General.withContiguousRowIds(vals, Seq("__x", "__id"), "__i")
  }

  /** The UNEXECUTED one-row (n, t, s) aggregate [[giniIndex]] reads —
    * exposed for the plan-shape spec (no Window, no cartesian — the
    * ranks already rode the range-partitioned sort). */
  private[graft] def giniSumsPlan(ranked: DataFrame): DataFrame =
    ranked.agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast("decimal(38,0)")).as("t"),
      sum((col("__i").cast("decimal(38,0)") + lit(1)) *
        col("__x").cast("decimal(38,0)")).as("s"))

  /** [[giniIndex]] off the SUM-foldable (v, cnt) value-count state the
    * quantile/KS family already maintains ([[graft.operators.Profile
    * .ksSideCounts]] / [[graft.operators.Profile.foldValueCounts]]) —
    * closing the maintenance matrix's last open family: Gini
    * batch / incremental / stream off ONE state table. The rank
    * identity only needs rank SUMS, and under the (mass, id) tie-
    * order-invariance the `cnt` rows at mass `v` occupy ranks
    * `prefix+1 .. prefix+cnt` exactly, so
    * `2·Σ i·xᵢ = Σ_v v·cnt·(2·prefix + cnt + 1)` — every term an
    * exact DECIMAL(38,0) product off the grid's running total, no
    * per-row ranks at all. Provably equal to [[giniIndex]] of the
    * rows behind the counts (pinned by holding the counts-path
    * queries to the rank-path oracle verbatim).
    *
    * Scale shape: ONE range-partitioned prefix sum over the
    * distinct-mass grid ([[General.withRunningTotal]] — grid-bounded,
    * usually orders of magnitude below row count), one scalar
    * aggregate. Masses must be non-negative integers (the exact-ECDF
    * contract): negative or fractional grid values and non-positive
    * counts fail LOUDLY at scan time. Output: (`n`, `total`,
    * `gini6`) — [[giniIndex]]'s schema verbatim. */
  def giniFromCounts(counts: DataFrame): DataFrame = Blocks.scoped { _ =>
    val (gv, gc) = guardedMassCols("giniFromCounts")
    val guarded = counts.select(gv, gc)
    val cum = General.withRunningTotal(guarded, Seq("v"), "cnt", "__pre")
    val vDec = col("v").cast("long").cast("decimal(38,0)")
    val cDec = col("cnt").cast("decimal(38,0)")
    val row = cum.agg(
      coalesce(sum(col("cnt")), lit(0L)).as("n"),
      sum(vDec * cDec).as("t"),
      // 2·Σ i·x, whole in exact decimal: Σ v·cnt·(2·pre + cnt + 1) —
      // never halved, so the pipeline stays all-integer
      sum(vDec * cDec *
        (lit(2).cast("decimal(38,0)") * col("__pre").cast("decimal(38,0)") +
          cDec + lit(1).cast("decimal(38,0)"))).as("s2")).head()
    val n = row.getLong(0)
    require(n > 0L, "giniFromCounts: empty count state")
    giniScalarReadout(counts.sparkSession, n, row.getDecimal(1),
      row.getDecimal(2), "giniFromCounts")
  }

  /** Per-group [[giniIndex]] — concentration per source/language
    * ("which SOURCE is internally a few giants?"), the drill-down the
    * corpus-wide number cannot give. Ranks ride [[General
    * .withContiguousRowIdsPerGroup]]'s global range-partitioned sort
    * (a dominant source cannot single-task a window partition), the
    * two decimal sums are per-group map-side-combined aggregates, and
    * the Gini arithmetic runs IN the plan over exact decimal columns
    * (group cardinality stays unbounded — no driver scalars): the
    * numerator/denominator are exact integers cast to double once,
    * one division on the 6dp gate. Negative masses fail loudly
    * (shared with the ungrouped form); a zero-total group reports
    * NULL gini (0/0 — the degenerate-axis convention), documented
    * rather than special-cased. Output: one row per group —
    * (`groupCol` as STRING, `n`, `total`, `gini6`), ordered by
    * group. */
  def giniIndexByGroup(
      df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        when(col(valueCol) >= 0, col(valueCol).cast("long"))
          .otherwise(raise_error(concat(
            lit("giniIndexByGroup: negative mass "),
            col(valueCol).cast("string"), lit(" for id "),
            col(idCol).cast("string")))).as("__x"),
        col(idCol).cast("string").as("__id"))
    val ranked = General.withContiguousRowIdsPerGroup(
      vals, Seq("__g"), Seq("__x", "__id"), "__i")
    val out = ranked.groupBy("__g").agg(
        count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,0)")).as("__t"),
        sum((col("__i").cast("decimal(38,0)") + lit(1)) *
          col("__x").cast("decimal(38,0)")).as("__s"))
      .select(col("__g").as(groupCol), col("n"),
        col("__t").cast("long").as("total"),
        // the zero-total guard is load-bearing under ANSI mode:
        // unguarded, the 0/0 group would be a DIVIDE_BY_ZERO error,
        // not a NULL
        when(col("__t") > 0, round(
            (lit(2) * col("__s") - (col("n") + lit(1)) * col("__t"))
              .cast("double") /
              (col("n") * col("__t")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("gini6"))
      .orderBy(groupCol)
    // the frame reads the rank pass's sort checkpoint —
    // [[Blocks.release]] once consumed (the withContiguousRowIds
    // contract)
    out
  }

  /** Per-group [[giniFromCounts]] — per-source/language concentration
    * off the SUM-foldable per-group value-count state
    * (`(__g, v, cnt)` — [[graft.operators.Profile.groupSideCounts]] /
    * [[graft.operators.Profile.foldGroupValueCounts]]), completing
    * per-group Gini's maintenance matrix the way the corpus-wide
    * counts path did: per-group rank sums read off ONE global
    * range-partitioned prefix over the (group, mass) grid, each
    * cell's GROUP-LOCAL prefix recovered as `global_prefix −
    * group_offset` (the exactQuantilesByGroup trick), so
    * `2Σᵢ i·xᵢ = Σ_v v·cnt·(2·local_prefix + cnt + 1)` per group —
    * exact DECIMAL(38,0) products, Gini arithmetic IN the plan
    * (group cardinality unbounded, no driver scalars). Fractional or
    * negative masses and non-positive counts fail LOUDLY; a
    * zero-total group reports NULL gini (0/0 — [[giniIndexByGroup]]'s
    * convention, and the ANSI guard is load-bearing). Output:
    * (`groupCol` as STRING, `n`, `total`, `gini6`) ordered by group —
    * [[giniIndexByGroup]]'s schema verbatim, which is what lets the
    * counts path, the incremental fold, and the streamed monitor all
    * face the rank path's oracle. */
  def giniByGroupFromCounts(
      counts: DataFrame, groupCol: String): DataFrame = {
    // the shared guard validates (v, cnt); the group key rides along
    val (gv, gc) = guardedMassCols("giniByGroupFromCounts")
    val guarded = counts.select(col("__g"), gv, gc)
    val pre = General.withRunningTotal(guarded, Seq("__g", "v"), "cnt", "__pre")
    val offs = pre.groupBy("__g").agg(min(col("__pre")).as("__off"))
    val vDec = col("v").cast("long").cast("decimal(38,0)")
    val cDec = col("cnt").cast("decimal(38,0)")
    val localPre = (col("__pre") - col("__off")).cast("decimal(38,0)")
    pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("v"), col("cnt"),
        col("__pre"), col("__off"))
      .groupBy("__g").agg(
        sum(col("cnt")).as("n"),
        sum(vDec * cDec).as("__t"),
        sum(vDec * cDec * (lit(2).cast("decimal(38,0)") * localPre +
          cDec + lit(1).cast("decimal(38,0)"))).as("__s2"))
      .select(col("__g").as(groupCol), col("n"),
        col("__t").cast("long").as("total"),
        // zero-total group: 0/0 is NULL, not an ANSI DIVIDE_BY_ZERO
        when(col("__t") > 0, round(
            (col("__s2") - (col("n") + lit(1)) * col("__t")).cast("double") /
              (col("n") * col("__t")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("gini6"))
      .orderBy(groupCol)
  }

  /** Per-group rank normalization — the distribution-free rescaling
    * that makes scores COMPARABLE ACROSS GROUPS before a global
    * policy consumes them ("mix by quality percentile within each
    * language", where raw quality scales differ by language): each
    * row's value maps to its percentile rank `(rank − 0.5) / n`
    * within the group — the standard mid-rank convention, uniform on
    * (0, 1) whatever the input distribution. Ranks order by
    * (value, id): a DETERMINISTIC total order, so ties resolve
    * identically on every engine and rerun ([[graft.operators.Eval
    * .spearmanRho]]'s discipline) rather than averaging. NULL values
    * get a NULL rank.
    *
    * Scale shape (`largeGroups = false`, the default): one
    * GROUP-PARTITIONED row_number window (sorts within groups only —
    * groups are the parallelism unit) + one group-bounded count join.
    * With `largeGroups = true` the rank instead rides
    * [[General.withContiguousRowIdsPerGroup]]'s global range-
    * partitioned sort — the path for a SKEWED group set (one language
    * holding most of a corpus would single-task its window partition);
    * both paths produce the IDENTICAL output (same (value, id) total
    * order — pinned by the equivalence spec), the flag only moves the
    * physical plan, the [[Profile]] `exactDistinct` one-flag-two-modes
    * pattern. Output: input columns + `outCol` (double in (0, 1),
    * rounded at `roundDigits`). */
  def rankNormalize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      idCol: String,
      outCol: String,
      roundDigits: Int = 6,
      largeGroups: Boolean = false): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    TempCols.reserve(df, "rankNormalize", "__rk", "__n")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val ranked =
      if (largeGroups)
        // stays long: this path exists FOR groups too big for a window
        // partition, which may also exceed Int.MaxValue rows — a cast
        // to int would silently wrap the rank (non-ANSI) exactly there
        General.withContiguousRowIdsPerGroup(
            df.filter(col(valueCol).isNotNull), groupCols,
            Seq(valueCol, idCol), "__rk")
          .withColumn("__rk", col("__rk") + 1L)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)
          .orderBy(col(valueCol), col(idCol))
        df.filter(col(valueCol).isNotNull)
          .withColumn("__rk", row_number().over(w))
      }
    val normalized = joinOnGroups(ranked, counts, groupCols)
      .withColumn(outCol,
        round((col("__rk").cast("double") - lit(0.5)) /
          col("__n").cast("double"), roundDigits))
      .drop("__rk", "__n")
    val nulls = df.filter(col(valueCol).isNull)
      .withColumn(outCol, lit(null).cast("double"))
    normalized.unionByName(nulls)
  }

  /** Median/MAD robust outlier flags — [[iqrOutlierFlags]]' heavier
    * sibling for LONG-TAILED quality signals: the IQR fence assumes
    * the bulk is roughly symmetric, while the modified z-score
    * (Iglewicz & Hoaglin's `0.6745·(x − median)/MAD > k`, k=3.5 the
    * published default) survives up to 50% contamination because both
    * the center and the spread estimate are medians. Flagging is
    * expressed as FENCES (`|x − med| > k·MAD/0.6745`, bounds rounded
    * to `roundDigits` — the [[iqrOutlierFlags]] discipline, so a
    * cross-engine quantile ulp cannot flip a flag at the boundary).
    * An all-but-constant group (MAD = 0) collapses both fences onto
    * the median, flagging every value off it — the correct limit of
    * `|z| → ∞`, documented rather than special-cased.
    *
    * Two grouped `percentile` aggregations (the second over the
    * median-joined deviations) + one group-bounded join each — groups
    * never sort through a single partition.
    *
    * Output: input columns + `lo_fence`, `hi_fence`, `is_outlier`
    * (NULL for NULL values). */
  def robustOutlierFlags(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Double = 3.5,
      roundDigits: Int = 6,
      exact: Boolean = true,
      approxAccuracy: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(k > 0.0, s"k ($k) must be positive")
    require(approxAccuracy >= 1, s"approxAccuracy ($approxAccuracy) must be >= 1")
    TempCols.reserve(df, "robustOutlierFlags", "__med", "__mad")
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(element_at(groupPercentiles(valueCol, Seq(0.5),
        exact, approxAccuracy), 1).as("__med"))
    val withMed = joinOnGroups(df, med, groupCols)
    val mad = withMed
      .groupBy(groupCols.map(col): _*)
      .agg(element_at(groupPercentiles(
        s"abs(cast($valueCol as double) - __med)", Seq(0.5),
        exact, approxAccuracy), 1).as("__mad"))
    val spread = lit(k / 0.6745) * col("__mad")
    joinOnGroups(withMed, mad, groupCols)
      .withColumn("lo_fence", round(col("__med") - spread, roundDigits))
      .withColumn("hi_fence", round(col("__med") + spread, roundDigits))
      .withColumn("is_outlier",
        when(col(valueCol).isNotNull,
          col(valueCol).cast("double") < col("lo_fence") ||
            col(valueCol).cast("double") > col("hi_fence")))
      .drop("__med", "__mad")
  }

  // ------------------------------------------------------------------
  // Concentration siblings: Herfindahl–Hirschman and Theil — the two
  // standard companions to the Gini family (HHI weights the LARGEST
  // holders quadratically, Theil decomposes additively), sharing the
  // gini contract: non-negative integer masses, NULLs excluded,
  // negatives and fractions loud.
  // ------------------------------------------------------------------

  /** The shared loud mass projection: non-negative INTEGER masses as
    * long, NULLs dropped, negatives/fractions loud by `op` name. */
  private def guardedMasses(
      df: DataFrame, valueCol: String, op: String): DataFrame =
    df.filter(col(valueCol).isNotNull).select(
      when(col(valueCol).cast("double") >= 0.0 &&
          col(valueCol).cast("double") ===
            floor(col(valueCol).cast("double")),
          col(valueCol).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"$op: mass must be a non-negative integer, got "),
          col(valueCol).cast("string")))).as("__x"))

  /** Herfindahl–Hirschman concentration index — `Σ s_i²` over holder
    * shares `s_i = x_i/Σx`: the concentration number that weights the
    * BIGGEST holders quadratically (one source owning half the corpus
    * contributes 0.25 on its own), where Gini reads the whole
    * inequality curve. Also emits the size-corrected
    * `HHI* = (HHI − 1/n)/(1 − 1/n)` (0 = perfectly even, 1 =
    * single-holder, comparable ACROSS corpora of different holder
    * counts; NULL when n = 1, where evenness is vacuous).
    *
    * Arithmetic is exact until ONE division each:
    * `HHI = Σx²/(Σx)²` and `HHI* = (n·Σx² − (Σx)²)/((Σx)²·(n−1))` —
    * every term an integer carried as DECIMAL(38,0) (squared
    * 100 TB-regime token masses overflow a long), so both engines
    * compute identical integers and each readout is one double
    * division on the 6-decimal gate. Zero total mass is loud (0/0).
    *
    * Scale shape: ONE map-side-combined aggregation to three driver
    * scalars — no sort, no ranks (the advantage over Gini at scale).
    * Output: one row — (`n`, `total`, `hhi6`, `hhi_norm6`). */
  def hhiIndex(df: DataFrame, valueCol: String): DataFrame = {
    val row = guardedMasses(df, valueCol, "hhiIndex").agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast("decimal(38,0)")).as("t"),
      sum(col("__x").cast("decimal(38,0)") *
        col("__x").cast("decimal(38,0)")).as("s2")).head()
    val n = row.getLong(0)
    require(n > 0L, "hhiIndex: no non-null masses")
    hhiScalarReadout(df.sparkSession, n,
      BigDecimal(row.getDecimal(1)), BigDecimal(row.getDecimal(2)),
      "hhiIndex")
  }

  /** The ONE scalar HHI readout the direct and counts paths share —
    * exact-integer numerators/denominators, one double division each,
    * 6-decimal gate. */
  private def hhiScalarReadout(
      spark: org.apache.spark.sql.SparkSession, n: Long,
      t: BigDecimal, s2: BigDecimal, op: String): DataFrame = {
    require(t > BigDecimal(0), s"$op: total mass is zero — HHI is 0/0")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hhi = r6(s2.toDouble / (t * t).toDouble)
    val norm: Option[Double] =
      if (n == 1L) None
      else Some(r6((BigDecimal(n) * s2 - t * t).toDouble /
        (t * t * BigDecimal(n - 1L)).toDouble))
    import spark.implicits._
    Seq((n, t.toLongExact, hhi, norm))
      .toDF("n", "total", "hhi6", "hhi_norm6")
  }

  /** [[hhiIndex]] off the SUM-foldable (v, cnt) value-count state the
    * quantile/KS/Gini families maintain: `n = Σcnt`, `Σx = Σ v·cnt`,
    * `Σx² = Σ v²·cnt` — every sufficient statistic folds by SUM, so
    * the incremental and streaming formulations provably equal the
    * direct one (pinned by holding them to the direct oracle
    * verbatim). Same loud (v, cnt) contract as [[giniFromCounts]].
    * Output: [[hhiIndex]]'s schema verbatim. */
  def hhiFromCounts(counts: DataFrame): DataFrame = {
    val (gv, gc) = guardedMassCols("hhiFromCounts")
    val vDec = col("v").cast("long").cast("decimal(38,0)")
    val cDec = col("cnt").cast("decimal(38,0)")
    val row = counts.select(gv, gc).agg(
      coalesce(sum(col("cnt")), lit(0L)).as("n"),
      sum(vDec * cDec).as("t"),
      sum(vDec * vDec * cDec).as("s2")).head()
    val n = row.getLong(0)
    require(n > 0L, "hhiFromCounts: empty count state")
    hhiScalarReadout(counts.sparkSession, n,
      BigDecimal(row.getDecimal(1)), BigDecimal(row.getDecimal(2)),
      "hhiFromCounts")
  }

  /** Per-group [[hhiIndex]] — concentration within each
    * source/language, the drill-down under the corpus-wide number.
    * The whole readout runs IN the plan over exact decimal columns
    * (group cardinality unbounded, no driver scalars): one
    * map-side-combined per-group aggregation, two in-plan divisions
    * on the 6-decimal gate. A zero-total group reports NULL hhi (0/0
    * — the [[giniIndexByGroup]] convention); a single-holder group
    * reports NULL hhi_norm. Output: one row per group —
    * (`groupCol` as STRING, `n`, `total`, `hhi6`, `hhi_norm6`),
    * ordered by group. */
  def hhiIndexByGroup(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val masses = guardedGroupMasses(df, groupCol, valueCol,
      "hhiIndexByGroup")
    val xDec = col("__x").cast("decimal(38,0)")
    hhiGroupReadout(
      masses.groupBy("__g").agg(
        count(lit(1)).as("n"),
        sum(xDec).as("__t"),
        sum(xDec * xDec).as("__s2")),
      groupCol)
  }

  /** The per-group HHI readout over a `(__g, n, __t, __s2)` aggregate
    * — shared verbatim by [[hhiIndexByGroup]] and
    * [[hhiByGroupFromCounts]], so the direct path and the maintained
    * state face one arithmetic. */
  private def hhiGroupReadout(
      agg: DataFrame, groupCol: String): DataFrame =
    agg.select(col("__g").as(groupCol), col("n"),
        col("__t").cast("long").as("total"),
        when(col("__t") > 0,
            round(col("__s2").cast("double") /
              (col("__t") * col("__t")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("hhi6"),
        when(col("__t") > 0 && col("n") > 1L,
            round((col("n").cast("decimal(38,0)") * col("__s2") -
                col("__t") * col("__t")).cast("double") /
              ((col("__t") * col("__t")).cast("double") *
                (col("n") - 1L).cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("hhi_norm6"))
      .orderBy(groupCol)

  /** Per-group [[hhiFromCounts]] — [[hhiIndexByGroup]] off the
    * SUM-foldable `(__g, v, cnt)` state the per-group quantile/Gini
    * families maintain ([[graft.operators.Profile.groupSideCounts]] /
    * [[graft.operators.Profile.foldGroupValueCounts]]): every
    * per-group sufficient statistic is a SUM over the grid, the
    * readout is [[hhiIndexByGroup]]'s verbatim. Same loud (v, cnt)
    * contract as [[giniByGroupFromCounts]]. */
  def hhiByGroupFromCounts(
      counts: DataFrame, groupCol: String): DataFrame = {
    val (gv, gc) = guardedMassCols("hhiByGroupFromCounts")
    val guarded = counts.select(col("__g"), gv, gc)
    val vDec = col("v").cast("long").cast("decimal(38,0)")
    val cDec = col("cnt").cast("decimal(38,0)")
    hhiGroupReadout(
      guarded.groupBy("__g").agg(
        sum(col("cnt")).as("n"),
        sum(vDec * cDec).as("__t"),
        sum(vDec * vDec * cDec).as("__s2")),
      groupCol)
  }

  /** Theil T concentration index — `Σ (x_i/M)·ln(n·x_i/M)` over
    * holder masses: the entropy-based concentration number whose
    * claim to fame is exact ADDITIVE decomposition (corpus Theil =
    * between-source Theil + mass-weighted within-source Theils —
    * the audit trail Gini cannot give). 0 = perfectly even, ln(n) =
    * single-holder; the normalized `theil_norm6 = T/ln(n)` lands in
    * [0, 1]. Zero-mass holders count in `n` and contribute 0 (the
    * `s·ln(s) → 0` limit), documented rather than special-cased.
    *
    * Per-term arithmetic is IEEE (a log), so terms are 12dp-rounded
    * into an exact DECIMAL(38,12) SUM — the [[graft.operators.Profile
    * .categoricalAssociation]] discipline: term order provably cannot
    * move the sum, and both engines replay the identical per-term
    * doubles. Readout rounds at 6. Zero total mass is loud; n = 1
    * reports NULL theil_norm (ln(1) = 0).
    *
    * Scale shape: one scalar pre-aggregation for (n, M), one
    * broadcast-joined map-only term pass, one map-side-combined SUM.
    * Output: one row — (`n`, `total`, `theil6`, `theil_norm6`). */
  def theilIndex(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val masses = guardedMasses(df, valueCol, "theilIndex")
    val top = masses.agg(count(lit(1)).as("n"),
      coalesce(sum(col("__x").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("t")).head()
    val n = top.getLong(0)
    require(n > 0L, "theilIndex: no non-null masses")
    val t = BigDecimal(top.getDecimal(1))
    require(t > BigDecimal(0), "theilIndex: total mass is zero — T is 0/0")
    val m = t.toDouble
    val share = col("__x").cast("double") / lit(m)
    val term = when(col("__x") > 0L,
        share * log(lit(n.toDouble) * share))
      .otherwise(lit(0.0))
    val theil = masses.agg(
      sum(round(term, 12).cast("decimal(38,12)")).cast("double"))
      .head().getDouble(0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val norm: Option[Double] =
      if (n == 1L) None else Some(r6(theil / math.log(n.toDouble)))
    import spark.implicits._
    Seq((n, t.toLongExact, r6(theil), norm))
      .toDF("n", "total", "theil6", "theil_norm6")
  }

  /** Per-group [[theilIndex]] — within-source concentration, the
    * drill-down whose mass-weighted sum is exactly the "within" half
    * of [[theilDecomposition]]. The whole readout runs IN the plan
    * (group cardinality unbounded): one group-bounded (n, M)
    * aggregation, one equi join back (AQE broadcasts the group
    * table), the 12dp-rounded decimal term sum per group. A
    * zero-total group reports NULL theil (the x > 0 branch guards the
    * share division — ANSI DIVIDE_BY_ZERO is load-bearing here);
    * a single-holder group reports NULL theil_norm (ln(1) = 0).
    * Output: one row per group — (`groupCol` as STRING, `n`, `total`,
    * `theil6`, `theil_norm6`), ordered by group. */
  def theilIndexByGroup(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val masses = guardedGroupMasses(df, groupCol, valueCol,
      "theilIndexByGroup")
    val totals = masses.groupBy("__g").agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast("decimal(38,0)")).as("__t"))
    val share = col("__x").cast("double") / col("__t").cast("double")
    val term = when(col("__x") > 0L,
        share * log(col("__n").cast("double") * share))
      .otherwise(lit(0.0))
    // null-safe group join: a NULL group is its own stratum (the
    // giniIndexByGroup convention) — a plain USING join would silently
    // drop it
    theilGroupReadout(
      masses.alias("__l")
        .join(totals.alias("__r"), col("__l.__g") <=> col("__r.__g"))
        .select(col("__l.__g").as("__g"), col("__x"), col("__n"),
          col("__t"))
        .groupBy("__g").agg(
          max(col("__n")).as("n"), max(col("__t")).as("__t"),
          sum(round(term, 12).cast("decimal(38,12)")).cast("double")
            .as("__theil")),
      groupCol)
  }

  /** The per-group Theil readout over a `(__g, n, __t, __theil)`
    * aggregate — shared verbatim by [[theilIndexByGroup]] and
    * [[theilByGroupFromCounts]]. */
  private def theilGroupReadout(
      agg: DataFrame, groupCol: String): DataFrame =
    agg.select(col("__g").as(groupCol), col("n"),
        col("__t").cast("long").as("total"),
        when(col("__t") > 0, round(col("__theil"), 6))
          .otherwise(lit(null).cast("double")).as("theil6"),
        when(col("__t") > 0 && col("n") > 1L,
            round(col("__theil") / log(col("n").cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("theil_norm6"))
      .orderBy(groupCol)

  /** Per-group [[theilFromCounts]] — [[theilIndexByGroup]] off the
    * SUM-foldable `(__g, v, cnt)` state: per-group totals are SUMs
    * over the grid, each distinct mass contributes
    * `cnt · round(term, 12)` (exact — an integer multiple of a
    * decimal), and the readout is [[theilIndexByGroup]]'s verbatim.
    * The (23,0)×(14,12) precision budget is load-bearing — see
    * [[theilFromCounts]]. */
  def theilByGroupFromCounts(
      counts: DataFrame, groupCol: String): DataFrame = {
    val (gv, gc) = guardedMassCols("theilByGroupFromCounts")
    val guarded = counts.select(col("__g"), gv, gc)
    val totals = guarded.groupBy("__g").agg(
      sum(col("cnt")).as("__n"),
      sum(col("v").cast("long").cast("decimal(38,0)") *
        col("cnt").cast("decimal(38,0)")).as("__t"))
    val share = col("v").cast("double") / col("__t").cast("double")
    val term = when(col("v") > 0.0,
        share * log(col("__n").cast("double") * share))
      .otherwise(lit(0.0))
    theilGroupReadout(
      guarded.alias("__l")
        .join(totals.alias("__r"), col("__l.__g") <=> col("__r.__g"))
        .select(col("__l.__g").as("__g"), col("v"), col("cnt"),
          col("__n"), col("__t"))
        .groupBy("__g").agg(
          max(col("__n")).as("n"), max(col("__t")).as("__t"),
          sum(col("cnt").cast("decimal(23,0)") *
            round(term, 12).cast("decimal(14,12)")).cast("double")
            .as("__theil")),
      groupCol)
  }

  /** The shared loud per-group mass projection. */
  private def guardedGroupMasses(
      df: DataFrame, groupCol: String, valueCol: String,
      op: String): DataFrame =
    df.filter(col(valueCol).isNotNull).select(
      col(groupCol).cast("string").as("__g"),
      when(col(valueCol).cast("double") >= 0.0 &&
          col(valueCol).cast("double") ===
            floor(col(valueCol).cast("double")),
          col(valueCol).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"$op: mass must be a non-negative integer, got "),
          col(valueCol).cast("string")))).as("__x"))

  /** Theil's additive decomposition — the reason Theil exists: corpus
    * concentration splits EXACTLY into between-group and
    * mass-weighted within-group parts,
    * `T = Σ_g s_g·ln(s_g·n/n_g) + Σ_g s_g·T_g` with `s_g = M_g/M` —
    * the audit trail ("is the corpus concentrated because a few
    * SOURCES dominate, or because docs WITHIN each source do?") that
    * Gini provably cannot give. Zero-mass groups contribute 0 to both
    * parts (the s·ln(s) limit); per-term 12dp-rounded decimal sums
    * everywhere (the identity is exact in real arithmetic; the three
    * emitted numbers each carry one rounding layer, so
    * between6 + within6 matches theil6 to ~1e-5, pinned by spec).
    *
    * Scale shape: one group-bounded (n_g, M_g) aggregation; the
    * between part is a map-only pass over THAT table; the within part
    * joins masses back to it once and runs one more
    * map-side-combined sum. Output: one row — (`n`, `n_groups`,
    * `total`, `theil6`, `between6`, `within6`). */
  def theilDecomposition(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    Blocks.scoped { s =>
      val masses = s.checkpoint(guardedGroupMasses(df, groupCol, valueCol,
        "theilDecomposition"))
      val groups = s.checkpoint(masses.groupBy("__g").agg(
          count(lit(1)).as("__ng"),
          sum(col("__x").cast("decimal(38,0)")).as("__tg")))
      val top = groups.agg(count(lit(1)).as("gs"),
        coalesce(sum(col("__ng")), lit(0L)).as("n"),
        coalesce(sum(col("__tg")), lit(0).cast("decimal(38,0)"))
          .as("t")).head()
      val (nGroups, n) = (top.getLong(0), top.getLong(1))
      require(n > 0L, "theilDecomposition: no non-null masses")
      val t = BigDecimal(top.getDecimal(2))
      require(t > BigDecimal(0),
        "theilDecomposition: total mass is zero — T is 0/0")
      val m = t.toDouble
      def dsum(c: org.apache.spark.sql.Column) =
        sum(round(c, 12).cast("decimal(38,12)")).cast("double")
      // total: the theilIndex term pass over the checkpointed masses
      val shareAll = col("__x").cast("double") / lit(m)
      val theil = masses.agg(dsum(when(col("__x") > 0L,
          shareAll * log(lit(n.toDouble) * shareAll))
        .otherwise(lit(0.0)))).head().getDouble(0)
      // between: s_g · ln(s_g · n / n_g) over the group table
      val sg = col("__tg").cast("double") / lit(m)
      val between = groups.agg(dsum(when(col("__tg") > 0,
          sg * log(sg * lit(n.toDouble) / col("__ng").cast("double")))
        .otherwise(lit(0.0)))).head().getDouble(0)
      // within: s_g · T_g — the per-group term pass weighted in one go:
      // Σ_g s_g Σ_i (x/M_g)·ln(n_g·x/M_g) = Σ_i (x/M)·ln(n_g·x/M_g)
      val withinTerm = when(col("__x") > 0L,
          (col("__x").cast("double") / lit(m)) *
            log(col("__ng").cast("double") *
              col("__x").cast("double") / col("__tg").cast("double")))
        .otherwise(lit(0.0))
      // null-safe: the NULL group's s_g·T_g term must stay in the
      // within sum or the spec-pinned between+within==total identity
      // breaks on NULL-group corpora
      val within = masses.alias("__l")
        .join(groups.alias("__r"), col("__l.__g") <=> col("__r.__g"))
        .agg(dsum(withinTerm)).head().getDouble(0)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import spark.implicits._
      Seq((n, nGroups, t.toLongExact, r6(theil), r6(between), r6(within)))
        .toDF("n", "n_groups", "total", "theil6", "between6", "within6")
    }
  }

  /** [[theilIndex]] off the SUM-foldable (v, cnt) value-count state:
    * every row at mass `v` contributes the IDENTICAL 12dp-rounded
    * term, so `Σ_rows round(term, 12) = Σ_v cnt·round(term_v, 12)`
    * EXACTLY (an integer multiple of a decimal is exact) — the counts
    * path, the incremental fold, and the streaming monitor are held
    * to the direct oracle verbatim, closing Theil's maintenance
    * matrix on the same grid as quantiles/KS/Gini/HHI. Same loud
    * (v, cnt) contract as [[giniFromCounts]]. Output: [[theilIndex]]'s
    * schema verbatim. */
  def theilFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    val (gv, gc) = guardedMassCols("theilFromCounts")
    Blocks.scoped { s =>
      val guarded = s.checkpoint(counts.select(gv, gc))
      val top = guarded.agg(
        coalesce(sum(col("cnt")), lit(0L)).as("n"),
        coalesce(sum(col("v").cast("long").cast("decimal(38,0)") *
            col("cnt").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("t")).head()
      val n = top.getLong(0)
      require(n > 0L, "theilFromCounts: empty count state")
      val t = BigDecimal(top.getDecimal(1))
      require(t > BigDecimal(0),
        "theilFromCounts: total mass is zero — T is 0/0")
      val m = t.toDouble
      val share = col("v").cast("double") / lit(m)
      val term = when(col("v") > 0.0,
          share * log(lit(n.toDouble) * share))
        .otherwise(lit(0.0))
      // precision budget: (23,0) × (14,12) → (38,12) — EXACT. A
      // (38,0) × (38,12) product would blow Spark's 38-digit cap and
      // silently reduce the scale, re-rounding every term to ~6dp
      // (observed: 3e-6 drift vs the per-row sum). |term| < 100 by
      // construction (≤ max(ln n, 1/e)), cnt < 1e23 at any scale.
      val theil = guarded.agg(
          sum(col("cnt").cast("decimal(23,0)") *
            round(term, 12).cast("decimal(14,12)")).cast("double"))
        .head().getDouble(0)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val norm: Option[Double] =
        if (n == 1L) None else Some(r6(theil / math.log(n.toDouble)))
      import spark.implicits._
      Seq((n, t.toLongExact, r6(theil), norm))
        .toDF("n", "total", "theil6", "theil_norm6")
    }
  }

  /** The concentration indices as monitors over the masses' value-count
    * state ([[Profile.valueCountMonitor]]) and its group-keyed twin
    * ([[Profile.groupValueCountMonitor]]); each readout is the
    * `…FromCounts` arithmetic above. */
  def giniMonitor(valueCol: String): FoldMonitor =
    Profile.valueCountMonitor("giniMonitor", valueCol)(giniFromCounts)

  def hhiMonitor(valueCol: String): FoldMonitor =
    Profile.valueCountMonitor("hhiMonitor", valueCol)(hhiFromCounts)

  def theilMonitor(valueCol: String): FoldMonitor =
    Profile.valueCountMonitor("theilMonitor", valueCol)(theilFromCounts)

  def groupGiniMonitor(groupCol: String, valueCol: String): FoldMonitor =
    Profile.groupValueCountMonitor("groupGiniMonitor", groupCol, valueCol)(
      giniByGroupFromCounts(_, groupCol))

  def groupHhiMonitor(groupCol: String, valueCol: String): FoldMonitor =
    Profile.groupValueCountMonitor("groupHhiMonitor", groupCol, valueCol)(
      hhiByGroupFromCounts(_, groupCol))

  def groupTheilMonitor(groupCol: String, valueCol: String): FoldMonitor =
    Profile.groupValueCountMonitor("groupTheilMonitor", groupCol, valueCol)(
      theilByGroupFromCounts(_, groupCol))
}
