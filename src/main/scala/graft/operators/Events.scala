package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StructField, StructType}

/** Event-log analytics over (key, timestamp, type, value) streams:
  * recency-weighted aggregation and ordered funnel conversion — the
  * behavioral-feature operators of an activity pipeline ("how engaged
  * was this user lately", "who completed view → click → purchase and
  * how fast"). No reference counterpart — extensions in the same
  * family as [[Sessionize]] / [[AsOfJoin]].
  */
object Events {

  /** Exponential time-decay weighted sum of `valueCol` per key:
    * each event contributes `value * 2^(-age / halfLifeSec)`, ages
    * measured against the dataset's max timestamp (one scalar,
    * computed in a column-pruned pass and broadcast — so the result
    * is a pure function of the data, reproducible across runs and
    * engines, unlike a wall-clock reference). THE recency feature:
    * yesterday counts double vs one-half-life-ago.
    *
    * Scale shape: the reference timestamp is ONE scalar from a
    * column-pruned max pass to the driver (bounded by construction,
    * like the sampling family's stratum counts — and unlike a 1-row
    * broadcast cross join, it cannot plan as a nested-loop join);
    * weighting is then a map-only literal expression and the per-key
    * sum one map-side-combined aggregation. The max pass runs eagerly
    * at call time — hand the operator a materialized frame, not an
    * expensive unmaterialized plan it would execute twice. NULL
    * values contribute nothing to the sum but still count in `n`. */
  def decayWeightedSum(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      halfLifeSec: Double,
      outCol: String = "decayed_sum"): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    require(halfLifeSec > 0, s"halfLifeSec ($halfLifeSec) must be positive")
    TempCols.reserve(df, "decayWeightedSum", "__w")
    val refRow = df.agg(max(unix_micros(col(tsCol)))).head()
    require(!refRow.isNullAt(0), "decayWeightedSum needs at least one non-null timestamp")
    val refUs = refRow.getLong(0)
    df.withColumn("__w", pow(lit(0.5),
        (lit(refUs) - unix_micros(col(tsCol))).cast("double")
          / 1e6 / halfLifeSec))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(valueCol) * col("__w")).as(outCol), count(lit(1)).as("n"))
  }

  /** Cohort retention: group keys by the week of their FIRST event
    * (Monday-start `date_trunc`), then count distinct keys active in
    * each whole-week offset from their cohort — the (cohort x week)
    * retention matrix behind every "do users come back" curve.
    * Returns (`cohort_week` ISO date string, `week_offset` 0-based,
    * `n_keys`).
    *
    * Scale shape: the first-event pass is one map-side-combined min
    * bounded by the key count; joining it back is keyed on the same
    * column the events already hash by (unhinted — AQE broadcasts a
    * small key table); the distinct count shuffles (cohort, offset,
    * key) triples, bounded by keys x active weeks, never raw events. */
  /** Trailing-baseline rate anomaly detection — the ops-side twin of
    * the corpus quality gates: per (`typeCol`, fixed event-time
    * window) counts, each window judged against the mean + `z` x
    * stddev of its own type's `trailing` PRECEDING observed windows
    * (current window excluded — an anomaly must not inflate its own
    * baseline). A window with fewer than `minPrior` observed
    * predecessors is never flagged (cold-start suppression), and the
    * threshold comparison uses the 6-decimal-ROUNDED baseline so two
    * engines computing the same trailing stats in different float
    * order cannot disagree on the flag at a sub-gate margin.
    *
    * Baseline is over OBSERVED windows: a type silent for an hour
    * contributes no zero-count rows (detecting rate DROPS needs a
    * gap-filled series — a different operator). Scale shape: one
    * map-side-combined count aggregation (shuffle bounded by
    * types x windows), then a per-type ROWS window — sorts within
    * types only, never a global sort; type cardinality is the
    * parallelism floor, fine for the bounded type alphabets of real
    * event logs. */
  def rateAnomalies(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      windowUs: Long,
      trailing: Int,
      z: Double,
      minPrior: Int = 3): DataFrame = {
    require(windowUs > 0, "windowUs must be positive")
    require(trailing >= 1, "trailing must be >= 1")
    require(minPrior >= 2,
      s"minPrior ($minPrior) must be >= 2 — stddev of one window is NULL")
    require(minPrior <= trailing, "minPrior cannot exceed trailing")
    val counts = events
      .select((unix_micros(col(tsCol)) -
          pmod(unix_micros(col(tsCol)), lit(windowUs))).as("window_start_us"),
        col(typeCol).as("event_type"))
      .groupBy("window_start_us", "event_type")
      .agg(count(lit(1)).as("n"))
    val pre = Window.partitionBy("event_type").orderBy("window_start_us")
      .rowsBetween(-trailing, -1)
    counts
      .withColumn("base_mean", avg(col("n").cast("double")).over(pre))
      .withColumn("base_sd", stddev_samp(col("n").cast("double")).over(pre))
      .withColumn("n_prior", count(lit(1)).over(pre).cast("int"))
      .withColumn("anomalous",
        col("n_prior") >= minPrior && col("base_sd").isNotNull &&
          col("n").cast("double") >
            round(col("base_mean") + lit(z) * col("base_sd"), 6))
  }

  def cohortRetention(
      df: DataFrame,
      keyCol: String,
      tsCol: String): DataFrame = {
    TempCols.reserve(df, "cohortRetention", "__first_ts")
    val first = df.groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("__first_ts"))
    df.select(col(keyCol), col(tsCol))
      .join(first, keyCol)
      .select(col(keyCol),
        date_trunc("week", col("__first_ts")).cast("date").as("__cw"),
        date_trunc("week", col(tsCol)).cast("date").as("__ww"))
      .groupBy(col("__cw").cast("string").as("cohort_week"),
        (datediff(col("__ww"), col("__cw")) / 7).cast("int").as("week_offset"))
      .agg(countDistinct(col(keyCol)).as("n_keys"))
  }

  /** Kaplan–Meier survival (retention) curve over RIGHT-CENSORED
    * durations — the survival-analysis completion of
    * [[cohortRetention]]: the cohort matrix reads retention at fixed
    * offsets but silently treats a user whose observation window
    * simply ENDED as churned; KM credits a censored user to every
    * risk set up to their last-seen duration and to none after, the
    * unbiased estimate when users join continuously. One row per
    * subject: `durationCol` (time observed, must be >= 0) and
    * `observedCol` (true = the event/churn happened at that duration;
    * false = censored there). At each distinct duration `t` with
    * `n_t` at risk and `d_t` events, `S(t) = Π_{s<=t} (1 − d_s/n_s)`
    * — the product over EVENT times only; censoring times appear in
    * the output with the survival carried forward.
    *
    * Scale shape: subjects collapse onto the distinct-duration grid
    * in one map-side-combined pass; risk sets are `total − prefix`
    * off ONE range-partitioned prefix sum
    * ([[General.withRunningTotal]] — never a global one-partition
    * window); the cumulative product runs as a SECOND prefix sum of
    * 12dp fixed-point `ln(1 − d/n)` terms (exact longs — shard
    * order provably cannot move a digit) exponentiated at readout
    * on the 6dp gate. A risk set fully consumed (`d = n`) drops
    * survival to EXACTLY 0 from that duration on (a prefix-summed
    * flag, never `exp(−∞)`). Duration grids past 200k distinct
    * values are refused loudly (the fixed-point budget — coarsen the
    * duration unit). NULL duration/observed rows are excluded;
    * negative durations fail loudly.
    *
    * Output: one row per distinct duration — (`t`, `n_risk`,
    * `n_events`, `n_censored`, `survival6`), duration ascending. */
  def kaplanMeier(
      df: DataFrame, durationCol: String, observedCol: String): DataFrame = {
    TempCols.reserve(df, "kaplanMeier",
      "__t", "__o", "__d", "__c", "__dc", "__pre", "__n", "__lt", "__z",
      "__lp", "__zp")
    kaplanMeierFromCells(survivalCellsOf(df, durationCol, observedCol))
  }

  /** One shard's duration-grid cell state — `(__t, __d, __c)`: per
    * distinct duration, event and censor counts. The SUM-foldable
    * sufficient statistics of the whole KM readout (risk sets and the
    * product depend on the subjects only through these counts), so
    * the batch, incremental, and streaming survival curves are
    * formulations of one ground truth. */
  private[graft] def survivalCellsOf(
      df: DataFrame, durationCol: String, observedCol: String): DataFrame =
    df.filter(col(durationCol).isNotNull && col(observedCol).isNotNull)
      .select(col(durationCol).cast("double").as("__t"),
        col(observedCol).cast("boolean").as("__o"))
      .groupBy("__t").agg(
        sum(when(col("__o"), 1L).otherwise(0L)).as("__d"),
        sum(when(!col("__o"), 1L).otherwise(0L)).as("__c"))

  /** The survival-cell fold: union + one grid-bounded re-aggregation;
    * counts merge by SUM. */
  def foldSurvivalCells(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__t")
      .agg(sum(col("__d")).as("__d"), sum(col("__c")).as("__c"))

  /** [[kaplanMeier]] as a [[FoldMonitor]] over the duration-grid cells
    * (grid-bounded, never the subjects): the retention curve that
    * stays current as cohorts mature. */
  def kaplanMeierMonitor(
      durationCol: String, observedCol: String): FoldMonitor =
    FoldMonitor("kaplanMeierMonitor", _.select(durationCol, observedCol),
      survivalCellsOf(_, durationCol, observedCol), foldSurvivalCells,
      kaplanMeierFromCells)

  /** [[kaplanMeier]]'s readout over accumulated `(__t, __d, __c)`
    * state — shared verbatim by the batch operator, the incremental
    * fold, and the streaming monitor (the guards run here, over the
    * accumulated grid). */
  private[graft] def kaplanMeierFromCells(cells: DataFrame): DataFrame = {
    val g = cells.withColumn("__dc", col("__d") + col("__c"))
    val chk = g.agg(count(lit(1)),
      coalesce(sum(col("__dc")), lit(0L)),
      coalesce(min(col("__t")), lit(0.0))).head()
    val (nGrid, total, minT) =
      (chk.getLong(0), chk.getLong(1), chk.getDouble(2))
    require(total > 0L, "kaplanMeier: no complete (duration, observed) rows")
    require(minT >= 0.0,
      s"kaplanMeier: negative duration $minT — durations are time spans")
    require(nGrid <= 200000L,
      s"kaplanMeier: $nGrid distinct durations exceeds the fixed-point " +
        "budget (200000) — coarsen the duration unit (days, not micros)")
    val pre = General.withRunningTotal(g, Seq("__t"), "__dc", "__pre")
    val atRisk = lit(total) - col("__pre")
    val lnTerm = when(col("__d") > 0L && col("__d") < atRisk,
      (round(log(lit(1.0) -
          col("__d").cast("double") / atRisk.cast("double")), 12)
        .cast("decimal(28,12)") * lit(1000000000000L)).cast("long"))
      .otherwise(lit(0L))
    val withT = pre.withColumn("__n", atRisk)
      .withColumn("__lt", lnTerm)
      .withColumn("__z", when(col("__d") === col("__n"), 1L).otherwise(0L))
    val p2 = General.withRunningTotal(withT, Seq("__t"), "__lt", "__lp")
    val p3 = General.withRunningTotal(p2, Seq("__t"), "__z", "__zp")
    p3.select(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("n_events"), col("__c").as("n_censored"),
        when(col("__zp") + col("__z") > 0L, lit(0.0))
          .otherwise(round(exp(
            (col("__lp") + col("__lt")).cast("double") / lit(1.0e12)), 6))
          .as("survival6"))
      .orderBy("t")
  }

  /** Nelson–Aalen cumulative hazard — the SECOND reader of
    * [[kaplanMeier]]'s maintained duration-grid cells: `H(t) =
    * Σ_{s≤t} d_s/n_s`, the estimator whose INCREMENTS are the
    * interpretable quantity (each step is that duration's raw event
    * rate among those still at risk — flat stretches mean nothing is
    * happening, a steepening slope means conversion/churn is
    * accelerating; KM's product answers "how many survive", this
    * answers "how hard is the hazard pushing"). A fully consumed risk
    * set contributes its exact `d/n = 1` — no infinity to special-case
    * (the reason NA is the numerically robust twin).
    *
    * Same scale shape as the KM readout: one range-partitioned prefix
    * for risk sets, one for the 12dp fixed-point `d/n` terms, readout
    * on the 6dp gate; same guards. Output: one row per distinct
    * duration — (`t`, `n_risk`, `n_events`, `n_censored`,
    * `cumhaz6`). */
  def nelsonAalen(
      df: DataFrame, durationCol: String, observedCol: String): DataFrame = {
    TempCols.reserve(df, "nelsonAalen",
      "__t", "__o", "__d", "__c", "__dc", "__pre", "__n", "__ht", "__hp")
    nelsonAalenFromCells(survivalCellsOf(df, durationCol, observedCol))
  }

  /** [[nelsonAalen]]'s readout over accumulated `(__t, __d, __c)`
    * state — the same fold ([[foldSurvivalCells]]) serves KM and NA. */
  private[graft] def nelsonAalenFromCells(cells: DataFrame): DataFrame = {
    val g = cells.withColumn("__dc", col("__d") + col("__c"))
    val chk = g.agg(count(lit(1)),
      coalesce(sum(col("__dc")), lit(0L)),
      coalesce(min(col("__t")), lit(0.0))).head()
    val (nGrid, total, minT) =
      (chk.getLong(0), chk.getLong(1), chk.getDouble(2))
    require(total > 0L, "nelsonAalen: no complete (duration, observed) rows")
    require(minT >= 0.0,
      s"nelsonAalen: negative duration $minT — durations are time spans")
    require(nGrid <= 200000L,
      s"nelsonAalen: $nGrid distinct durations exceeds the fixed-point " +
        "budget (200000) — coarsen the duration unit")
    val pre = General.withRunningTotal(g, Seq("__t"), "__dc", "__pre")
    val atRisk = lit(total) - col("__pre")
    val hTerm = when(col("__d") > 0L,
      (round(col("__d").cast("double") / atRisk.cast("double"), 12)
        .cast("decimal(28,12)") * lit(1000000000000L)).cast("long"))
      .otherwise(lit(0L))
    val withT = pre.withColumn("__n", atRisk).withColumn("__ht", hTerm)
    General.withRunningTotal(withT, Seq("__t"), "__ht", "__hp")
      .select(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("n_events"), col("__c").as("n_censored"),
        round((col("__hp") + col("__ht")).cast("double") / lit(1.0e12), 6)
          .as("cumhaz6"))
      .orderBy("t")
  }

  /** PER-GROUP Nelson–Aalen — [[nelsonAalen]] keyed by a slice column
    * ("whose conversion pressure is accelerating?"): the
    * [[kaplanMeierByGroup]] grid shape with the simpler hazard
    * arithmetic — group-local risk sets off one range-partitioned
    * prefix with group-MIN offsets, the `d/n` fixed-point terms
    * (non-negative, so the min-offset recovery IS valid here, unlike
    * the KM ln terms) off a second. Output: one row per
    * (group, duration) — (`g` as STRING, `t`, `n_risk`, `n_events`,
    * `n_censored`, `cumhaz6`), ordered by (g, t). */
  def nelsonAalenByGroup(
      df: DataFrame, groupCol: String, durationCol: String,
      observedCol: String): DataFrame = {
    TempCols.reserve(df, "nelsonAalenByGroup",
      "__g", "__t", "__o", "__d", "__c", "__dc", "__pre", "__off",
      "__tot", "__n", "__ht", "__hp", "__ho")
    val rows = df
      .filter(col(durationCol).isNotNull && col(observedCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(durationCol).cast("double").as("__t"),
        col(observedCol).cast("boolean").as("__o"))
    val g = rows.groupBy("__g", "__t").agg(
        sum(when(col("__o"), 1L).otherwise(0L)).as("__d"),
        sum(when(!col("__o"), 1L).otherwise(0L)).as("__c"))
      .withColumn("__dc", col("__d") + col("__c"))
    val chk = g.agg(count(lit(1)),
      coalesce(min(col("__t")), lit(0.0))).head()
    val (nGrid, minT) = (chk.getLong(0), chk.getDouble(1))
    require(nGrid > 0L,
      "nelsonAalenByGroup: no complete (duration, observed) rows")
    require(minT >= 0.0,
      s"nelsonAalenByGroup: negative duration $minT")
    require(nGrid <= 200000L,
      s"nelsonAalenByGroup: $nGrid (group, duration) cells exceeds the " +
        "fixed-point budget (200000) — coarsen the duration unit")
    val pre = General.withRunningTotal(g, Seq("__g", "__t"), "__dc", "__pre")
    val offs = pre.groupBy("__g").agg(
      min(col("__pre")).as("__off"), sum(col("__dc")).as("__tot"))
    val j = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("__t"), col("__d"),
        col("__c"),
        (col("__tot") - (col("__pre") - col("__off"))).as("__n"))
    val hTerm = when(col("__d") > 0L,
      (round(col("__d").cast("double") / col("__n").cast("double"), 12)
        .cast("decimal(28,12)") * lit(1000000000000L)).cast("long"))
      .otherwise(lit(0L))
    val p2 = General.withRunningTotal(
      j.withColumn("__ht", hTerm), Seq("__g", "__t"), "__ht", "__hp")
    val hOffs = p2.groupBy("__g").agg(min(col("__hp")).as("__ho"))
    p2.alias("__a")
      .join(hOffs.alias("__b"), col("__a.__g") <=> col("__b.__g"))
      .select(col("__a.__g").as("g"), col("__t").as("t"),
        col("__n").as("n_risk"), col("__d").as("n_events"),
        col("__c").as("n_censored"),
        round((col("__hp") - col("__ho") + col("__ht")).cast("double") /
          lit(1.0e12), 6).as("cumhaz6"))
      .orderBy("g", "t")
  }

  /** Restricted mean survival time — the area under [[kaplanMeier]]'s
    * step curve up to a horizon `tau`: "expected days survived (or
    * until conversion) within the first τ days", the single-number
    * summary that stays well-defined under heavy censoring where the
    * median survival may never be reached. Computed EXACTLY on the
    * step function: segment `[t_{i-1}, t_i)` carries the survival
    * AFTER `t_{i-1}` (S₀ = 1 before the first grid point), each
    * segment clipped to `[0, τ]`, 12dp-rounded products summed as
    * exact decimals, plus the tail `[t_last, τ]` at the final
    * survival when τ runs past the grid.
    *
    * One [[kaplanMeier]] readout + one range-partitioned lag
    * ([[General.withPrevValue]]) + one decimal sum. Output: one row —
    * (`tau`, `n`, `n_events`, `rmst6`). */
  def rmst(
      df: DataFrame, durationCol: String, observedCol: String,
      tau: Double): DataFrame = {
    require(tau > 0.0, s"rmst: tau ($tau) must be positive")
    val spark = df.sparkSession
    val curve = kaplanMeier(df, durationCol, observedCol)
    val lagged = General.withPrevValue(
      General.withPrevValue(curve, Seq("t"), "t", "__pt"),
      Seq("t"), "survival6", "__ps")
    // segment [prev_t, t) carries prev survival (1 before the grid)
    val segStart = coalesce(col("__pt"), lit(0.0))
    val segSurv = coalesce(col("__ps"), lit(1.0))
    val clippedEnd = least(col("t"), lit(tau))
    val term = when(segStart < lit(tau),
      round(segSurv * (clippedEnd - segStart), 12).cast("decimal(38,12)"))
      .otherwise(lit(0).cast("decimal(38,12)"))
    // the tail segment needs the LAST grid row's survival: a top-1
    // (TakeOrdered), never a global window
    val lastRow = curve.orderBy(col("t").desc).limit(1)
      .select(col("t"), col("survival6")).head()
    val (tLast, sLast) = (lastRow.getDouble(0), lastRow.getDouble(1))
    val base = lagged.agg(
      coalesce(sum(term), lit(0).cast("decimal(38,12)")),
      coalesce(sum(col("n_events")), lit(0L)),
      coalesce(sum(col("n_events") + col("n_censored")), lit(0L))).head()
    val inGrid = base.getDecimal(0)
    val nEv = base.getLong(1)
    val n = base.getLong(2)
    val tail =
      if (tau > tLast)
        java.math.BigDecimal.valueOf(sLast * (tau - tLast))
          .setScale(12, java.math.RoundingMode.HALF_UP)
      else java.math.BigDecimal.ZERO
    val rmst6 = BigDecimal(inGrid.add(tail).doubleValue)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((tau, n, nEv, rmst6)).toDF("tau", "n", "n_events", "rmst6")
  }

  /** Aalen–Johansen cumulative incidence under COMPETING RISKS —
    * when a subject can exit for more than one reason (convert vs
    * churn; click vs bounce), "1 − KM per cause, treating the other
    * cause as censoring" is the classic BIAS (it pretends competing
    * exits could still have the event later, overestimates every
    * cause, and the per-cause curves can sum past 1). The honest
    * estimator: `CIF_k(t) = Σ_{s≤t} S(s⁻)·d_k(s)/n(s)` with `S` the
    * ALL-CAUSE Kaplan–Meier — per-cause incidences then provably sum
    * with the overall survival to exactly 1 at any time with no
    * censoring beyond it. Input: one row per subject — a duration
    * and an event-type STRING (`NULL` = censored).
    *
    * Scale shape: the all-cause grid runs [[kaplanMeier]]'s prefix
    * machinery, `S(s⁻)` falling out of the EXCLUSIVE prefixes
    * directly; per-(type, time) cells join the grid on the duration
    * (grid-bounded), and each type's running incidence is one more
    * range-partitioned prefix with group-MIN offsets (terms
    * non-negative). Same guards as [[kaplanMeier]]. Output: one row
    * per (event type, its own event times) — (`event_type`, `t`,
    * `n_risk`, `n_events`, `cif6`), ordered by (type, t); the CIF is
    * a step function changing only at own-type event times. */
  def cumulativeIncidence(
      df: DataFrame, durationCol: String, eventCol: String): DataFrame = {
    TempCols.reserve(df, "cumulativeIncidence",
      "__t", "__k", "__d", "__c", "__dc", "__pre", "__n", "__lt", "__z",
      "__lp", "__zp", "__sm", "__dk", "__ci", "__cp", "__off")
    val rows = df.filter(col(durationCol).isNotNull)
      .select(col(durationCol).cast("double").as("__t"),
        col(eventCol).cast("string").as("__k"))
    val grid = rows.groupBy("__t").agg(
        sum(when(col("__k").isNotNull, 1L).otherwise(0L)).as("__d"),
        sum(when(col("__k").isNull, 1L).otherwise(0L)).as("__c"))
      .withColumn("__dc", col("__d") + col("__c"))
    val chk = grid.agg(count(lit(1)),
      coalesce(sum(col("__dc")), lit(0L)),
      coalesce(min(col("__t")), lit(0.0))).head()
    val (nGrid, total, minT) =
      (chk.getLong(0), chk.getLong(1), chk.getDouble(2))
    require(total > 0L, "cumulativeIncidence: no subjects")
    require(minT >= 0.0,
      s"cumulativeIncidence: negative duration $minT")
    require(nGrid <= 200000L,
      s"cumulativeIncidence: $nGrid distinct durations exceeds the " +
        "fixed-point budget (200000) — coarsen the duration unit")
    val pre = General.withRunningTotal(grid, Seq("__t"), "__dc", "__pre")
    val atRisk = lit(total) - col("__pre")
    val lnTerm = when(col("__d") > 0L && col("__d") < atRisk,
      (round(log(lit(1.0) -
          col("__d").cast("double") / atRisk.cast("double")), 12)
        .cast("decimal(28,12)") * lit(1000000000000L)).cast("long"))
      .otherwise(lit(0L))
    val withT = pre.withColumn("__n", atRisk)
      .withColumn("__lt", lnTerm)
      .withColumn("__z", when(col("__d") === col("__n"), 1L).otherwise(0L))
    val p2 = General.withRunningTotal(withT, Seq("__t"), "__lt", "__lp")
    val p3 = General.withRunningTotal(p2, Seq("__t"), "__z", "__zp")
    // S(t−) IS the exclusive prefix — no + own term
    val sMinus = when(col("__zp") > 0L, lit(0.0))
      .otherwise(exp(col("__lp").cast("double") / lit(1.0e12)))
    val tInfo = p3.select(col("__t"), col("__n"), sMinus.as("__sm"))
    val cellsK = rows.filter(col("__k").isNotNull)
      .groupBy("__k", "__t").agg(count(lit(1)).as("__dk"))
    val withTerm = cellsK.join(tInfo, Seq("__t"))
      .withColumn("__ci",
        (round(col("__sm") * col("__dk").cast("double") /
            col("__n").cast("double"), 12)
          .cast("decimal(28,12)") * lit(1000000000000L)).cast("long"))
    val cum = General.withRunningTotal(
      withTerm, Seq("__k", "__t"), "__ci", "__cp")
    val offs = cum.groupBy("__k").agg(min(col("__cp")).as("__off"))
    cum.alias("__l")
      .join(offs.alias("__r"), col("__l.__k") === col("__r.__k"))
      .select(col("__l.__k").as("event_type"), col("__t").as("t"),
        col("__n").as("n_risk"), col("__dk").as("n_events"),
        round((col("__cp") - col("__off") + col("__ci")).cast("double") /
          lit(1.0e12), 6).as("cif6"))
      .orderBy("event_type", "t")
  }

  /** PER-GROUP restricted mean survival time — [[rmst]] keyed by a
    * slice column ("expected days-to-conversion within 20, per
    * cohort" — the per-slice effect readout survival comparisons
    * actually report): segments ride the distributed lag run THREE
    * times (t, survival, and the group itself — a lag crossing a
    * group boundary must read the BEFORE-GRID defaults (0, 1), not
    * the previous group's tail), per-group sums are one aggregation,
    * and each group's past-grid tail comes off a `max_by` over its
    * last curve row — fully IN-PLAN, group cardinality unbounded.
    * Output: one row per group — (`g`, `tau`, `n`, `n_events`,
    * `rmst6`), ordered by group. */
  def rmstByGroup(
      df: DataFrame, groupCol: String, durationCol: String,
      observedCol: String, tau: Double): DataFrame = {
    require(tau > 0.0, s"rmstByGroup: tau ($tau) must be positive")
    val curve = kaplanMeierByGroup(df, groupCol, durationCol, observedCol)
    val lagged = General.withPrevValue(
      General.withPrevValue(
        General.withPrevValue(curve, Seq("g", "t"), "t", "__pt"),
        Seq("g", "t"), "survival6", "__ps"),
      Seq("g", "t"), "g", "__pg")
    val sameG = col("__pg") <=> col("g")
    val segStart = when(sameG, coalesce(col("__pt"), lit(0.0)))
      .otherwise(lit(0.0))
    val segSurv = when(sameG, coalesce(col("__ps"), lit(1.0)))
      .otherwise(lit(1.0))
    val clippedEnd = least(col("t"), lit(tau))
    val term = when(segStart < lit(tau),
      round(segSurv * (clippedEnd - segStart), 12).cast("decimal(38,12)"))
      .otherwise(lit(0).cast("decimal(38,12)"))
    val perG = lagged.groupBy("g").agg(
      coalesce(sum(term), lit(0).cast("decimal(38,12)")).as("__in"),
      coalesce(sum(col("n_events")), lit(0L)).as("__nev"),
      coalesce(sum(col("n_events") + col("n_censored")), lit(0L)).as("__n"),
      max_by(struct(col("t"), col("survival6")), col("t")).as("__last"))
    val tl = col("__last.t")
    val sl = col("__last.survival6")
    val tail = when(lit(tau) > tl,
      round(sl * (lit(tau) - tl), 12).cast("decimal(38,12)"))
      .otherwise(lit(0).cast("decimal(38,12)"))
    perG.select(col("g"), lit(tau).as("tau"), col("__n").as("n"),
        col("__nev").as("n_events"),
        round((col("__in") + tail).cast("double"), 6).as("rmst6"))
      .orderBy("g")
  }

  /** PER-GROUP Kaplan–Meier — [[kaplanMeier]] keyed by a slice column
    * ("does the DE cohort churn faster than EN?"), fully IN-PLAN: the
    * (group, duration) grid rides ONE range-partitioned running total
    * for risk sets (group-local prefix = global prefix − the group's
    * MIN, valid because the cell mass is positive — the
    * exactQuantilesByGroup trick), and the ln-product/zero-flag
    * prefixes recover their group offsets from the value AT each
    * group's first row (within-group dc-prefix 0 — the ln terms are
    * NEGATIVE, so a min() offset would be wrong; the first-row carry
    * is the correct one for any sign). Group cardinality unbounded;
    * NULL is its own group; guards are [[kaplanMeier]]'s (the
    * fixed-point budget bounds the whole grid).
    *
    * Output: one row per (group, duration) — (`g` as STRING, `t`,
    * `n_risk`, `n_events`, `n_censored`, `survival6`), ordered by
    * (g, t). */
  def kaplanMeierByGroup(
      df: DataFrame, groupCol: String, durationCol: String,
      observedCol: String): DataFrame = {
    TempCols.reserve(df, "kaplanMeierByGroup",
      "__g", "__t", "__o", "__d", "__c", "__dc", "__pre", "__off",
      "__tot", "__k0", "__n", "__lt", "__z", "__lp", "__zp", "__lo",
      "__zo")
    val rows = df
      .filter(col(durationCol).isNotNull && col(observedCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(durationCol).cast("double").as("__t"),
        col(observedCol).cast("boolean").as("__o"))
    val g = rows.groupBy("__g", "__t").agg(
        sum(when(col("__o"), 1L).otherwise(0L)).as("__d"),
        sum(when(!col("__o"), 1L).otherwise(0L)).as("__c"))
      .withColumn("__dc", col("__d") + col("__c"))
    val chk = g.agg(count(lit(1)),
      coalesce(min(col("__t")), lit(0.0))).head()
    val (nGrid, minT) = (chk.getLong(0), chk.getDouble(1))
    require(nGrid > 0L,
      "kaplanMeierByGroup: no complete (duration, observed) rows")
    require(minT >= 0.0,
      s"kaplanMeierByGroup: negative duration $minT — durations are " +
        "time spans")
    require(nGrid <= 200000L,
      s"kaplanMeierByGroup: $nGrid (group, duration) cells exceeds the " +
        "fixed-point budget (200000) — coarsen the duration unit")
    val pre = General.withRunningTotal(g, Seq("__g", "__t"), "__dc", "__pre")
    val offs = pre.groupBy("__g").agg(
      min(col("__pre")).as("__off"), sum(col("__dc")).as("__tot"))
    val j = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__g") <=> col("__r.__g"))
      .select(col("__l.__g").as("__g"), col("__t"), col("__d"),
        col("__c"), col("__dc"),
        (col("__pre") - col("__off")).as("__k0"),
        (col("__tot") - (col("__pre") - col("__off"))).as("__n"))
    val lnTerm = when(col("__d") > 0L && col("__d") < col("__n"),
      (round(log(lit(1.0) -
          col("__d").cast("double") / col("__n").cast("double")), 12)
        .cast("decimal(28,12)") * lit(1000000000000L)).cast("long"))
      .otherwise(lit(0L))
    val withT = j.withColumn("__lt", lnTerm)
      .withColumn("__z", when(col("__d") === col("__n"), 1L).otherwise(0L))
    val p2 = General.withRunningTotal(withT, Seq("__g", "__t"), "__lt", "__lp")
    val p3 = General.withRunningTotal(p2, Seq("__g", "__t"), "__z", "__zp")
    val carry = p3.groupBy("__g").agg(
      max(when(col("__k0") === 0L, col("__lp"))).as("__lo"),
      max(when(col("__k0") === 0L, col("__zp"))).as("__zo"))
    p3.alias("__a")
      .join(carry.alias("__b"), col("__a.__g") <=> col("__b.__g"))
      .select(col("__a.__g").as("g"), col("__t").as("t"),
        col("__n").as("n_risk"), col("__d").as("n_events"),
        col("__c").as("n_censored"),
        when(col("__zp") - col("__zo") + col("__z") > 0L, lit(0.0))
          .otherwise(round(exp(
            (col("__lp") - col("__lo") + col("__lt")).cast("double") /
              lit(1.0e12)), 6))
          .as("survival6"))
      .orderBy("g", "t")
  }

  /** Two-sample log-rank test — do two retention curves differ, with
    * censoring handled honestly (the hypothesis test next to
    * [[kaplanMeier]]'s estimate): at every pooled event time the
    * observed group-A events are compared to the hypergeometric
    * expectation `d·n_A/n` given the pooled risk set, and
    * `z = Σ(d_A − E)/√ΣV` with `V = d·(n_A/n)·(n_B/n)·(n−d)/(n−1)`
    * (the variance of the hypergeometric draw; a one-at-risk time has
    * zero variance and contributes nothing). Exactly TWO non-NULL
    * groups, loudly checked — for k groups (or a stratification
    * covariate) use [[logRankTestK]], which carries the full
    * covariance matrix.
    *
    * Scale shape: subjects collapse onto the pooled duration grid
    * with per-group conditional counts in one pass; both groups' risk
    * sets come off range-partitioned prefix sums; per-time terms are
    * 12dp-exact decimal sums and the readout is driver arithmetic on
    * two scalars. Guards are [[kaplanMeier]]'s.
    *
    * Output: one row — (`group_a`, `group_b`, `n_a`, `n_b`,
    * `n_events`, `o_a`, `e_a6`, `o_minus_e6`, `var6`, `z6`, `chi2_6`,
    * `hazard_ratio6` — the one-step O/E estimate
    * `(O_a/E_a)/(O_b/E_b)`, the standard effect size next to the
    * test; NULL when either expectation is 0); z/chi2 NULL when the
    * variance is 0 (no information). Group order is lexicographic,
    * so the sign of z is deterministic: z > 0 means group_a saw MORE
    * events than expected (worse survival). */
  def logRankTest(
      df: DataFrame, groupCol: String, durationCol: String,
      observedCol: String): DataFrame = {
    TempCols.reserve(df, "logRankTest",
      "__g", "__t", "__o", "__da", "__ca", "__db", "__cb", "__dca",
      "__dcb", "__pa", "__pb")
    val spark = df.sparkSession
    val rows = df
      .filter(col(groupCol).isNotNull && col(durationCol).isNotNull &&
        col(observedCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(durationCol).cast("double").as("__t"),
        col(observedCol).cast("boolean").as("__o"))
    // limit(16) bounds the misuse path: a high-cardinality group
    // column fails the require loudly WITHOUT a driver-sized collect
    // (count-first-guard discipline, cf. bradleyTerry's maxPairs)
    val gs = rows.select("__g").distinct().orderBy("__g")
      .limit(16).collect().map(_.getString(0))
    require(gs.length == 2,
      s"logRankTest: needs exactly 2 groups, got " +
        s"${if (gs.length >= 16) "16+" else gs.length.toString} " +
        s"(${gs.take(5).mkString(", ")}${if (gs.length > 5) ", …" else ""})")
    val (ga, gb) = (gs(0), gs(1))
    val grid = rows.groupBy("__t").agg(
        sum(when(col("__g") === ga && col("__o"), 1L).otherwise(0L))
          .as("__da"),
        sum(when(col("__g") === ga && !col("__o"), 1L).otherwise(0L))
          .as("__ca"),
        sum(when(col("__g") === gb && col("__o"), 1L).otherwise(0L))
          .as("__db"),
        sum(when(col("__g") === gb && !col("__o"), 1L).otherwise(0L))
          .as("__cb"))
      .withColumn("__dca", col("__da") + col("__ca"))
      .withColumn("__dcb", col("__db") + col("__cb"))
    val chk = grid.agg(count(lit(1)),
      coalesce(sum(col("__dca")), lit(0L)),
      coalesce(sum(col("__dcb")), lit(0L)),
      coalesce(min(col("__t")), lit(0.0))).head()
    val (nGrid, totA, totB, minT) =
      (chk.getLong(0), chk.getLong(1), chk.getLong(2), chk.getDouble(3))
    require(minT >= 0.0,
      s"logRankTest: negative duration $minT — durations are time spans")
    require(nGrid <= 200000L,
      s"logRankTest: $nGrid distinct durations exceeds the grid budget " +
        "(200000) — coarsen the duration unit")
    val p1 = General.withRunningTotal(grid, Seq("__t"), "__dca", "__pa")
    val p2 = General.withRunningTotal(p1, Seq("__t"), "__dcb", "__pb")
    val na = (lit(totA) - col("__pa")).cast("double")
    val nb = (lit(totB) - col("__pb")).cast("double")
    val n = na + nb
    val d = (col("__da") + col("__db")).cast("double")
    def d12(c: Column) = round(c, 12).cast("decimal(38,12)")
    def dz = lit(0).cast("decimal(38,12)")
    val oeTerm = when(d > 0.0,
      d12(col("__da").cast("double") - d * na / n)).otherwise(dz)
    val eaTerm = when(d > 0.0, d12(d * na / n)).otherwise(dz)
    val varTerm = when(d > 0.0 && n > 1.0,
      d12(d * (na / n) * (nb / n) * (n - d) / (n - lit(1.0))))
      .otherwise(dz)
    val t = p2.agg(
      coalesce(sum(oeTerm), dz),
      coalesce(sum(varTerm), dz),
      coalesce(sum(col("__da") + col("__db")), lit(0L)),
      coalesce(sum(col("__da")), lit(0L)),
      coalesce(sum(eaTerm), dz)).head()
    val (oe, v, nEv, oA, eA) =
      (t.getDecimal(0).doubleValue, t.getDecimal(1).doubleValue,
        t.getLong(2), t.getLong(3), t.getDecimal(4).doubleValue)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val z: Option[Double] = if (v > 0.0) Some(r6(oe / math.sqrt(v))) else None
    // one-step hazard-ratio estimate: E_b = total events − E_a,
    // O_b = total events − O_a (each time's expectations sum to d)
    val oB = nEv - oA
    val eB = nEv.toDouble - eA
    val hr: Option[Double] =
      if (eA > 0.0 && eB > 0.0 && oB > 0L)
        Some(r6((oA.toDouble / eA) / (oB.toDouble / eB)))
      else None
    import spark.implicits._
    Seq((ga, gb, totA, totB, nEv, oA, r6(eA), r6(oe), r6(v), z,
        z.map(zz => r6(zz * zz)), hr))
      .toDF("group_a", "group_b", "n_a", "n_b", "n_events",
        "o_a", "e_a6", "o_minus_e6", "var6", "z6", "chi2_6",
        "hazard_ratio6")
  }

  /** k-sample (and stratified) log-rank test — [[logRankTest]]
    * generalized past exactly-2 groups ("does retention differ across
    * k engagement tiers?") with an optional stratification column
    * ("…adjusting for signup cohort?"). Per pooled event time (within
    * each stratum when `strataCol` is set): every group's observed
    * events `d_i`, the hypergeometric expectation `d·n_i/n`, and the
    * full covariance `V_ij = d(n−d)/(n−1) · (δ_ij n_i n − n_i n_j)/n²`
    * accumulate as 12dp-exact decimal sums; strata simply sum their
    * O−E and V contributions (the standard stratified test). The
    * readout is `χ² = vᵀ V₋ᵀ⁻¹ v` over the first k−1 groups, with the
    * inverse applied through the EXACT-decimal adjugate: determinant
    * and cofactors via [[graft.functions.ExactLinAlg]]'s fraction-free
    * Bareiss elimination in a FIXED pivot order, every product rounded
    * at 12dp (a fixed-point algorithm both engines replay bit-for-bit
    * — no float elimination order to disagree on), one final double
    * division, χ² over k−1 df. Bareiss keeps the solve O(m³) per
    * determinant (O(m⁵) with the cofactor loop) — the full
    * `maxGroups = 16` range completes in well under a second, where
    * the previous minor-expansion recursion was O(m!) and would hang
    * the driver past m ≈ 10. A singular (or non-positive-determinant)
    * covariance reads NULL χ² — no information, never a blow-up;
    * `maxGroups` (default 9) bounds the driver-side solve loudly.
    *
    * Scale shape: subjects collapse onto the pooled (stratum,
    * duration) grid with k per-group conditional count columns in ONE
    * pass; all k risk sets come off ONE multi-column range-partitioned
    * prefix ([[General.withRunningTotals]]) with per-stratum MIN
    * offsets (counts are non-negative); per-time terms are in-plan
    * decimal sums — k(k+1)/2 + 2k scalars reach the driver, never
    * rows. Guards are [[kaplanMeier]]'s (grid ≤ 200k cells, durations
    * ≥ 0) plus the group-cardinality bound.
    *
    * Output: one row per group, ordered — (`g`, `n`, `o`, `e6`,
    * `o_minus_e6`, `var6` — the group's covariance diagonal), with
    * the shared readout repeated on every row (`chi2_6`, `df`).
    * At k=2 the χ² agrees with [[logRankTest]]'s z² up to the two
    * formulations' final-digit rounding (spec-pinned). */
  def logRankTestK(
      df: DataFrame, groupCol: String, durationCol: String,
      observedCol: String, strataCol: Option[String] = None,
      maxGroups: Int = 9): DataFrame = {
    require(maxGroups >= 2 && maxGroups <= 16,
      s"logRankTestK: maxGroups ($maxGroups) must be in [2, 16]")
    strataCol.foreach(sc => require(sc != groupCol,
      s"logRankTestK: strata column '$sc' cannot equal the group column"))
    TempCols.reserve(df, "logRankTestK",
      Seq("__g", "__s", "__t", "__o") ++
        (0 until maxGroups).flatMap(i =>
          Seq(s"__d$i", s"__x$i", s"__p$i", s"__off$i", s"__tt$i",
            s"__n$i")): _*)
    val spark = df.sparkSession
    val sExpr: Column = strataCol
      .map(c => col(c).cast("string")).getOrElse(lit(""))
    val rows = df
      .filter(col(groupCol).isNotNull && col(durationCol).isNotNull &&
        col(observedCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        sExpr.as("__s"),
        col(durationCol).cast("double").as("__t"),
        col(observedCol).cast("boolean").as("__o"))
    // limit-bounded probe: a mistaken high-cardinality group column
    // fails loudly without a driver-sized collect
    val gs = rows.select("__g").distinct().orderBy("__g")
      .limit(maxGroups + 1).collect().map(_.getString(0))
    require(gs.length >= 2 && gs.length <= maxGroups,
      s"logRankTestK: needs 2..$maxGroups groups, got " +
        s"${if (gs.length > maxGroups) s"${maxGroups + 1}+" else gs.length.toString} " +
        s"(${gs.take(5).mkString(", ")}${if (gs.length > 5) ", …" else ""})")
    val k = gs.length
    val aggs = (0 until k).flatMap { i =>
      Seq(sum(when(col("__g") === gs(i) && col("__o"), 1L).otherwise(0L))
          .as(s"__d$i"),
        sum(when(col("__g") === gs(i), 1L).otherwise(0L)).as(s"__x$i"))
    }
    val grid = rows.groupBy("__s", "__t").agg(aggs.head, aggs.tail: _*)
    val chk = grid.agg(count(lit(1)),
      coalesce(min(col("__t")), lit(0.0))).head()
    val (nGrid, minT) = (chk.getLong(0), chk.getDouble(1))
    require(minT >= 0.0,
      s"logRankTestK: negative duration $minT — durations are time spans")
    require(nGrid <= 200000L,
      s"logRankTestK: $nGrid (stratum, duration) cells exceeds the grid " +
        "budget (200000) — coarsen the duration unit")
    val pre = General.withRunningTotals(grid, Seq("__s", "__t"),
      (0 until k).map(i => s"__x$i"), (0 until k).map(i => s"__p$i"))
    val offAggs = (0 until k).flatMap { i =>
      Seq(min(col(s"__p$i")).as(s"__off$i"),
        sum(col(s"__x$i")).as(s"__tt$i"))
    }
    val offs = pre.groupBy("__s").agg(offAggs.head, offAggs.tail: _*)
    val nCols = (0 until k).map { i =>
      (col(s"__tt$i") - (col(s"__p$i") - col(s"__off$i")))
        .cast("double").as(s"__n$i")
    }
    val j = pre.alias("__l")
      .join(offs.alias("__r"), col("__l.__s") <=> col("__r.__s"))
      .select(Seq(col("__l.__s").as("__s"), col("__t")) ++
        (0 until k).map(i => col(s"__d$i")) ++
        (0 until k).map(i => col(s"__x$i")) ++ nCols: _*)
    val n = (0 until k).map(i => col(s"__n$i")).reduce(_ + _)
    val d = (0 until k).map(i => col(s"__d$i")).reduce(_ + _).cast("double")
    def d12(c: Column) = round(c, 12).cast("decimal(38,12)")
    def dz = lit(0).cast("decimal(38,12)")
    def ni(i: Int) = col(s"__n$i")
    val oeAggs = (0 until k).flatMap { i =>
      Seq(coalesce(sum(col(s"__d$i")), lit(0L)).as(s"o_$i"),
        coalesce(sum(when(d > 0.0, d12(d * ni(i) / n)).otherwise(dz)), dz)
          .as(s"e_$i"),
        coalesce(sum(col(s"__x$i")), lit(0L)).as(s"nn_$i"))
    }
    val vAggs = for (a <- 0 until (k - 1); b <- a until (k - 1)) yield {
      val cross =
        if (a == b) ni(a) * (n - ni(a))
        else -ni(a) * ni(b)
      coalesce(sum(when(d > 0.0 && n > 1.0,
        d12(d * (n - d) / (n - lit(1.0)) * cross / (n * n)))
        .otherwise(dz)), dz).as(s"v_${a}_$b")
    }
    // the LAST group's diagonal too (reported, though outside V₋)
    val vLast = coalesce(sum(when(d > 0.0 && n > 1.0,
      d12(d * (n - d) / (n - lit(1.0)) *
        (ni(k - 1) * (n - ni(k - 1))) / (n * n))).otherwise(dz)), dz)
      .as(s"v_${k - 1}_${k - 1}")
    val t = j.agg((oeAggs ++ vAggs :+ vLast).head,
      (oeAggs ++ vAggs :+ vLast).tail: _*).head()
    import java.math.{BigDecimal => JBD, RoundingMode}
    def dec(name: String): JBD = t.getDecimal(t.fieldIndex(name))
      .setScale(12, RoundingMode.HALF_UP)
    val o = (0 until k).map(i => t.getLong(t.fieldIndex(s"o_$i")))
    val e = (0 until k).map(i => dec(s"e_$i"))
    val vDiag = (0 until k).map { i =>
      if (i < k - 1) dec(s"v_${i}_$i") else dec(s"v_${k - 1}_${k - 1}")
    }
    val m = k - 1
    val vm = Vector.tabulate(m, m)((a, b) =>
      if (a <= b) dec(s"v_${a}_$b") else dec(s"v_${b}_$a"))
    val oe = (0 until k).map(i =>
      new JBD(o(i)).setScale(12).subtract(e(i)))
    // exact-decimal determinant/adjugate through the shared
    // fraction-free Bareiss recurrence (ExactLinAlg) — O(m³) per
    // determinant with a fixed elimination order both engines can
    // replay digit-for-digit; sizes ≤ 2 are the literal
    // mul12(a,d) − mul12(b,c) minor values, so every k ≤ 3 readout is
    // bit-identical to the pre-Bareiss (round-18) values
    import graft.functions.ExactLinAlg.{mul12, det12, cofactor12}
    val chi2: Option[Double] =
      det12(vm).filter(_.signum > 0).flatMap { det =>
        var num = JBD.ZERO
        for (a <- 0 until m; b <- 0 until m)
          num = num.add(
            mul12(mul12(oe(a), oe(b)), cofactor12(vm, a, b)))
        val q = num.doubleValue / det.doubleValue
        if (q.isNaN || q.isInfinite) None
        else Some(BigDecimal(q)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    def r6(x: JBD) = BigDecimal(x.doubleValue)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    (0 until k).map { i =>
      (gs(i), t.getLong(t.fieldIndex(s"nn_$i")), o(i), r6(e(i)),
        r6(oe(i)), r6(vDiag(i)), chi2, (k - 1).toLong)
    }.toDF("g", "n", "o", "e6", "o_minus_e6", "var6", "chi2_6", "df")
  }

  /** Rolling event-time window features: for every event, the count
    * and (decimal-exact) sum of `valueCol` over this key's events in
    * the PRECEDING `windowSec` seconds, inclusive of the current row —
    * the "activity in the last hour" feature family. Appends
    * `n_<outSuffix>` and `sum_<outSuffix>`.
    *
    * A RANGE window over event time, partitioned by key: one hash
    * shuffle on the key plus a per-key sort, state bounded by the
    * window span — never a whole-log window. Rows sharing a timestamp
    * are PEERS (RANGE semantics): each sees the full peer group, so
    * the result is deterministic under any sort-tie order. The sum
    * aggregates through DECIMAL(18,2) (the engine-wide float-sum
    * convention) so accumulation order cannot wobble the value. */
  def rollingWindow(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      windowSec: Long,
      outSuffix: String): DataFrame = {
    require(windowSec > 0, s"windowSec ($windowSec) must be positive")
    TempCols.reserve(df, "rollingWindow", s"n_$outSuffix", s"sum_$outSuffix") // appended, never overwritten
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowSec * 1000000L, 0L)
    df.withColumn(s"n_$outSuffix", count(lit(1)).over(w))
      .withColumn(s"sum_$outSuffix",
        sum(col(valueCol).cast(DecimalType(18, 2))).over(w).cast("double"))
  }

  /** Peak session concurrency per day: sessionize the event log
    * ([[Sessionize.sessionize]]'s gap rule), turn each (key, session)
    * into a +1/-1 boundary pair at its first/last event time, and take
    * the inclusive global prefix sum over (time, starts-first) order —
    * "how many sessions were open at once", the capacity metric behind
    * concurrency-based sizing. Returns (`day` ISO date string, `peak`).
    *
    * Semantics (pinned by the q98 oracle): each boundary contributes
    * BOTH its pre-event value (the exclusive prefix = concurrency
    * carried into that instant) and its post-event value, so a day that
    * opens under sessions carried across midnight reports the carry-in
    * via its first boundary; a day with no session boundaries at all is
    * absent — the metric SAMPLES at session boundaries, which is where
    * every concurrency extremum lives (concurrency only changes at a
    * boundary). Boundary ties process all starts before all ends at an
    * equal timestamp, which makes the partial-sum multiset — and
    * therefore each day's max — independent of sort-tie order.
    *
    * Scale shape: sessionization is one hash shuffle on the keys; the
    * boundary pairs are two rows per session (session-bounded, never
    * event-bounded); the prefix sum is
    * [[General.withRunningTotal]]'s range-partitioned two-pass — a
    * global SORT by (time, starts-first) plus one O(partitions) scalar
    * exchange, never a single-partition window; the per-day max is one
    * map-side-combined aggregation. */
  def peakConcurrency(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      gapUs: Long,
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val sess = Sessionize.sessionize(df, keyCols, tsCol, gapUs, tieBreak)
    val per = sess.groupBy((keyCols :+ "session_id").map(col): _*)
      .agg(min(unix_micros(col(tsCol))).as("st"),
        max(unix_micros(col(tsCol))).as("en"))
    val bounds = per.select(explode(array(
        struct(col("st").as("t"), lit(1L).as("d")),
        struct(col("en").as("t"), lit(-1L).as("d")))).as("b"))
      .select(col("b.t").as("t"), col("b.d").as("d"))
      .withColumn("dneg", -col("d")) // ascending sort key: starts first
    General.withRunningTotal(bounds, Seq("t", "dneg"), "d", "rt")
      .withColumn("c", greatest(col("rt"), col("rt") + col("d")))
      .groupBy(to_date(timestamp_micros(col("t"))).cast("string").as("day"))
      .agg(max(col("c")).as("peak"))
      .orderBy("day")
  }

  /** Ordered funnel: for every key that performed `steps.head`, how far
    * through the step sequence it got, each step STRICTLY after the
    * previous one in event time (the first qualifying occurrence, so
    * the path is the earliest completion). Returns one row per key that
    * reached step 1: the key, `steps_reached` (1..k), `t1_us` (first
    * step-1 time, epoch microseconds), `tk_us` and `delay_us` (NULL
    * unless the full funnel completed).
    *
    * Semantics pinned by the oracle: step i's time is the MINIMUM event
    * time of type `steps(i)` strictly greater than step i-1's time —
    * the greedy earliest chain. (Greedy is not maximal-subsequence
    * matching: an earlier step-2 event with no step-3 after it still
    * binds. State the contract, don't discover it in production.)
    *
    * Scale shape: k-1 (filter → join → min-aggregate) rounds, every
    * one hash-partitioned on the key — each step's frame is bounded by
    * the keys still in the funnel (monotonically shrinking), the event
    * table is scanned once per step with the type filter pushed to the
    * scan, and nothing is ever collected or windowed over the whole
    * log. For funnels much deeper than a handful of steps prefer a
    * single per-key sort (`flatMapGroups`) over k scans. */
  def funnel(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val base = df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__t"), col(typeCol).as("__ty"))
    val first = base.filter(col("__ty") === steps.head)
      .groupBy("__k").agg(min(col("__t")).as("t1"))
    val full = steps.tail.zipWithIndex.foldLeft(first) { case (acc, (step, i)) =>
      val prev = s"t${i + 1}"
      val next = base.filter(col("__ty") === step)
        .join(acc.select(col("__k"), col(prev)), "__k")
        .filter(col("__t") > col(prev))
        .groupBy("__k").agg(min(col("__t")).as(s"t${i + 2}"))
      acc.join(next, Seq("__k"), "left")
    }
    val k = steps.size
    // Build inside-out so the DEEPEST step is tested first: t_i set
    // implies t_{i-1} set, so the outermost when must be t_k.
    val reached = (2 to k).foldLeft(lit(1)) { (e, i) =>
      when(col(s"t$i").isNotNull, lit(i)).otherwise(e)
    }
    full.select(col("__k").as(keyCol), reached.as("steps_reached"),
      col("t1").as("t1_us"), col(s"t$k").as("tk_us"),
      (col(s"t$k") - col("t1")).as("delay_us"))
  }

  /** [[funnel]] in ONE pass: identical semantics (greedy earliest
    * chain, strictly-after steps — a forward scan of the time-sorted
    * stream advances exactly at the minimum qualifying time of each
    * step, so the two formulations agree row for row; q101 holds this
    * one to q92's oracle), but computed as a single sorted-grouped
    * scan instead of k-1 (filter → join → min) rounds.
    *
    * The deep-funnel scale path: ONE hash shuffle on the key with the
    * time sort done inside the shuffle machinery
    * (`flatMapSortedGroups`), the per-key scan streams the iterator
    * with O(1) state — no per-step corpus scans, no joins, and cost
    * independent of funnel depth. Prefer [[funnel]] when steps are few
    * and the per-step type filters prune the scan hard; prefer this
    * when the funnel is deep or the event log is dominated by funnel
    * event types. Rows with a NULL timestamp or type are ignored. */
  def funnelSorted(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val base = df.select(col(keyCol),
        unix_micros(col(tsCol)).as("__t"), col(typeCol).as("__ty"))
      .filter(col("__t").isNotNull && col("__ty").isNotNull)
    val out = StructType(Seq(
      StructField("steps_reached", IntegerType, nullable = false),
      StructField("t1_us", LongType),
      StructField("tk_us", LongType),
      StructField("delay_us", LongType)))
    val stepArr = steps.toArray
    Grouped.applyPerGroupSorted(base, Seq(keyCol), Seq("__t"), out) { rows =>
      var stage = 0
      var lastT = Long.MinValue
      var t1 = 0L
      rows.foreach { r =>
        if (stage < stepArr.length) {
          val t = r.getLong(1)
          if (r.getString(2) == stepArr(stage) && (stage == 0 || t > lastT)) {
            if (stage == 0) t1 = t
            lastT = t
            stage += 1
          }
        }
      }
      if (stage == 0) Iterator.empty
      else Iterator(Row(stage, t1,
        if (stage == stepArr.length) lastT else null,
        if (stage == stepArr.length) lastT - t1 else null))
    }
  }

  /** First-order Markov transition matrix over event types within
    * groups (typically `(user, session_id)` from [[Sessionize]]): how
    * often state A is followed by state B, with the row-normalized
    * probability `p = n / Σ_B n(A→B)`. Sentinel states `__START__` /
    * `__END__` bound every group, so entry and exit distributions ride
    * the same table and each row of the matrix sums to exactly 1 —
    * the page-flow / behavioral-prior primitive next to [[funnel]]'s
    * fixed-path conversion.
    *
    * Scale shape: ONE hash shuffle on `groupKeys` + per-group sort
    * carries the `lead`/`row_number` pair; transitions then shuffle
    * once more bounded by the TYPE-PAIR vocabulary (like
    * [[Corpus.tokenFrequencies]]), and the per-from totals join is
    * unhinted — AQE broadcasts real type vocabularies. Group contents
    * never meet across groups; skew degrades to the hot group's
    * partition only.
    *
    * Output: (`from_state`, `to_state`, `n`, `p`).
    */
  def transitionMatrix(
      df: DataFrame,
      groupKeys: Seq[String],
      tsCol: String,
      typeCol: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(groupKeys.nonEmpty, "transitionMatrix needs group keys")
    val order = (tsCol +: tieBreak).map(col)
    val w = Window.partitionBy(groupKeys.map(col): _*).orderBy(order: _*)
    val stepped = df.select(
      col(typeCol).cast("string").as("__cur"),
      lead(col(typeCol).cast("string"), 1).over(w).as("__nxt"),
      row_number().over(w).as("__rn"))
    val inner = stepped.filter(col("__nxt").isNotNull)
      .select(col("__cur").as("from_state"), col("__nxt").as("to_state"))
    val entries = stepped.filter(col("__rn") === 1)
      .select(lit("__START__").as("from_state"), col("__cur").as("to_state"))
    val exits = stepped.filter(col("__nxt").isNull)
      .select(col("__cur").as("from_state"), lit("__END__").as("to_state"))
    val counts = inner.unionAll(entries).unionAll(exits)
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_state").agg(sum(col("n")).as("__tot"))
    counts.join(totals, "from_state")
      .select(col("from_state"), col("to_state"), col("n"),
        (col("n").cast("double") / col("__tot").cast("double")).as("p"))
  }

  /** Multi-touch conversion attribution: every `convType` event is
    * credited to the `touchTypes` events of the SAME key inside its
    * lookback window `(conv_ts − lookbackUs, conv_ts]` — the
    * marketing/growth question "which click earned this purchase"
    * next to [[funnel]]'s fixed-path view. Two models:
    * `"linear"` splits the credit evenly (`1/k` over the k qualifying
    * touches — one IEEE division of exact integers, deterministic),
    * `"last_touch"` emits ONLY the latest qualifying touch with
    * weight 1 (ties broken by the id column, so equal timestamps
    * cannot make the winner partition-dependent). Conversions with no
    * qualifying touch produce no rows — the unattributed remainder is
    * the caller's `anti_join`, not a silent zero row.
    *
    * Scale shape: touches and conversions are type-filtered BEFORE
    * the join (predicates reach the scan), meet in ONE equi join on
    * the key with the window condition as a post-probe filter — never
    * a theta join, because per-key activity is bounded — and the
    * per-conversion count/rank runs in a window partitioned by the
    * conversion event (touch-window-bounded, never corpus-wide).
    *
    * Output: (key, conv_id, conv_ts_us, touch_id, touch_type,
    * touch_ts_us, weight).
    */
  def attributeConversions(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String,
      touchTypes: Seq[String],
      convType: String,
      lookbackUs: Long,
      model: String = "linear"): DataFrame = {
    require(lookbackUs > 0L, s"lookbackUs ($lookbackUs) must be positive")
    require(touchTypes.nonEmpty, "attributeConversions needs touch types")
    require(!touchTypes.contains(convType),
      s"conversion type '$convType' cannot also be a touch type")
    require(Seq("linear", "last_touch").contains(model),
      s"unknown attribution model '$model' (linear | last_touch)")
    val base = df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__t"), col(typeCol).as("__ty"),
      col(idCol).as("__id"))
    val touches = base.filter(col("__ty").isin(touchTypes.map(lit): _*))
      .select(col("__k"), col("__t").as("touch_ts_us"),
        col("__ty").as("touch_type"), col("__id").as("touch_id"))
    val convs = base.filter(col("__ty") === convType)
      .select(col("__k"), col("__t").as("conv_ts_us"),
        col("__id").as("conv_id"))
    val joined = convs.join(touches, Seq("__k"))
      .filter(col("touch_ts_us") <= col("conv_ts_us") &&
        col("touch_ts_us") > col("conv_ts_us") - lit(lookbackUs))
    val w = Window.partitionBy(col("conv_id"))
    val weighted = model match {
      case "linear" =>
        joined.withColumn("weight",
          lit(1.0) / count(lit(1)).over(w).cast("double"))
      case "last_touch" =>
        joined.withColumn("__rk", row_number().over(
            w.orderBy(col("touch_ts_us").desc, col("touch_id").desc)))
          .filter(col("__rk") === 1)
          .drop("__rk").withColumn("weight", lit(1.0))
    }
    weighted.select(col("__k").as(keyCol), col("conv_id"),
      col("conv_ts_us"), col("touch_id"), col("touch_type"),
      col("touch_ts_us"), col("weight"))
  }

  /** Top-k frequent session paths — funnel DISCOVERY next to
    * [[funnel]]'s fixed-path measurement: each group (typically a
    * [[Sessionize]] session) is rendered as its time-ordered event-type
    * path truncated to the first `maxLen` steps, and the `k` most
    * common paths are returned with their session counts. This is the
    * "what do users actually do" primitive that tells you WHICH funnel
    * to measure.
    *
    * Determinism: the in-group order is `(ts, tieBreak…)` — pass a tie
    * breaker when timestamps can collide, exactly the
    * [[transitionMatrix]] contract. Top-k ties break by path string
    * ascending.
    *
    * Scale shape: ONE hash shuffle onto the group keys collects each
    * group's (ts, tie, type) structs, sorted and truncated map-side
    * after the aggregation (per-group cost is the session length —
    * groups are sessions, bounded by construction; `maxEventsPerGroup`
    * raises loudly on a group that isn't); path counting is a second
    * shuffle bounded by the path vocabulary, and the final top-k is
    * `TakeOrderedAndProject` — per-partition bounded heaps, the path
    * table is never globally sorted.
    *
    * Output: (`path`, `n_sessions`), count desc, path asc, ≤ k rows.
    */
  def topPaths(
      df: DataFrame,
      groupKeys: Seq[String],
      tsCol: String,
      typeCol: String,
      k: Int,
      maxLen: Int,
      tieBreak: Seq[String] = Nil,
      sep: String = ">",
      maxEventsPerGroup: Int = 100000): DataFrame = {
    require(groupKeys.nonEmpty, "topPaths needs group keys")
    require(k >= 1, s"k ($k) must be >= 1")
    require(maxLen >= 1, s"maxLen ($maxLen) must be >= 1")
    val ord = struct((tsCol +: tieBreak).map(col) :+
      col(typeCol).cast("string").as("__ty"): _*)
    df.groupBy(groupKeys.map(col): _*)
      .agg(collect_list(ord).as("__seq"))
      .select(when(size(col("__seq")) > maxEventsPerGroup,
          raise_error(concat(
            lit(s"topPaths: a group exceeds $maxEventsPerGroup events ("),
            size(col("__seq")).cast("string"),
            lit(") — sessionize upstream or raise maxEventsPerGroup"))))
        .otherwise(concat_ws(sep,
          slice(transform(array_sort(col("__seq")), s => s("__ty")),
            1, maxLen))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)
  }

  /** Per-key time-series resampling with forward fill: the irregular
    * event stream regularized onto a fixed `stepUs` grid — one row per
    * key per step between that key's first and last observation, the
    * step's LAST observed value where the step has events
    * (deterministic under `(ts, tieBreak)` — pass a tie breaker when
    * timestamps can collide), the previous step's value carried
    * forward where it has none. The gap-filling feature primitive:
    * "daily balance per account" from event-sourced postings.
    *
    * The grid is each key's OWN [min, max] span — resampling never
    * invents activity outside a key's life. Gap explosion is the scale
    * hazard (a key with second-granularity steps spanning years
    * multiplies into millions of grid rows), so each key's span is
    * guarded: more than `maxStepsPerKey` grid steps raises loudly
    * (the BucketGuard discipline) instead of silently exploding the
    * output.
    *
    * Bucket index is pure integer floor-division arithmetic
    * (`(t − pmod(t, step)) / step` — exact for |t| < 2^53, i.e. every
    * µs timestamp), portable cross-engine bit-for-bit.
    *
    * Plan shape: one (key, step)-bounded aggregation (`max_by` — no
    * per-key sort), one key-bounded span aggregation with the guard,
    * a map-side `sequence` explode of the grid, one equi join back to
    * the observations, and the forward fill as a per-key ROWS window
    * over grid steps — sorts within keys only, never globally.
    *
    * Output: (key, step_start_us, value, observed).
    */
  def resampleFfill(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      stepUs: Long,
      tieBreak: Seq[String] = Nil,
      maxStepsPerKey: Long = 1000000L): DataFrame = {
    require(stepUs > 0L, s"stepUs ($stepUs) must be positive")
    require(maxStepsPerKey >= 1L,
      s"maxStepsPerKey ($maxStepsPerKey) must be >= 1")
    val base = df.select(col(keyCol).as("__k") +:
      unix_micros(col(tsCol)).as("__t") +: col(valueCol).as("__v") +:
      tieBreak.map(col): _*)
    val t = col("__t")
    val step = ((t - pmod(t, lit(stepUs))) / lit(stepUs)).cast("long")
    val rankStruct = struct(col("__t") +: tieBreak.map(col): _*)
    val observed = base.filter(t.isNotNull)
      .groupBy(col("__k"), step.as("__s"))
      .agg(max_by(col("__v"), rankStruct).as("__v"))
    val spans = observed.groupBy("__k")
      .agg(min(col("__s")).as("__lo"), max(col("__s")).as("__hi"))
      .filter(when(col("__hi") - col("__lo") + 1 > maxStepsPerKey,
          raise_error(concat(
            lit(s"resampleFfill: key "), col("__k").cast("string"),
            lit(s" spans more than $maxStepsPerKey steps ("),
            (col("__hi") - col("__lo") + 1).cast("string"),
            lit(") — widen stepUs or raise maxStepsPerKey"))))
        .otherwise(lit(true)))
    val grid = spans.select(col("__k"),
      explode(sequence(col("__lo"), col("__hi"))).as("__s"))
    val joined = grid.join(
      observed.withColumn("__obs", lit(true)), Seq("__k", "__s"), "left")
    val w = Window.partitionBy(col("__k")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select(col("__k").as(keyCol),
      (col("__s") * lit(stepUs)).as("step_start_us"),
      last(col("__v"), ignoreNulls = true).over(w).as("value"),
      coalesce(col("__obs"), lit(false)).as("observed"))
  }

  /** Embargoed temporal split — the time-series leakage firewall
    * (the purged-split discipline of de Prado's financial-ML k-fold,
    * collapsed to one cut): rows strictly before `cutoff - embargo`
    * train, rows at/after `cutoff` test, and the embargo band between
    * them belongs to NEITHER — features computed near the boundary
    * (rolling windows, trailing aggregates) otherwise leak label-side
    * information across the cut. A plain `ts < cutoff` split embargoes
    * nothing and silently overstates eval quality.
    *
    * Map-only: one comparison chain per row, no shuffle — composable
    * in front of any trainer/filter. Rows with NULL timestamps get a
    * NULL split (unknown is not trainable), never a silent bucket.
    *
    * Returns the frame plus a `split` column
    * ('train' | 'embargo' | 'test' | NULL). */
  def temporalSplit(
      df: DataFrame,
      tsCol: String,
      cutoffUs: Long,
      embargoUs: Long): DataFrame = {
    require(embargoUs >= 0L, s"embargoUs ($embargoUs) must be >= 0")
    val us = unix_micros(col(tsCol))
    df.withColumn("split",
      when(us.isNull, lit(null).cast("string"))
        .when(us < cutoffUs - embargoUs, "train")
        .when(us < cutoffUs, "embargo")
        .otherwise("test"))
  }
}
