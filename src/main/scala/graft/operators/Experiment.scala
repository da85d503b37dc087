package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Experimentation primitives — deterministic arm assignment and the
  * per-arm readout with honest uncertainty: the A/B machinery every
  * data pipeline eventually grows (did the new quality filter change
  * downstream conversion? did the re-ranker move engagement?), built
  * on the same portable-hash discipline as the sampling family so an
  * assignment is a pure, engine-reproducible function of (salt, key) —
  * re-running the pipeline, or running it on a different engine, can
  * never reshuffle users between arms. No reference counterpart —
  * LLM-pipeline extensions.
  */
object Experiment {

  /** Deterministic hash assignment of each row's key into weighted
    * arms: `u = portable_hash32(salt:key) / 2^32` is uniform on [0,1)
    * and the arm is the first whose cumulative weight exceeds u —
    * per-key stable under reruns and engine changes (md5-derived, the
    * [[General.mixtureSample]] hash), salted so INDEPENDENT
    * experiments on the same population decorrelate (same key, new
    * salt, fresh coin). Weights are normalized internally; cumulative
    * thresholds are exact integer longs (floor of the cumulative
    * fraction × 2^32, last arm pinned to 2^32) so every hash value
    * lands in exactly one arm. Arm ORDER matters to the cut points —
    * pass a Seq, not a Map. NULL keys get a NULL arm (no identity, no
    * experiment). */
  def assignArms(
      df: DataFrame,
      keyCol: String,
      salt: String,
      arms: Seq[(String, Double)],
      outCol: String = "arm"): DataFrame = {
    require(arms.size >= 2, s"need >= 2 arms, got ${arms.size}")
    require(arms.map(_._1).distinct.size == arms.size,
      s"duplicate arm names in ${arms.map(_._1).mkString(", ")}")
    require(arms.forall(_._2 > 0.0), "every arm weight must be positive")
    val total = arms.map(_._2).sum
    val cuts = arms.map(_._2 / total).scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * 4294967296.0).toLong)
      .dropRight(1) :+ 4294967296L // last arm closes the space exactly
    val u = graft.functions.TextFunctions.portableTokenHash32(
      concat(lit(salt), lit(":"), col(keyCol).cast("string")))
    val armExpr = arms.map(_._1).zip(cuts).foldRight(
        lit(null).cast("string"): Column) { case ((name, cut), e) =>
      when(u < cut, lit(name)).otherwise(e)
    }
    df.withColumn(outCol, when(col(keyCol).isNotNull, armExpr))
  }

  /** Deterministic stratified EXACT-k sampling: within each stratum,
    * keep the `k` rows with the smallest portable hash of (salt, id) —
    * ties broken by id — and report each survivor's 1-based
    * `sample_rank`. The eval-set/debug-slice primitive a training
    * pipeline needs from day one (a fixed per-language eval sample, a
    * per-source audit slice): selection is a pure function of
    * (salt, id), so reruns, engine changes, and UNRELATED row churn
    * cannot reshuffle the sample — a new row displaces exactly the
    * largest-hash survivor of its own stratum and nothing else
    * (bounded churn, the property uniform `TABLESAMPLE` lacks). A
    * stratum with fewer than `k` rows keeps all of them.
    *
    * Scale shape: ONE pass through a k-bounded heap per stratum
    * ([[graft.functions.Aggregators.topKPerGroup]]) — no full sort, no
    * per-stratum window over the raw data (a skewed stratum would
    * single-task it); the rank window runs over the already-k-bounded
    * survivor table (≤ strata × k rows). NULL ids are excluded loudly
    * (no identity, no stable sample membership).
    *
    * Output: strata cols + (`idCol`, `sample_rank`). */
  def stratifiedSample(
      df: DataFrame,
      strata: Seq[String],
      idCol: String,
      k: Int,
      salt: String): DataFrame = {
    require(strata.nonEmpty, "stratifiedSample needs stratum columns")
    require(k >= 1, s"k ($k) must be >= 1")
    TempCols.reserve(df, "stratifiedSample", "__h")
    val nullIds = df.filter(col(idCol).isNull).limit(1).count()
    require(nullIds == 0L,
      s"stratifiedSample: NULL $idCol rows have no stable sample identity")
    val h = graft.functions.TextFunctions.portableTokenHash32(
      concat(lit(salt), lit(":"), col(idCol).cast("string")))
    // smallest-hash-first through the (score DESC, id ASC) heap:
    // negate — the hash is < 2^32, exact in a double
    val picked = graft.functions.Aggregators.topKPerGroup(
      df.withColumn("__h", -h.cast("double")),
      strata, "__h", idCol, k)
    picked
      .withColumn("sample_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(strata.map(col): _*)
          .orderBy(col("__h").desc, col(idCol))).cast("long"))
      .drop("__h")
  }

  /** Per-arm experiment readout over a boolean outcome: each arm's
    * conversion count, rate, and Wilson interval
    * ([[Quality.passRateCI]]'s calibrated-at-small-n bounds), plus the
    * two-proportion z statistic against the CONTROL arm — the pooled
    * form `z = (p_a − p_c) / √(p̂(1−p̂)(1/n_a + 1/n_c))`, rounded at 6
    * so the decision is engine-exact, with `significant` at the
    * two-sided `z` threshold. The control row carries NULL z (no
    * self-comparison); a degenerate pool (p̂ of 0 or 1 — no variance)
    * reports NULL z, never a division blow-up. NULL outcomes are
    * excluded per [[Quality.passRateCI]]'s rule.
    *
    * Scale shape: one arm-bounded aggregation; the control's two
    * scalars come off that same tiny table ([[Corpus
    * .compositionReport]]'s pattern), and the z arithmetic is
    * map-only over arm-count rows. Output: (arm, n, n_pass, rate6,
    * lo6, hi6, z6, significant). */
  def abReport(
      df: DataFrame,
      armCol: String,
      flagCol: String,
      controlArm: String,
      z: Double = 1.96): DataFrame =
    abReportFromCI(
      Quality.passRateCI(df, Seq(armCol), flagCol, z)
        .withColumnRenamed(armCol, "arm"),
      controlArm, z)

  /** Pooled CUPED state — θ and the pre-period mean, both closed
    * forms over [[Moments.momentState]]'s exact decimal sums (two
    * driver scalars, one corpus pass). θ falls back to 0 (no
    * adjustment) when the covariate has zero variance. Rows missing
    * the arm, the covariate, or the outcome are excluded — CUPED
    * needs all three. */
  private def cupedState(
      df: DataFrame, armCol: String, yCol: String,
      xCol: String): (DataFrame, Double, Double) = {
    val base = df.filter(col(armCol).isNotNull &&
      col(xCol).isNotNull && col(yCol).isNotNull)
    val r0 = Moments.momentState(base, xCol, yCol).select(
      col("n").cast("long"), col("sx").cast("double"),
      col("sy").cast("double"), col("sxx").cast("double"),
      col("sxy").cast("double")).head()
    val n = r0.getLong(0)
    require(n >= 2L,
      s"cuped: needs >= 2 complete (covariate, outcome) rows (got $n)")
    val (sx, sy, sxx, sxy) =
      (r0.getDouble(1), r0.getDouble(2), r0.getDouble(3), r0.getDouble(4))
    val nd = n.toDouble
    val varXN = nd * sxx - sx * sx
    val theta = if (varXN > 0.0) (nd * sxy - sx * sy) / varXN else 0.0
    (base, theta, sx / nd)
  }

  /** CUPED adjustment as a COLUMN: `y − θ·(x − μ_pre)` with θ and
    * μ_pre pooled across arms (assignment is independent of the
    * pre-period, so the pooled θ is unbiased and shared). Returns the
    * complete-rows frame plus `outCol` — composable with any
    * continuous readout (e.g. [[Stats.bootstrapMeanCIByGroup]] keyed
    * by the arm column). */
  def cupedAdjust(
      df: DataFrame, armCol: String, yCol: String, xCol: String,
      outCol: String = "y_adj"): DataFrame = {
    val (base, theta, mux) = cupedState(df, armCol, yCol, xCol)
    base.withColumn(outCol, col(yCol).cast("double") -
      lit(theta) * (col(xCol).cast("double") - lit(mux)))
  }

  /** CUPED covariate-adjusted experiment readout over a CONTINUOUS
    * outcome: the variance-reduction standard for pre-period metrics
    * (Deng, Xu, Kohavi, Walker, "Improving the Sensitivity of Online
    * Controlled Experiments by Utilizing Pre-Experiment Data",
    * WSDM'13) — θ = cov(x,y)/var(x) from the pooled moment state,
    * each unit's outcome shifted to `y − θ·(x − μ_pre)`, then per-arm
    * mean, sample variance, and normal CI `mean ± z·s/√n` on both the
    * raw and adjusted outcome so the variance reduction is IN the
    * report. When covariate and outcome are uncorrelated θ is ~0 and
    * the adjusted numbers equal the raw ones; when correlated, the
    * adjusted variance shrinks by the r² factor, CIs tighten, and the
    * same experiment decides at a smaller n.
    *
    * Scale shape: one pooled moment pass (six scalars), then ONE
    * arm-keyed map-side-combined aggregation of four 12dp-exact
    * decimal term sums; every readout is in-plan double arithmetic on
    * arm-count rows. Single-unit arms read NULL variance/CI.
    *
    * Output: one row per arm — (`arm`, `n`, `theta6`, `mean_raw6`,
    * `mean_adj6`, `var_raw6`, `var_adj6`, `lo6`, `hi6`), arm
    * ascending; the CI bounds are on the ADJUSTED mean. */
  def cupedReport(
      df: DataFrame, armCol: String, yCol: String, xCol: String,
      z: Double = 1.96): DataFrame = {
    TempCols.reserve(df, "cupedReport", "__sy", "__syy", "__sa", "__saa")
    val (base, theta, mux) = cupedState(df, armCol, yCol, xCol)
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val adj = y - lit(theta) * (x - lit(mux))
    def dterm(c: Column) = round(c, 12).cast("decimal(38,12)")
    val g = base.groupBy(col(armCol).cast("string").as("arm")).agg(
      count(lit(1)).as("n"),
      sum(dterm(y)).as("__sy"), sum(dterm(y * y)).as("__syy"),
      sum(dterm(adj)).as("__sa"), sum(dterm(adj * adj)).as("__saa"))
    val nd = col("n").cast("double")
    val sy = col("__sy").cast("double")
    val syy = col("__syy").cast("double")
    val sa = col("__sa").cast("double")
    val saa = col("__saa").cast("double")
    val varRaw = (nd * syy - sy * sy) / (nd * (nd - lit(1.0)))
    val varAdj = (nd * saa - sa * sa) / (nd * (nd - lit(1.0)))
    // float cancellation can leave an exact-zero variance a hair
    // negative; clamp before the sqrt on BOTH engines identically
    val se = sqrt(when(varAdj > 0.0, varAdj).otherwise(0.0) / nd)
    val theta6 = BigDecimal(theta)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    g.select(col("arm"), col("n"),
        lit(theta6).as("theta6"),
        round(sy / nd, 6).as("mean_raw6"),
        round(sa / nd, 6).as("mean_adj6"),
        when(col("n") >= 2L, round(varRaw, 6)).as("var_raw6"),
        when(col("n") >= 2L, round(varAdj, 6)).as("var_adj6"),
        when(col("n") >= 2L, round(sa / nd - lit(z) * se, 6)).as("lo6"),
        when(col("n") >= 2L, round(sa / nd + lit(z) * se, 6)).as("hi6"))
      .orderBy("arm")
  }

  /** PER-GROUP CUPED readout — [[cupedReport]] keyed by a slice
    * column ("did the treatment lift EN but not DE?"): θ and μ_pre
    * are estimated PER SLICE from the group-keyed moment state (the
    * [[Moments.correlationMatrixByGroup]] grouping pattern composed
    * with [[cupedReport]]'s arithmetic — a slice whose covariate
    * predicts the outcome differently gets its own variance
    * reduction), then each unit's outcome shifts by its own slice's
    * `θ_g·(x − μ_g)` and the per-(group, arm) readout is
    * [[cupedReport]]'s verbatim. A zero-covariate-variance slice
    * (including any single-row group) reads θ = 0 — no adjustment,
    * adjusted == raw — so the grouped report on a one-group frame
    * provably equals the pooled operator's (the house
    * grouped==filtered equivalence, spec-pinned).
    *
    * Scale shape: one group-keyed moment aggregation (five scalars
    * per group, map-side combined), the θ/μ table joined back on the
    * group key (null-safe — NULL is its own group; group-count-sized,
    * AQE broadcasts it when small), then ONE (group, arm)-keyed
    * aggregation of the four 12dp-exact decimal term sums; readouts
    * are in-plan double arithmetic on (group × arm)-count rows.
    * Group cardinality unbounded (state is O(1) scalars per group).
    * Single-unit arms read NULL variance/CI (guards INSIDE when() —
    * ANSI-safe).
    *
    * Output: one row per (group, arm) — (`g` as STRING, `arm`, `n`,
    * `theta6`, `mean_raw6`, `mean_adj6`, `var_raw6`, `var_adj6`,
    * `lo6`, `hi6`), ordered by (g, arm). */
  def cupedReportByGroup(
      df: DataFrame, groupCol: String, armCol: String, yCol: String,
      xCol: String, z: Double = 1.96): DataFrame = {
    require(Seq(armCol, yCol, xCol).forall(_ != groupCol),
      s"cupedReportByGroup: group column '$groupCol' overlaps an " +
        "arm/outcome/covariate column")
    TempCols.reserve(df, "cupedReportByGroup",
      "__gk", "__gk2", "__arm", "__x", "__y", "__n", "__sx", "__sy",
      "__sxx", "__sxy", "__theta", "__mux", "__syy", "__sa", "__saa")
    val base = df.filter(col(armCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).cast("string").as("__gk"),
        col(armCol).cast("string").as("__arm"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
    def dterm(c: Column) = round(c, 12).cast("decimal(38,12)")
    val x = col("__x")
    val y = col("__y")
    val st = base.groupBy("__gk").agg(
      count(lit(1)).as("__n"),
      sum(dterm(x)).cast("double").as("__sx"),
      sum(dterm(y)).cast("double").as("__sy"),
      sum(dterm(x * x)).cast("double").as("__sxx"),
      sum(dterm(x * y)).cast("double").as("__sxy"))
    val nd0 = col("__n").cast("double")
    val varXN = nd0 * col("__sxx") - col("__sx") * col("__sx")
    // division guarded INSIDE the when (lazy CaseWhen — ANSI-safe)
    val thetaG = when(varXN > 0.0,
      (nd0 * col("__sxy") - col("__sx") * col("__sy")) / varXN)
      .otherwise(0.0)
    val stT = st.select(col("__gk").as("__gk2"),
      thetaG.as("__theta"), (col("__sx") / nd0).as("__mux"))
    // <=> join: a NULL group is its own group and must not drop
    val adj = y - col("__theta") * (x - col("__mux"))
    val g = base.join(stT, col("__gk") <=> col("__gk2")).drop("__gk2")
      .groupBy(col("__gk"), col("__arm"))
      .agg(count(lit(1)).as("n"),
        max(col("__theta")).as("__theta"), // per-group constant
        sum(dterm(y)).cast("double").as("__sy"),
        sum(dterm(y * y)).cast("double").as("__syy"),
        sum(dterm(adj)).cast("double").as("__sa"),
        sum(dterm(adj * adj)).cast("double").as("__saa"))
    val nd = col("n").cast("double")
    val varRaw = (nd * col("__syy") - col("__sy") * col("__sy")) /
      (nd * (nd - lit(1.0)))
    val varAdj = (nd * col("__saa") - col("__sa") * col("__sa")) /
      (nd * (nd - lit(1.0)))
    val se = sqrt(when(varAdj > 0.0, varAdj).otherwise(0.0) / nd)
    g.select(col("__gk").as("g"), col("__arm").as("arm"), col("n"),
        round(col("__theta"), 6).as("theta6"),
        round(col("__sy") / nd, 6).as("mean_raw6"),
        round(col("__sa") / nd, 6).as("mean_adj6"),
        when(col("n") >= 2L, round(varRaw, 6)).as("var_raw6"),
        when(col("n") >= 2L, round(varAdj, 6)).as("var_adj6"),
        when(col("n") >= 2L,
          round(col("__sa") / nd - lit(z) * se, 6)).as("lo6"),
        when(col("n") >= 2L,
          round(col("__sa") / nd + lit(z) * se, 6)).as("hi6"))
      .orderBy("g", "arm")
  }

  /** Always-valid (mSPRT) sequential A/B readout — the peeking-safe
    * complement to [[abReport]]'s fixed-horizon z test (Johari,
    * Koomen, Pekelis, Walsh, "Peeking at A/B Tests", KDD'17 — the
    * mixture sequential probability ratio test): for each treatment
    * arm vs control, the two-proportion effect `θ̂ = p_a − p_c` with
    * pooled variance `V = p̂(1−p̂)(1/n_a + 1/n_c)` feeds the
    * normal-mixture likelihood ratio (mixture N(0, τ²)), and the
    * always-valid p-value is
    * `p = min(1, √((V+τ²)/V) · exp(−θ̂²τ²/(2V(V+τ²))))` — computed in
    * THIS exact form (the ratio inverted before the exp, so the
    * exponent is negative and can never overflow). Because p is
    * always-valid, a monitor may look after EVERY micro-batch and
    * `min` over looks without inflating the false-positive rate —
    * that is the entire point. The control arm and degenerate pools
    * (V = 0) read NULL p. `significant` = p ≤ `alpha`.
    *
    * One arm-bounded count aggregation; all readout arithmetic is
    * driver-side doubles over exact collected longs, in a fixed
    * expression tree both engines replay. Output per arm, ordered:
    * (`arm`, `n`, `n_pass`, `rate6`, `av_p6`, `significant`). */
  def sequentialAbReport(
      df: DataFrame, armCol: String, flagCol: String, controlArm: String,
      tau: Double = 0.1, alpha: Double = 0.05): DataFrame = {
    val counts = df
      .filter(col(armCol).isNotNull && col(flagCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(flagCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_pass"))
    sequentialAbFromCounts(counts, controlArm, tau, alpha)
  }

  /** [[sequentialAbReport]]'s readout over a prepared per-arm count
    * table (`arm`, `n`, `n_pass`) — shared VERBATIM by the batch
    * operator and the streaming monitor (the ksFromCounts
    * discipline: counts fold by SUM, so the monitor's final look
    * provably equals the batch readout). */
  private[graft] def sequentialAbFromCounts(
      counts: DataFrame, controlArm: String, tau: Double,
      alpha: Double): DataFrame = {
    require(tau > 0.0, s"sequentialAb: tau ($tau) must be > 0")
    require(alpha > 0.0 && alpha < 1.0,
      s"sequentialAb: alpha ($alpha) must be in (0, 1)")
    val spark = counts.sparkSession
    val rows = counts.select(col("arm").cast("string"),
        col("n").cast("long"), col("n_pass").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)(graft.functions.TextFunctions.Utf8Ordering)
    val ctl = rows.filter(_._1 == controlArm)
    require(ctl.length == 1,
      s"sequentialAb: control arm '$controlArm' matched ${ctl.length} rows")
    val (_, nc, kc) = ctl.head
    require(nc > 0L, s"sequentialAb: control arm '$controlArm' is empty")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tau2 = tau * tau
    val out = rows.map { case (arm, n, k) =>
      val p: Option[Double] =
        if (arm == controlArm || n == 0L) None
        else {
          val pa = k.toDouble / n.toDouble
          val pc = kc.toDouble / nc.toDouble
          val pool = (k + kc).toDouble / (n + nc).toDouble
          val v = pool * (1.0 - pool) * (1.0 / n.toDouble + 1.0 / nc.toDouble)
          if (v > 0.0) {
            val th = pa - pc
            Some(r6(math.min(1.0, math.sqrt((v + tau2) / v) *
              math.exp(-(th * th) * tau2 / (2.0 * v * (v + tau2))))))
          } else None
        }
      (arm, n, k, if (n > 0L) Some(r6(k.toDouble / n.toDouble)) else None,
        p, p.map(_ <= alpha))
    }
    import spark.implicits._
    out.toSeq.toDF("arm", "n", "n_pass", "rate6", "av_p6", "significant")
  }

  /** (arm, flag) feed of the A/B monitors: NULL arms and flags are
    * excluded as the batch operators exclude them, and the arm is cast
    * to string so a typed arm column cannot break stream==batch
    * parity. */
  private[graft] def armFeed(
      outcomes: DataFrame, armCol: String, flagCol: String): DataFrame =
    outcomes
      .filter(col(armCol).isNotNull && col(flagCol).isNotNull)
      .select(col(armCol).cast("string").as("arm"),
        col(flagCol).cast("boolean").as("flag"))

  /** Per-arm (n, n_pass) counts of an [[armFeed]] batch. */
  private[graft] def armCounts(batch: DataFrame): DataFrame =
    batch.groupBy("arm")
      .agg(count(col("flag")).as("n"),
        sum(when(col("flag") === true, 1L).otherwise(0L)).as("n_pass"))

  /** The per-arm count fold: counts merge by SUM. */
  private[graft] def foldArmCounts(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy("arm")
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("n_pass")).cast("long").as("n_pass"))

  /** [[abReport]] as a [[FoldMonitor]] over the per-arm counts: the
    * live dashboard a running experiment is watched on. Rows must
    * arrive already assigned (`armCol`) with a boolean outcome; NULL
    * outcomes are excluded per the batch rule, at the batch where they
    * arrive. */
  def abMonitor(armCol: String, flagCol: String, controlArm: String,
      zThreshold: Double = 1.96): FoldMonitor =
    FoldMonitor("abMonitor", armFeed(_, armCol, flagCol), armCounts,
      foldArmCounts, state => abReportFromCI(
        Quality.passRateCIFromCounts(state, Seq("arm"), zThreshold),
        controlArm, zThreshold))

  /** [[abReport]]'s readout arithmetic over a prepared per-arm CI
    * table (`arm`, `n`, `n_pass`, `rate6`, `lo6`, `hi6`) — shared
    * verbatim by the batch operator and the streaming monitor (the
    * ksFromCounts discipline: per-arm counts fold by SUM, so a
    * micro-batched experiment readout provably equals the batch one). */
  private[graft] def abReportFromCI(
      ci: DataFrame,
      controlArm: String,
      z: Double): DataFrame = {
    val ctl = ci.filter(col("arm") === controlArm)
      .select("n", "n_pass").collect()
    require(ctl.length == 1,
      s"abReport: control arm '$controlArm' matched ${ctl.length} rows")
    val (nc, kc) = (ctl(0).getLong(0), ctl(0).getLong(1))
    require(nc > 0L, s"abReport: control arm '$controlArm' has no outcomes")
    val na = col("n").cast("double")
    val pa = col("n_pass").cast("double") / na
    val pc = lit(kc.toDouble / nc.toDouble)
    val pool = (col("n_pass") + lit(kc)).cast("double") / (na + lit(nc.toDouble))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / na + lit(1.0 / nc.toDouble)))
    val zStat = when(col("arm") === controlArm || col("n") === 0, lit(null))
      .otherwise(when(se > 0.0, round((pa - pc) / se, 6)))
    ci.withColumn("z6", zStat)
      .withColumn("significant",
        when(col("z6").isNotNull, abs(col("z6")) >= z))
  }
}
