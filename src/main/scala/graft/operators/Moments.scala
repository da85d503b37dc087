package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bivariate moment statistics — Pearson correlation and the OLS
  * trend line (slope + intercept), computed from an ALGEBRAIC moment
  * state `(n, Σx, Σy, Σx², Σy², Σxy)` instead of a centered two-pass
  * formula. No reference counterpart — an LLM-pipeline extension
  * ("does character count predict token count, and with what line?"
  * — the linear companion to the rank correlations in
  * [[graft.operators.Eval.spearmanRho]] / [[graft.operators.Eval
  * .kendallTauB]], which see order but not the line).
  *
  * The moment state is the POINT of the design: all five sums fold by
  * `SUM` — associatively and commutatively — so one implementation
  * serves the whole maintenance matrix (batch, incremental shard
  * folds, the streaming monitor, and the per-group drill-down) and
  * the folded readout is provably identical to the batch one. Each
  * per-row term is rounded at 12 decimal places and summed as
  * `DECIMAL(38,12)` (the associationFromJoint discipline): the sum is
  * exact and order-independent, so shard/micro-batch splits cannot
  * move a digit, and an oracle replays it verbatim. For integer-valued
  * inputs (lengths, counts — the common case) the 12dp rounding is the
  * identity and the state is exact outright.
  *
  * Readout formulas avoid the mean-centered form on purpose: with
  * `covN = n·Σxy − Σx·Σy`, `varXN = n·Σx² − (Σx)²`,
  * `varYN = n·Σy² − (Σy)²`,
  *
  *   - `pearson_r = covN / sqrt(varXN · varYN)`
  *   - `slope     = covN / varXN`
  *   - `intercept = (Σy − slope·Σx) / n`
  *
  * — every operand is a double cast of the exact decimal state and the
  * expression tree is small enough to replay operation-for-operation
  * in an oracle's SQL (the wilsonSql discipline: never a pre-evaluated
  * literal the other engine's last ulp could differ on). Readouts gate
  * at 6 decimals. A zero-variance axis reports NULL (r is 0/0 there),
  * never a division blow-up.
  *
  * Scale shape: the state is ONE map-side-combined aggregation —
  * 6 numbers per group, no shuffle wider than the group key, facts
  * scanned once. The scalar readout collects a single row; the
  * per-group readout stays in-plan (group cardinality unbounded).
  *
  * Caveat, documented not guarded: for NON-integer inputs the 12dp
  * term rounding can leave a mathematically-constant column with a
  * tiny nonzero `varXN`, so a near-constant float axis can report a
  * numerically meaningless r instead of NULL. Integer-valued columns
  * (the fixtures and the common pipeline case) are immune — their
  * moments are exact.
  */
object Moments {

  private val Dec = "decimal(38,12)"

  /** 12dp-rounded decimal term — exact, order-independent under SUM. */
  private def dterm(c: Column): Column = round(c, 12).cast(Dec)

  private def dsum(c: Column): Column =
    coalesce(sum(dterm(c)), lit(0).cast(Dec)).cast(Dec)

  private def numericGuard(df: DataFrame, owner: String, cols: String*): Unit =
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"$owner: column '$c' must be numeric (got ${dt.simpleString})")
    }

  /** The one-row foldable moment state over rows where BOTH columns
    * are non-null — `(n, sx, sy, sxx, syy, sxy)`: a long count and
    * five exact `DECIMAL(38,12)` sums of 12dp-rounded terms. Folds
    * with [[foldMomentState]]; reads out with
    * [[bivariateFromMoments]]. */
  def momentState(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    require(xCol != yCol,
      s"momentState needs two distinct columns (got $xCol twice)")
    numericGuard(df, "momentState", xCol, yCol)
    TempCols.reserve(df, "momentState", "__x", "__y")
    val rows = df
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val (x, y) = (col("__x"), col("__y"))
    rows.agg(
      count(lit(1)).as("n"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
      dsum(x * y).as("sxy"))
  }

  /** Merge two moment states — plain column-wise SUM (n as long, the
    * five moments as exact decimals): associative, commutative, so
    * shard order and micro-batch splits provably cannot change the
    * folded state. */
  def foldMomentState(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).agg(
      sum(col("n")).cast("long").as("n"),
      sum(col("sx")).cast(Dec).as("sx"), sum(col("sy")).cast(Dec).as("sy"),
      sum(col("sxx")).cast(Dec).as("sxx"),
      sum(col("syy")).cast(Dec).as("syy"),
      sum(col("sxy")).cast(Dec).as("sxy"))

  /** [[pearsonOls]] as a [[FoldMonitor]] over the one-row moment state:
    * "is the chars-per-token line drifting as the crawl lands?" */
  def momentsMonitor(xCol: String, yCol: String): FoldMonitor =
    FoldMonitor("momentsMonitor", _.select(xCol, yCol),
      momentState(_, xCol, yCol), foldMomentState, bivariateFromMoments)

  /** [[pearsonOls]]'s readout over a prepared moment state — shared
    * VERBATIM by the batch operator, the incremental fold, and the
    * streaming monitor (the ksFromCounts discipline). Collects the
    * single state row, computes the uncentered closed forms in double
    * (the oracle replays the identical expression tree), and returns
    * the literal one-row frame `(n, mean_x6, mean_y6, pearson_r6,
    * slope6, intercept6)`. Zero-variance axes report NULL r (and NULL
    * slope/intercept when x is the degenerate axis). */
  def bivariateFromMoments(state: DataFrame): DataFrame = {
    val spark = state.sparkSession
    val r0 = state.select(col("n").cast("long"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"),
      col("sxy").cast("double")).head()
    val n = r0.getLong(0)
    require(n >= 2L,
      s"bivariateFromMoments: needs >= 2 complete (x, y) rows (got $n)")
    val (sx, sy, sxx, syy, sxy) =
      (r0.getDouble(1), r0.getDouble(2), r0.getDouble(3),
        r0.getDouble(4), r0.getDouble(5))
    val nd = n.toDouble
    val covN = nd * sxy - sx * sy
    val varXN = nd * sxx - sx * sx
    val varYN = nd * syy - sy * sy
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pearson =
      if (varXN > 0.0 && varYN > 0.0)
        Some(r6(covN / math.sqrt(varXN * varYN)))
      else None
    val slope = if (varXN > 0.0) Some(covN / varXN) else None
    import spark.implicits._
    Seq((n, r6(sx / nd), r6(sy / nd), pearson, slope.map(r6),
        slope.map(b => r6((sy - b * sx) / nd))))
      .toDF("n", "mean_x6", "mean_y6", "pearson_r6", "slope6",
        "intercept6")
  }

  /** Batch Pearson + OLS: [[bivariateFromMoments]] over
    * [[momentState]] — one corpus pass, one collected row. */
  def pearsonOls(df: DataFrame, xCol: String, yCol: String): DataFrame =
    bivariateFromMoments(momentState(df, xCol, yCol))

  /** GROUP-KEYED moment state — `(g, n, sx, sy, sxx, syy, sxy)`, one
    * row per group (the group cast to string, NULL its own group —
    * the categoricalAssociationByGroup key discipline). Folds with
    * [[foldGroupMomentState]]; reads out with
    * [[bivariateByGroupFromMoments]]. */
  def groupMomentState(
      df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    require(xCol != yCol,
      s"groupMomentState needs two distinct columns (got $xCol twice)")
    require(groupCol != xCol && groupCol != yCol,
      s"groupMomentState: group column '$groupCol' overlaps a value column")
    numericGuard(df, "groupMomentState", xCol, yCol)
    TempCols.reserve(df, "groupMomentState", "__g", "__x", "__y")
    val rows = df
      .select(col(groupCol).cast("string").as("__g"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val (x, y) = (col("__x"), col("__y"))
    rows.groupBy(col("__g").as("g")).agg(
      count(lit(1)).as("n"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
      dsum(x * y).as("sxy"))
  }

  /** Merge two group-keyed moment states — SUM per group key
    * (null-safe: a NULL group folds with itself). */
  def foldGroupMomentState(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("g").agg(
      sum(col("n")).cast("long").as("n"),
      sum(col("sx")).cast(Dec).as("sx"), sum(col("sy")).cast(Dec).as("sy"),
      sum(col("sxx")).cast(Dec).as("sxx"),
      sum(col("syy")).cast(Dec).as("syy"),
      sum(col("sxy")).cast(Dec).as("sxy"))

  /** [[pearsonOlsByGroup]] as a [[FoldMonitor]] over the group-keyed
    * moment state (one row per group). */
  def groupMomentsMonitor(
      groupCol: String, xCol: String, yCol: String): FoldMonitor =
    FoldMonitor("groupMomentsMonitor", _.select(groupCol, xCol, yCol),
      groupMomentState(_, groupCol, xCol, yCol), foldGroupMomentState,
      bivariateByGroupFromMoments)

  /** Per-group readout over a prepared group-keyed state — the batch
    * arithmetic VERBATIM per group, entirely IN-PLAN (group
    * cardinality unbounded, never a driver loop over the scalar
    * operator). Groups with n < 2 or a zero-variance axis report NULL
    * statistics (their means still read out). Output: one row per
    * group — `(g, n, mean_x6, mean_y6, pearson_r6, slope6,
    * intercept6)`, ordered by group. */
  def bivariateByGroupFromMoments(state: DataFrame): DataFrame = {
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double")
    val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    val covN = nd * sxy - sx * sy
    val varXN = nd * sxx - sx * sx
    val varYN = nd * syy - sy * sy
    val enough = col("n") >= lit(2L)
    state.select(col("g"), col("n").cast("long").as("n"),
        round(sx / nd, 6).as("mean_x6"),
        round(sy / nd, 6).as("mean_y6"),
        when(enough && varXN > 0.0 && varYN > 0.0,
          round(covN / sqrt(varXN * varYN), 6)).as("pearson_r6"),
        when(enough && varXN > 0.0,
          round(covN / varXN, 6)).as("slope6"),
        when(enough && varXN > 0.0,
          round((sy - (covN / varXN) * sx) / nd, 6)).as("intercept6"))
      .orderBy("g")
  }

  /** Batch per-group Pearson + OLS ("the chars-per-token line per
    * language"): [[bivariateByGroupFromMoments]] over
    * [[groupMomentState]]. */
  def pearsonOlsByGroup(
      df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame =
    bivariateByGroupFromMoments(groupMomentState(df, groupCol, xCol, yCol))

  /** Lag-1 autocorrelation of a series — "does today's value predict
    * tomorrow's?": each row is paired with its PREDECESSOR in
    * `orderCols` order via the distributed lag
    * ([[General.withPrevValue]] — range-partitioned, never a global
    * one-partition window), and the (prev, current) pairs run through
    * the SAME moment state + closed forms as [[pearsonOls]] —
    * `pearson_r6` is the autocorrelation, `slope6`/`intercept6` the
    * AR(1) fit. The first row has no predecessor and carries no
    * moment; rows whose stored value is NULL pair with and contribute
    * nothing (the momentState null filter). Deterministic when
    * `orderCols` is a total order.
    *
    * Output: [[bivariateFromMoments]]'s one-row frame — x is the
    * lagged value, y the current. */
  def autocorrelation(
      df: DataFrame, orderCols: Seq[String], valueCol: String): DataFrame = {
    require(orderCols.nonEmpty,
      "autocorrelation needs a sort order for the lag pairing")
    numericGuard(df, "autocorrelation", valueCol)
    TempCols.reserve(df, "autocorrelation", "__prev")
    val lagged = General.withPrevValue(
      df.select((orderCols.filterNot(_ == valueCol) :+ valueCol)
        .map(col): _*),
      orderCols, valueCol, "__prev")
    bivariateFromMoments(momentState(lagged, "__prev", valueCol))
  }

  /** WEIGHT-MASS moment state — each row carries `weightCol` units of
    * mass (the [[graft.operators.Profile.weightedExactQuantiles]]
    * weight contract: non-negative INTEGERS, loudly enforced —
    * a fractional weight fails at scan time instead of silently
    * truncating; zero/NULL weights carry no mass): `n` becomes the
    * total mass `W` and every moment is `Σ w·term`, so the SHARED
    * readout ([[bivariateFromMoments]]) computes the mass-weighted
    * correlation and trend line verbatim — "does length predict
    * uppercase density where the TOKENS are", not where the documents
    * are. Folds with [[foldMomentState]] like the unweighted state
    * (mass sums merge by SUM). */
  def weightedMomentState(
      df: DataFrame, xCol: String, yCol: String,
      weightCol: String): DataFrame = {
    require(xCol != yCol,
      s"weightedMomentState needs two distinct columns (got $xCol twice)")
    require(weightCol != xCol && weightCol != yCol,
      s"weightedMomentState: weight column '$weightCol' overlaps a " +
        "value column")
    numericGuard(df, "weightedMomentState", xCol, yCol, weightCol)
    TempCols.reserve(df, "weightedMomentState", "__x", "__y", "__w")
    val integral = df.schema(weightCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val w0 = col(weightCol)
    val guarded =
      if (integral) when(w0 >= 0, w0).otherwise(raise_error(concat(
        lit("weightedMomentState: negative weight "), w0.cast("string"))))
      else when(w0 >= 0 && w0 === floor(w0), w0).otherwise(raise_error(
        concat(lit("weightedMomentState: weight must be a non-negative " +
          "integer, got "), w0.cast("string"))))
    // NULL/zero weights drop BEFORE the guard projects: the loud
    // raise_error must never fire on a row that carries no mass
    // (w0 >= 0 is NULL for a NULL weight and would take the otherwise
    // branch) — the weightedExactQuantiles filter-then-guard order
    val rows = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) =!= 0)
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"),
        guarded.cast("long").as("__w"))
    val (x, y) = (col("__x"), col("__y"))
    val wd = col("__w").cast("double")
    rows.agg(
      coalesce(sum(col("__w")), lit(0L)).as("n"),
      dsum(wd * x).as("sx"), dsum(wd * y).as("sy"),
      dsum(wd * (x * x)).as("sxx"), dsum(wd * (y * y)).as("syy"),
      dsum(wd * (x * y)).as("sxy"))
  }

  /** Batch WEIGHTED Pearson + OLS: [[bivariateFromMoments]] over
    * [[weightedMomentState]] — the readout's `n` is the total mass. */
  def weightedPearsonOls(
      df: DataFrame, xCol: String, yCol: String,
      weightCol: String): DataFrame =
    bivariateFromMoments(weightedMomentState(df, xCol, yCol, weightCol))

  /** Pairwise correlation matrix over k numeric columns in ONE corpus
    * pass — the profile-stage "which signals are redundant?" readout
    * before feature selection: every unordered column pair's Pearson
    * r, PAIRWISE-COMPLETE (each pair's moments sum over the rows
    * where BOTH columns are non-null — the convention that neither
    * drops a row for an unrelated column's hole nor quietly imputes).
    * All k(k−1)/2 pairs' moment sets ride a single aggregation (6
    * conditional sums per pair — the prCurve one-pass sweep shape),
    * then the uncentered closed form per pair in-plan; zero-variance
    * or n<2 pairs read NULL. Long-format output so k is data, not
    * schema.
    *
    * Output: one row per pair — (`x_col`, `y_col`, `n`,
    * `pearson_r6`), ordered by (x_col, y_col). */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = cmPairs(df, "correlationMatrix", cols)
    val one = df.agg(cmAggs(pairs).head, cmAggs(pairs).tail: _*)
    one.select(explode(array(cmEntries(pairs): _*)).as("__e"))
      .select(col("__e.*"))
      .orderBy("x_col", "y_col")
  }

  /** PER-GROUP one-pass correlation matrix — [[correlationMatrix]]
    * keyed by a slice column ("are token count and char count
    * redundant in EVERY language, or only in the majority one?"):
    * the identical k(k−1)/2 conditional moment sets ride a single
    * group-keyed aggregation (map-side combined — the shuffle ships
    * 6·pairs decimals per group, never rows), then each group's pairs
    * unfold from one explode. Pairwise-complete NULL semantics are
    * the scalar operator's verbatim, per group; zero-variance or n<2
    * pairs read NULL. NULL is its own group; group cardinality
    * unbounded (the state per group is O(k²) scalars, not data).
    *
    * Output: one row per (group, pair) — (`g` as STRING, `x_col`,
    * `y_col`, `n`, `pearson_r6`), ordered by (g, x_col, y_col). */
  def correlationMatrixByGroup(
      df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame = {
    require(!cols.contains(groupCol),
      s"correlationMatrixByGroup: group column '$groupCol' cannot " +
        "also be a value column")
    val pairs = cmPairs(df, "correlationMatrixByGroup", cols)
    TempCols.reserve(df, "correlationMatrixByGroup", "__g", "__e")
    val perGroup = df.groupBy(col(groupCol).cast("string").as("__g"))
      .agg(cmAggs(pairs).head, cmAggs(pairs).tail: _*)
    perGroup
      .select(col("__g").as("g"),
        explode(array(cmEntries(pairs): _*)).as("__e"))
      .select(col("g"), col("__e.*"))
      .orderBy("g", "x_col", "y_col")
  }

  /** Spearman's rank correlation — the monotone-association screen
    * next to [[pearsonOls]]'s linear one: Pearson over TIE-AVERAGED
    * (fractional) ranks, so a heavy-tailed size column or any
    * monotone transform reads the same ρ (the profile-stage check
    * that an apparent linear correlation isn't three outliers, and
    * that a nonlinear-but-monotone relation isn't missed). Pairwise
    * complete: rows where both columns are non-null.
    *
    * Ranks are computed WITHOUT sorting rows: each axis's distinct
    * values collapse to a count grid, one range-partitioned prefix
    * sum ([[General.withRunningTotal]]) gives every value its
    * exclusive below-count, and the tie-averaged rank is the exact
    * half-integer `below + (cnt+1)/2` — rows then join their two
    * grids (value-grid-bounded builds) and the ρ readout is
    * [[bivariateFromMoments]] over the shared exact moment state.
    * Exactness envelope: rank moments grow as n³, so the
    * DECIMAL(38,12) term sums are exact to n ≈ 10^8.6 pairs — past
    * that, pre-aggregate (the ranks, not the data, are the bound;
    * the same envelope as any moment over values ~n).
    *
    * Output: one row — (`n`, `spearman_rho6`); NULL ρ when either
    * axis is constant (rank variance 0). */
  def spearmanRho(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    require(xCol != yCol,
      s"spearmanRho needs two distinct columns (got $xCol twice)")
    numericGuard(df, "spearmanRho", xCol, yCol)
    TempCols.reserve(df, "spearmanRho",
      "__x", "__y", "__cnt", "__pre", "__rx", "__ry", "__ra", "__rb")
    Blocks.scoped { s =>
      val rows = s.checkpoint(df
        .select(col(xCol).cast("double").as("__x"),
          col(yCol).cast("double").as("__y"))
        .filter(col("__x").isNotNull && col("__y").isNotNull))
      def rankGrid(c: String, out: String): DataFrame = {
        val g = rows.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
        General.withRunningTotal(g, Seq(c), "__cnt", "__pre")
          .select(col(c),
            (col("__pre").cast("double") +
              (col("__cnt").cast("double") + lit(1.0)) / lit(2.0)).as(out))
      }
      val ranked = rows
        .join(rankGrid("__x", "__rx"), Seq("__x"))
        .join(rankGrid("__y", "__ry"), Seq("__y"))
        .select(col("__rx").as("__ra"), col("__ry").as("__rb"))
      bivariateFromMoments(momentState(ranked, "__ra", "__rb"))
        .select(col("n"), col("pearson_r6").as("spearman_rho6"))
    }
  }

  /** PER-GROUP Spearman — [[spearmanRho]] keyed by a slice column
    * ("is length→tokens monotone in EVERY language?"): group-local
    * tie-averaged ranks come off the group-keyed value grids through
    * ONE range-partitioned running total minus a group-bounded MIN
    * offset (valid — counts are positive — the exactQuantilesByGroup
    * trick), rows join their two grids on (group, value), and the
    * per-group ρ is [[bivariateByGroupFromMoments]] over the shared
    * group moment state. Group cardinality unbounded; NULL is its own
    * group; single-row or constant-axis groups read NULL ρ.
    *
    * Output: one row per group — (`g` as STRING, `n`,
    * `spearman_rho6`), ordered by group. */
  def spearmanRhoByGroup(
      df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    require(xCol != yCol,
      s"spearmanRhoByGroup needs two distinct columns (got $xCol twice)")
    require(groupCol != xCol && groupCol != yCol,
      s"spearmanRhoByGroup: group column '$groupCol' overlaps a value " +
        "column")
    numericGuard(df, "spearmanRhoByGroup", xCol, yCol)
    TempCols.reserve(df, "spearmanRhoByGroup",
      "__gk", "__x", "__y", "__cnt", "__pre", "__off", "__rx", "__ry",
      "__ra", "__rb")
    // no checkpoint: the output is a LAZY group-bounded frame (the
    // caller may collect it much later), and the projected rows are a
    // cheap scan to recompute for the two grids + the join
    val rows = df
      .select(col(groupCol).cast("string").as("__gk"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    def rankGrid(c: String, out: String): DataFrame = {
      val g = rows.groupBy(col("__gk"), col(c))
        .agg(count(lit(1)).as("__cnt"))
      val pre = General.withRunningTotal(g, Seq("__gk", c), "__cnt", "__pre")
      val offs = pre.groupBy("__gk").agg(min(col("__pre")).as("__off"))
      pre.alias("__l")
        .join(offs.alias("__r"), col("__l.__gk") <=> col("__r.__gk"))
        .select(col("__l.__gk").as("__gk"), col(c),
          ((col("__pre") - col("__off")).cast("double") +
            (col("__cnt").cast("double") + lit(1.0)) / lit(2.0)).as(out))
    }
    // null-safe group equality: NULL is its own group and must meet
    // its own rank grid (a USING join would silently drop it)
    val withRx = rows.alias("__a")
      .join(rankGrid("__x", "__rx").alias("__b"),
        col("__a.__gk") <=> col("__b.__gk") &&
          col("__a.__x") === col("__b.__x"))
      .select(col("__a.__gk").as("__gk"), col("__a.__y").as("__y"),
        col("__rx"))
    val ranked = withRx.alias("__c")
      .join(rankGrid("__y", "__ry").alias("__d"),
        col("__c.__gk") <=> col("__d.__gk") &&
          col("__c.__y") === col("__d.__y"))
      .select(col("__c.__gk").as("__gk"),
        col("__rx").as("__ra"), col("__ry").as("__rb"))
    bivariateByGroupFromMoments(
        groupMomentState(ranked, "__gk", "__ra", "__rb"))
      .select(col("g"), col("n"), col("pearson_r6").as("spearman_rho6"))
  }

  /** Validated unordered column pairs for the correlation-matrix
    * family. */
  private def cmPairs(
      df: DataFrame, owner: String,
      cols: Seq[String]): Seq[(String, String)] = {
    require(cols.size >= 2, s"$owner needs at least two columns")
    require(cols.distinct.size == cols.size,
      s"$owner: duplicate columns in $cols")
    numericGuard(df, owner, cols: _*)
    cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
  }

  /** The 6 pairwise-complete conditional moment sums per pair —
    * ONE aggregation row regardless of pair count. */
  private def cmAggs(pairs: Seq[(String, String)]): Seq[Column] =
    pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val x = col(a).cast("double")
      val y = col(b).cast("double")
      val both = x.isNotNull && y.isNotNull
      def cdsum(c: Column) =
        coalesce(sum(when(both, dterm(c))), lit(0).cast(Dec))
      Seq(sum(when(both, 1L).otherwise(0L)).as(s"__n$i"),
        cdsum(x).as(s"__sx$i"), cdsum(y).as(s"__sy$i"),
        cdsum(x * x).as(s"__sxx$i"), cdsum(y * y).as(s"__syy$i"),
        cdsum(x * y).as(s"__sxy$i"))
    }

  /** Per-pair uncentered closed-form readouts over [[cmAggs]]'s
    * columns, as explodable structs. */
  private def cmEntries(pairs: Seq[(String, String)]): Seq[Column] =
    pairs.zipWithIndex.map { case ((a, b), i) =>
      val nd = col(s"__n$i").cast("double")
      val sx = col(s"__sx$i").cast("double")
      val sy = col(s"__sy$i").cast("double")
      val sxx = col(s"__sxx$i").cast("double")
      val syy = col(s"__syy$i").cast("double")
      val sxy = col(s"__sxy$i").cast("double")
      val covN = nd * sxy - sx * sy
      val varXN = nd * sxx - sx * sx
      val varYN = nd * syy - sy * sy
      struct(lit(a).as("x_col"), lit(b).as("y_col"),
        col(s"__n$i").as("n"),
        when(col(s"__n$i") >= lit(2L) && varXN > 0.0 && varYN > 0.0,
          round(covN / sqrt(varXN * varYN), 6)).as("pearson_r6"))
    }

  /** PER-GROUP lag-1 autocorrelation — [[autocorrelation]] keyed by a
    * slice column ("is the purchase series sticky but the click
    * series memoryless?"): rows sort by (group, orderCols) through
    * the SAME distributed lag, run TWICE — once for the value, once
    * for the group itself — and a pair only forms when the lagged
    * group null-safe-equals the row's group, so the last value of one
    * group never leaks into the next group's first pair. The surviving
    * (prev, current) pairs feed the per-group moment state and the
    * in-plan closed forms — group cardinality unbounded. NULL is its
    * own group. Output: [[bivariateByGroupFromMoments]]'s frame,
    * ordered by group. */
  def autocorrelationByGroup(
      df: DataFrame, groupCol: String, orderCols: Seq[String],
      valueCol: String): DataFrame = {
    require(orderCols.nonEmpty,
      "autocorrelationByGroup needs a sort order for the lag pairing")
    require(!orderCols.contains(groupCol),
      s"group column '$groupCol' cannot also be an order column")
    numericGuard(df, "autocorrelationByGroup", valueCol)
    TempCols.reserve(df, "autocorrelationByGroup", "__prev", "__pg")
    val sortCols = groupCol +: orderCols
    val sel = df.select(
      (groupCol +: orderCols.filterNot(_ == valueCol) :+ valueCol)
        .distinct.map(col): _*)
    val lagged = General.withPrevValue(
      General.withPrevValue(sel, sortCols, valueCol, "__prev"),
      sortCols, groupCol, "__pg")
    bivariateByGroupFromMoments(groupMomentState(
      lagged.filter(col("__pg") <=> col(groupCol)),
      groupCol, "__prev", valueCol))
  }
}
