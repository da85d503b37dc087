package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Multinomial Naive Bayes text classification — the fasttext-shaped
  * learned filter of production data pipelines (language-ID refinement,
  * quality classification against a reference corpus, domain routing),
  * trained and applied entirely as dataflow. LLM-pipeline extension; no
  * reference counterpart.
  *
  * Why NB and not a gradient model: the sufficient statistics are pure
  * counts, so training is ONE map-side-combined, vocabulary-bounded
  * aggregation pass over the corpus — no iterations, no driver-side
  * weight vector, and bit-reproducible across partitionings (integer
  * counts commute). That is exactly the CCNet/fastText recipe's role:
  * a cheap, deterministic, trainable gate in front of expensive model
  * inference.
  *
  * Scale shape: per-(token, class) counts are the only corpus-sized
  * aggregation (map-side combined, keyed by token — shuffle bounded by
  * vocabulary, never token volume); class totals, vocabulary size, and
  * doc counts are bounded driver scalars (the q68 BM25 pattern);
  * scoring joins each doc's term frequencies to the per-token log-odds
  * table UNHINTED, so AQE broadcasts real vocabularies and an unbounded
  * one degrades to a shuffle join instead of an OOM; the per-doc sum is
  * map-side combined. Out-of-vocabulary tokens (scoring a corpus the
  * model never saw) fall back to the Laplace floor, so apply never
  * fails on unseen text.
  */
object Classify {

  /** A trained binary NB model: `vocab` is one row per training token —
    * (token, lp_pos, lp_neg), the smoothed per-class log conditionals —
    * kept DISTRIBUTED (a web-scale vocabulary never has to fit on the
    * driver); the scalars are the class prior log-odds and the
    * per-class Laplace floors for unseen tokens. */
  final case class NbModel(
      vocab: DataFrame,
      priorLogOdds: Double,
      floorPos: Double,
      floorNeg: Double)

  /** Train a binary multinomial NB with Laplace smoothing `alpha`:
    * lp_c(t) = ln((count(t, c) + alpha) / (tokens(c) + alpha * V))
    * with V = |training vocabulary| (distinct tokens across BOTH
    * classes), prior log-odds = ln(docs_pos / docs_neg). `labelCol`
    * must be boolean-valued; both classes must be present (a
    * single-class "model" would hide itself inside an infinite prior —
    * rejected loudly instead). One corpus pass + two bounded driver
    * aggregates; the per-token table stays distributed. */
  def trainNaiveBayes(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      alpha: Double = 1.0): NbModel = {
    require(alpha > 0.0, s"alpha ($alpha) must be positive")
    val docCounts = df.agg(
      sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)),
      count(lit(1))).head()
    val nPos = docCounts.getLong(0)
    val nTot = docCounts.getLong(1)
    require(nPos > 0 && nPos < nTot,
      s"trainNaiveBayes needs both classes present, got $nPos positive " +
        s"of $nTot docs")
    val cc = df.select(col(labelCol).cast("boolean").as("pos"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("cneg"))
    val scal = cc.agg(sum("cpos"), sum("cneg"), count(lit(1))).head()
    val totPos = scal.getLong(0)
    val totNeg = scal.getLong(1)
    val v = scal.getLong(2)
    val vocab = cc.select(col("token"),
      log((col("cpos") + alpha) / lit(totPos + alpha * v)).as("lp_pos"),
      log((col("cneg") + alpha) / lit(totNeg + alpha * v)).as("lp_neg"))
    NbModel(vocab,
      priorLogOdds = math.log(nPos.toDouble / (nTot - nPos).toDouble),
      floorPos = math.log(alpha / (totPos + alpha * v)),
      floorNeg = math.log(alpha / (totNeg + alpha * v)))
  }

  /** Score every document: log_odds = prior log-odds +
    * sum over the doc's distinct tokens of tf * (lp_pos - lp_neg),
    * with unseen tokens at the per-class Laplace floors; `predicted` =
    * log_odds > 0. One tf aggregation (map-side combined), one
    * unhinted vocab join, one per-doc sum — every doc comes back even
    * when its token set is empty (prior-only score). */
  def scoreNaiveBayes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: NbModel): DataFrame = {
    val dtf = df.select(col(idCol).as("__id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("__id", "token").agg(count(lit(1)).as("tf"))
    val delta = coalesce(col("lp_pos"), lit(model.floorPos)) -
      coalesce(col("lp_neg"), lit(model.floorNeg))
    val sums = dtf.join(model.vocab, Seq("token"), "left")
      .groupBy("__id")
      .agg(sum(col("tf") * delta).as("__s"))
    df.select(col(idCol).as("__id"))
      .join(sums, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        (lit(model.priorLogOdds) + coalesce(col("__s"), lit(0.0)))
          .as("log_odds"))
      .withColumn("predicted", col("log_odds") > 0.0)
  }

  /** A trained logistic-regression model: `beta` is (intercept,
    * coefficients...) aligned with the training feature columns, each
    * component 12dp-rounded so the model is a compact, reproducible
    * artifact. */
  final case class LogisticModel(beta: Vector[Double])

  private def r12d(x: Double): Double = BigDecimal(x)
    .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train a binary logistic regression by FIXED-ITERATION
    * deterministic Newton (IRLS) — the quality-gate calibrator for
    * labeled numeric features where [[trainNaiveBayes]]'s
    * independence assumption saturates (correlated length/punct/
    * stopword signals double-count in NB; the logistic fit weighs
    * them jointly). Every run is bit-reproducible:
    *
    *  - β starts at 0 (first pass needs no transcendentals: μ = ½
    *    exactly); each iteration computes the gradient
    *    `g = Σ x(y−μ)` and Hessian `H = Σ xxᵀ μ(1−μ)` as 12dp-exact
    *    decimal term sums in ONE map-side-combined aggregation —
    *    k(k+3)/2 + k+1 scalars reach the driver, never rows;
    *  - the (k+1)×(k+1) Newton step solves through the EXACT-decimal
    *    adjugate ([[graft.functions.ExactLinAlg]]: fraction-free
    *    Bareiss determinants in a fixed pivot order, every product
    *    rounded at 12dp — the [[Events.logRankTestK]] fixed-point
    *    discipline, no float elimination order, O(k³) per determinant
    *    rather than the factorial minor expansion), one double
    *    division per component, β ← round12(β + δ);
    *  - iteration count is FIXED (`iters`), so the model is a pure
    *    function of the data — no convergence-test float compare.
    *
    * Features are k-bounded LOUDLY (`maxFeatures` defaults to 6 and
    * is itself hard-capped at 16 — the per-iteration aggregation is
    * k(k+3)/2 columns and the driver solve O(k⁵) fixed-point ops, so
    * the whole allowed range completes in well under a second, but a
    * genuinely wide feature set belongs in a different trainer).
    * NULL features/labels are excluded; both
    * classes required; a non-positive-determinant Hessian (perfectly
    * separated or degenerate data driven too far) fails loudly rather
    * than emitting garbage coefficients. */
  def trainLogistic(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      iters: Int = 3,
      maxFeatures: Int = 6): LogisticModel = {
    require(maxFeatures >= 1 && maxFeatures <= 16,
      s"trainLogistic: maxFeatures ($maxFeatures) must be in [1, 16] — " +
        "the Newton step aggregates k(k+3)/2 decimal sums per " +
        "iteration and solves a (k+1)×(k+1) system on the driver; a " +
        "wider feature set belongs in a different trainer")
    require(featureCols.nonEmpty && featureCols.size <= maxFeatures,
      s"trainLogistic: ${featureCols.size} features outside " +
        s"[1, $maxFeatures]")
    require(featureCols.distinct.size == featureCols.size,
      "trainLogistic: duplicate feature columns")
    require(iters >= 1 && iters <= 16,
      s"trainLogistic: iters ($iters) must be in [1, 16]")
    val m = featureCols.size + 1
    Blocks.scoped { s =>
      val base = s.checkpoint(df.filter(col(labelCol).isNotNull &&
          featureCols.map(col(_).isNotNull).reduce(_ && _))
        .select((col(labelCol).cast("boolean").as("__y") +:
          featureCols.zipWithIndex.map { case (c, i) =>
            col(c).cast("double").as(s"__x${i + 1}")
          }): _*))
      val classes = base.agg(
        sum(when(col("__y"), 1L).otherwise(0L)), count(lit(1))).head()
      require(classes.getLong(0) > 0L && classes.getLong(0) < classes.getLong(1),
        s"trainLogistic needs both classes present, got " +
          s"${classes.getLong(0)} positive of ${classes.getLong(1)} rows")
      def x(j: Int): Column = if (j == 0) lit(1.0) else col(s"__x$j")
      def dterm(c: Column) = round(c, 12).cast("decimal(38,12)")
      def dz = lit(0).cast("decimal(38,12)")
      import java.math.{BigDecimal => JBD, RoundingMode}
      import graft.functions.ExactLinAlg.{mul12, det12, cofactor12}
      var beta = Vector.fill(m)(0.0)
      var iter = 0
      while (iter < iters) {
        val z = (0 until m).map(j => x(j) * lit(beta(j))).reduce(_ + _)
        val mu = lit(1.0) / (lit(1.0) + exp(-z))
        val w = mu * (lit(1.0) - mu)
        val y = when(col("__y"), 1.0).otherwise(0.0)
        val gAggs = (0 until m).map(j =>
          coalesce(sum(dterm(x(j) * (y - mu))), dz).as(s"g_$j"))
        val hAggs = for (a <- 0 until m; b <- a until m) yield
          coalesce(sum(dterm(x(a) * x(b) * w)), dz).as(s"h_${a}_$b")
        val t = base.agg((gAggs ++ hAggs).head, (gAggs ++ hAggs).tail: _*)
          .head()
        def dec(n: String): JBD = t.getDecimal(t.fieldIndex(n))
          .setScale(12, RoundingMode.HALF_UP)
        val g = Vector.tabulate(m)(j => dec(s"g_$j"))
        val h = Vector.tabulate(m, m)((a, b) =>
          if (a <= b) dec(s"h_${a}_$b") else dec(s"h_${b}_$a"))
        val det = det12(h).filter(_.signum > 0)
        require(det.isDefined,
          s"trainLogistic: singular Hessian at iteration ${iter + 1} — " +
            "perfectly separated or degenerate data; fewer iterations " +
            "or better-conditioned features")
        beta = Vector.tabulate(m) { j =>
          var num = JBD.ZERO
          for (i <- 0 until m)
            num = num.add(mul12(g(i), cofactor12(h, i, j)))
          r12d(beta(j) + num.doubleValue / det.get.doubleValue)
        }
        iter += 1
      }
      LogisticModel(beta)
    }
  }

  /** Persist a trained [[LogisticModel]] — one (idx, beta) row per
    * coefficient, intercept at idx 0 (the [[Ivf.save]] artifact
    * discipline: stamped, driver-bounded, doubles bit-exact in
    * parquet), so the gate trains once and every ingestion job loads
    * it. */
  def saveLogistic(
      spark: SparkSession, model: LogisticModel, path: String): Unit = {
    import spark.implicits._
    ArtifactFormat.stamp(
        model.beta.zipWithIndex.map { case (b, i) => (i, b) }
          .toDF("idx", "beta"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveLogistic]]d model, loudly validated: indices must be
    * exactly 0..k (the intercept-first alignment every scoring call
    * keys on) — a corrupted artifact fails here, not as silently
    * misaligned coefficients. Bit-identical roundtrip, spec-pinned. */
  def loadLogistic(spark: SparkSession, path: String): LogisticModel = {
    val rows = ArtifactFormat.checked(
        spark.read.parquet(path), "logistic model", path)
      .select(col("idx").cast("int"), col("beta").cast("double"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"logistic model at $path is empty")
    val idxs = rows.map(_.getInt(0)).toSeq
    require(idxs == (0 until rows.length),
      s"logistic model at $path is corrupted: indices " +
        s"${idxs.take(20).mkString(",")} are not contiguous 0..k")
    LogisticModel(rows.map(_.getDouble(1)).toVector)
  }

  /** Score rows under a trained [[LogisticModel]]: `log_odds` =
    * βᵀ(1, x) as a map-only in-plan expression, `predicted` =
    * log_odds > 0. NULL features read NULL log_odds (no silent
    * zero-fill). */
  def scoreLogistic(
      df: DataFrame,
      featureCols: Seq[String],
      model: LogisticModel,
      outCol: String = "log_odds"): DataFrame = {
    require(featureCols.size + 1 == model.beta.size,
      s"scoreLogistic: ${featureCols.size} features vs model arity " +
        s"${model.beta.size - 1}")
    val z = (lit(model.beta(0)) +: featureCols.zipWithIndex.map {
      case (c, i) => col(c).cast("double") * lit(model.beta(i + 1))
    }).reduce(_ + _)
    df.withColumn(outCol, z)
      .withColumn("predicted", col(outCol) > 0.0)
  }

  /** Persist a trained model: the vocabulary table as parquet plus one
    * scalar row — the [[Ivf.save]] artifact discipline, so the gate
    * trains once and every ingestion job loads it. */
  def save(model: NbModel, path: String): Unit = {
    ArtifactFormat.stamp(model.vocab.select("token", "lp_pos", "lp_neg"))
      .write.mode("overwrite").parquet(s"$path/vocab")
    ArtifactFormat.stamp(model.vocab.sparkSession.range(1).select(
        lit(model.priorLogOdds).as("prior_log_odds"),
        lit(model.floorPos).as("floor_pos"),
        lit(model.floorNeg).as("floor_neg")))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[save]]d model. Doubles roundtrip parquet bit-exactly, so
    * a loaded model scores identically to the in-JVM one (pinned by
    * spec). Corrupted artifacts fail loudly: the meta frame must be
    * exactly one row and the vocab frame must carry the three model
    * columns. */
  def load(spark: SparkSession, path: String): NbModel = {
    val meta = ArtifactFormat.checked(
        spark.read.parquet(s"$path/meta"), "NB model meta", s"$path/meta")
      .select("prior_log_odds", "floor_pos", "floor_neg").collect()
    require(meta.length == 1,
      s"NB model at $path is corrupted: ${meta.length} meta rows, expected 1")
    val vocab = ArtifactFormat.checked(
        spark.read.parquet(s"$path/vocab"), "NB model vocab", s"$path/vocab")
      .select("token", "lp_pos", "lp_neg")
    NbModel(vocab, meta(0).getDouble(0), meta(0).getDouble(1),
      meta(0).getDouble(2))
  }

  /** A trained MULTICLASS multinomial NB: `vocab` is one row per
    * (training token, class) — the Laplace-smoothed log conditional
    * materialized for EVERY class (so scoring never special-cases a
    * token unseen in one class but seen in another); `classes` is one
    * row per class — log prior and the unseen-token floor. Both stay
    * distributed; the class table is k rows. */
  final case class NbMultiModel(vocab: DataFrame, classes: DataFrame)

  /** Train a k-class multinomial NB with Laplace smoothing — the
    * multiclass generalization of [[trainNaiveBayes]] (routing by
    * language, source, topic, document format): `lp_c(t) =
    * ln((count(t,c) + α) / (tokens(c) + α·V))` with V = the distinct
    * training vocabulary across ALL classes, prior_c =
    * ln(docs_c / docs). The per-(token, class) table is materialized
    * densely — one broadcast cross of the vocabulary against the
    * k-row class table — so a token with zero count in some class
    * carries its smoothed conditional explicitly rather than as a
    * scoring-time special case; unseen-at-training tokens use the
    * per-class floor `ln(α / (tokens(c) + α·V))`. One corpus pass for
    * counts, vocabulary-bounded everything after; requires >= 2
    * classes, each non-empty by construction of groupBy. NULL labels
    * are rejected loudly (an unlabeled training row is a bug, not a
    * class). */
  def trainMultinomialNB(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      alpha: Double = 1.0): NbMultiModel = Blocks.scoped { s =>
    require(alpha > 0.0, s"alpha ($alpha) must be positive")
    val docs = df.select(col(labelCol).cast("string").as("cls"),
      col(textCol).as("__text"))
    // ONE corpus pass yields the aggregated (token, class) counts AND
    // the doc-level totals: the corpus total and the NULL-label count
    // ride the tokenize scan as observed metrics, and the aggregate is
    // localCheckpoint'ed because four consumers read it (the distinct-
    // vocabulary count, classTotals twice, the smoothed grid join) —
    // previously each re-ran the full tokenize + count shuffle. The
    // checkpoint is VOCABULARY-bounded (≤ v·k rows), never corpus-
    // sized, so materializing it is safe at any corpus scale.
    val obs = org.apache.spark.sql.Observation()
    val tokCounts = s.checkpoint(docs
      .observe(obs, count(lit(1)).as("__n"),
        count(when(col("cls").isNull, lit(1))).as("__nulls"))
      .select(col("cls"), explode(TextFunctions.tokens(col("__text"))).as("token"))
      .groupBy("token", "cls").agg(count(lit(1)).as("cnt")))
    // Late metrics delivery degrades to a label-only recount (no
    // tokenize), never a hard TimeoutException failure.
    val totRow = Observed.row(obs) {
      docs.agg(count(lit(1)), count(when(col("cls").isNull, lit(1)))).head()
    }
    val nullLabels = totRow.getLong(1)
    require(nullLabels == 0,
      s"trainMultinomialNB: $nullLabels rows have a NULL label")
    val nTot = totRow.getLong(0)
    val classCounts = docs.groupBy("cls").agg(count(lit(1)).as("n_docs"))
    val k = classCounts.count()
    require(k >= 2, s"trainMultinomialNB needs >= 2 classes, got $k")
    val scal = tokCounts.agg(count_distinct(col("token")).as("v")).head()
    val v = scal.getLong(0)
    val classTotals = tokCounts.groupBy("cls").agg(sum(col("cnt")).as("tot"))
    // dense (token, class) grid: distinct tokens x the k class totals.
    // The class table is k ROWS — a bounded driver read — so the
    // expansion is a map-side explode over a literal struct array:
    // zero joins (a constant-key join constant-folds into a
    // BroadcastNestedLoopJoin, and an actual crossJoin is one — both
    // trip the PlanShapeSpec no-nested-loop gate for no benefit)
    val ctRows = classTotals.collect() // k rows: ONE bounded driver read
    // A class whose every training doc tokenizes to zero tokens has no
    // tokCounts rows, so it would silently vanish from classTotals (and
    // hence from the grid and the class table) — the class could never
    // be predicted and its prior mass would disappear. Fail loudly
    // instead, matching the NULL-label / k>=2 checks above.
    if (ctRows.length != k) {
      val present = ctRows.map(_.getString(0)).toSet
      val missing = classCounts.select(col("cls")).collect()
        .map(_.getString(0)).filterNot(present).sorted
      throw new IllegalArgumentException(
        s"trainMultinomialNB: class(es) ${missing.mkString(", ")} have no " +
          "tokens in any training document — every class needs at least " +
          "one tokenizable doc")
    }
    val gridLit = explode(array(ctRows.map(r =>
      struct(lit(r.getString(0)).as("cls"),
        lit(r.getLong(1)).as("tot"))): _*))
    val grid = tokCounts.select(col("token")).distinct()
      .select(col("token"), gridLit.as("__g"))
      .select(col("token"), col("__g.cls").as("cls"), col("__g.tot").as("tot"))
    // Checkpointed like tokCounts (same v·k bound): scoring reads the
    // vocabulary twice (seen-token join + the unseen anti-join's
    // distinct), and without this each read re-ran the grid join.
    val vocab = s.checkpoint(grid.join(tokCounts, Seq("token", "cls"), "left")
      .select(col("token"), col("cls"),
        log((coalesce(col("cnt"), lit(0L)) + alpha) /
          (col("tot") + lit(alpha) * v)).as("lp")))
    val classes = classCounts.join(classTotals, "cls")
      .select(col("cls"),
        log(col("n_docs").cast("double") / lit(nTot.toDouble))
          .as("log_prior"),
        log(lit(alpha) / (col("tot") + lit(alpha) * v)).as("floor"))
    NbMultiModel(vocab, classes)
  }

  /** Score every document against a [[trainMultinomialNB]] model and
    * pick the argmax class: per class, `log_prior + Σ_t tf·lp_c(t)`
    * over the doc's vocabulary tokens plus `(unseen token
    * occurrences)·floor_c`. Scores are rounded to 6 BEFORE the argmax
    * ([[labelErrorScreen]]'s discipline), ties break toward the
    * LEXICOGRAPHICALLY SMALLEST class name — both rules so the
    * prediction is engine-exact. A doc with no tokens scores priors
    * only (the prior argmax). Scale shape: one tf aggregation, one
    * vocabulary join, one per-(doc, class) sum against a k-row
    * broadcast class table, one struct-min argmax — nothing
    * corpus-squared anywhere.
    *
    * Output: (id, `predicted`, `score6` of the winning class). */
  def scoreMultinomialNB(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: NbMultiModel): DataFrame = {
    val dtf = df.select(col(idCol).as("__id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("__id", "token").agg(count(lit(1)).as("tf"))
    val vocabToks = model.vocab.select(col("token")).distinct()
    // seen-token per-class partial sums
    val seen = dtf.join(model.vocab, Seq("token"))
      .groupBy("__id", "cls").agg(sum(col("tf") * col("lp")).as("__seen"))
    // per-doc unseen occurrence count (tokens outside the training vocab)
    val unseen = dtf.join(vocabToks, Seq("token"), "left_anti")
      .groupBy("__id").agg(sum(col("tf")).as("__nu"))
    // k-row bounded driver read of the class table, expanded map-side
    // as a literal struct array (see trainMultinomialNB's grid note)
    val clsRows = model.classes
      .select(col("cls"), col("log_prior"), col("floor")).collect()
    val clsLit = explode(array(clsRows.map(r =>
      struct(lit(r.getString(0)).as("cls"),
        lit(r.getDouble(1)).as("log_prior"),
        lit(r.getDouble(2)).as("floor"))): _*))
    val perClass = df.select(col(idCol).as("__id"))
      .select(col("__id"), clsLit.as("__c"))
      .select(col("__id"), col("__c.cls").as("cls"),
        col("__c.log_prior").as("log_prior"), col("__c.floor").as("floor"))
      .join(seen, Seq("__id", "cls"), "left")
      .join(unseen, Seq("__id"), "left")
      .select(col("__id"), col("cls"),
        round(col("log_prior") + coalesce(col("__seen"), lit(0.0)) +
          coalesce(col("__nu"), lit(0L)) * col("floor"), 6).as("score6"))
    perClass.groupBy("__id")
      .agg(min(struct((-col("score6")).as("n"), col("cls").as("c"),
        col("score6").as("s"))).as("__best"))
      .select(col("__id").as(idCol),
        col("__best.c").as("predicted"),
        col("__best.s").as("score6"))
  }

  /** Label-error screen — the confident-learning recipe (Northcutt et
    * al., "Confident Learning", JAIR'21, reduced to its actionable
    * core) over noisy binary labels: split the corpus into folds,
    * score every document with a model trained WITHOUT its fold
    * (out-of-fold prediction — a model that memorized a wrong label
    * would otherwise agree with it), and flag documents where the
    * model CONFIDENTLY disagrees with the recorded label
    * (`predicted != label` and `|log_odds| >= margin`). Flagged rows
    * are the re-annotation queue: on corpora with planted label flips
    * the flags concentrate on the flips, which is exactly the q178
    * oracle construction.
    *
    * The caller supplies `foldCol` (e.g. `id % 2`, or a portable-hash
    * residue) so fold assignment is explicit, deterministic, and
    * engine-replayable — never an RNG inside the operator. Folds are
    * bounded (2..16, checked loudly): training runs once per fold
    * over the fold's complement, so the corpus is scanned `k` times —
    * the price of out-of-fold scoring, linear in the bounded fold
    * count, each pass [[trainNaiveBayes]]'s one-shuffle shape. Noisy
    * labels train the models too — the realistic setting; confident
    * disagreement survives its own noise because NB averages over the
    * class, not the row.
    *
    * `log_odds` is rounded to 6 BEFORE both the sign test and the
    * margin test ([[graft.operators.Eval.rocAuc]]'s discipline), so a
    * cross-engine ulp cannot flip a flag.
    *
    * Output: one row per input doc — id, `label`, `fold`,
    * `log_odds6`, `mislabel_flag`. */
  def labelErrorScreen(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      foldCol: String,
      margin: Double,
      alpha: Double = 1.0): DataFrame = {
    require(margin >= 0.0, s"margin ($margin) must be >= 0")
    // limit(17) bounds the driver read BEFORE the 2..16 validation: an
    // accidentally high-cardinality fold column (say, the id column)
    // must trip the require below, not materialize its whole distinct
    // set on the driver first.
    val folds =
      df.select(col(foldCol)).distinct().limit(17).collect().map(_.get(0))
    require(!folds.contains(null),
      "labelErrorScreen: NULL fold values — assign every row a fold")
    require(folds.length >= 2 && folds.length <= 16,
      s"labelErrorScreen: ${folds.length} folds — need 2..16 (1 fold has " +
        "no out-of-fold complement; more than 16 re-scans the corpus " +
        "once per fold)")
    val scored = folds.map { f =>
      val model = trainNaiveBayes(
        df.filter(col(foldCol) =!= lit(f)), textCol, labelCol, alpha)
      val slice = df.filter(col(foldCol) === lit(f))
      scoreNaiveBayes(slice, idCol, textCol, model)
        .join(slice.select(col(idCol),
          col(labelCol).cast("boolean").as("label"),
          col(foldCol).as("fold")), Seq(idCol))
    }.reduce(_.unionByName(_))
    scored
      .select(col(idCol), col("label"), col("fold"),
        round(col("log_odds"), 6).as("log_odds6"))
      .withColumn("mislabel_flag",
        ((col("log_odds6") > 0.0) =!= col("label")) &&
          abs(col("log_odds6")) >= margin)
  }
}
