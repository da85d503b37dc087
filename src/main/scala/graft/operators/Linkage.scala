package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage: Fellegi–Sunter log-likelihood
  * scoring over blocked candidate pairs — the decision layer the
  * blocking operators ([[Fuzzy.blockedFuzzyPairs]], the LSH family)
  * produce candidates FOR. Given, per comparison field, the
  * probability the field agrees on a TRUE match (`m`) and on a random
  * non-match (`u`), every candidate pair scores
  * `Σ_fields ln(m/u)` over agreeing fields plus
  * `Σ ln((1−m)/(1−u))` over disagreeing ones — the classic
  * Fellegi–Sunter (1969) log-likelihood ratio; the field weights are
  * the published "agreement/disagreement weights" of survey-office
  * deduplication. No reference counterpart — statistics-pipeline
  * extension (the reference library's home domain).
  */
object Linkage {

  /** One comparison field: its column name (present in BOTH record
    * frames) and its Fellegi–Sunter probabilities — `m` =
    * P(agree | match), `u` = P(agree | non-match). `0 < u < m < 1`
    * is required loudly: a field with `m <= u` carries no linkage
    * evidence (its weights invert) and a boundary probability makes a
    * log weight infinite.
    *
    * `simThreshold` selects the AGREEMENT PREDICATE: `1.0` (the
    * default) is exact null-safe value equality; anything below is
    * FUZZY agreement — Jaro–Winkler similarity ≥ the threshold
    * ([[graft.expressions.JaroWinklerSim]], the linkage community's
    * standard typo-tolerant comparator), so a one-keystroke name typo
    * (JW ~0.97) still counts as agreement instead of destroying the
    * field's evidence. The NULL rule is predicate-independent: NULL
    * on either side is no evidence either way. Note the fuzzy
    * predicate follows the kernel's either-side-empty → 0 rule, so
    * two EMPTY strings fuzzy-DISAGREE below threshold 1 (exact
    * equality is the predicate that treats them as equal). */
  final case class FsField(
      name: String, m: Double, u: Double, simThreshold: Double = 1.0) {
    require(m > 0.0 && m < 1.0 && u > 0.0 && u < 1.0,
      s"field '$name': m ($m) and u ($u) must be strictly inside (0, 1)")
    require(m > u,
      s"field '$name': m ($m) must exceed u ($u) — otherwise agreement " +
        "is evidence AGAINST a match and the weights invert")
    require(simThreshold > 0.0 && simThreshold <= 1.0,
      s"field '$name': simThreshold ($simThreshold) must be in (0, 1] — " +
        "1.0 means exact equality, below it Jaro-Winkler fuzzy agreement")
    def agreeWeight: Double = math.log(m / u)
    def disagreeWeight: Double = math.log((1.0 - m) / (1.0 - u))
  }

  /** Score candidate pairs: join each (id_a, id_b) to its two records
    * (plain equi joins on the ids — AQE broadcasts a small side,
    * unhinted per the file conventions elsewhere), then a MAP-ONLY
    * projection sums per-field weights. Field semantics: agreement is
    * null-safe VALUE equality after a string cast; a field NULL on
    * EITHER side contributes nothing (missing data is no evidence
    * either way — the standard FS treatment, NOT agreement). The
    * score rides the 6dp gate and `is_match` compares the ROUNDED
    * score against `matchThreshold` (the iqrOutlierFlags boundary
    * discipline — a sub-gate margin cannot flip the verdict between
    * engines).
    *
    * Scale shape: two hash joins keyed on record ids + one map-only
    * scoring pass; cost tracks the candidate count the blocking stage
    * already bounded, never |left|×|right|. Output: (`id_a`, `id_b`,
    * `n_agree`, `score6`, `is_match`). */
  def fellegiSunterScores(
      candidates: DataFrame,
      idACol: String,
      idBCol: String,
      left: DataFrame,
      leftIdCol: String,
      right: DataFrame,
      rightIdCol: String,
      fields: Seq[FsField],
      matchThreshold: Double): DataFrame =
    scorePairs(candidates, idACol, idBCol, left, leftIdCol,
        right, rightIdCol, fields)
      .withColumn("is_match", col("score6") >= lit(matchThreshold))

  /** The canonical Fellegi–Sunter THREE-BAND decision rule over the
    * same scores: `match` at or above `upperThreshold`, `non_match`
    * at or below `lowerThreshold`, `review` (the clerical band — the
    * pairs a human adjudicates) in between. Two thresholds, not one,
    * is the actual 1969 framework: the upper cutoff caps the false-
    * MATCH rate, the lower caps the false-NON-MATCH rate, and the
    * review band absorbs the ambiguous middle — derive both from the
    * EM estimate with [[fsThresholds]]. Band comparisons run on the
    * ROUNDED `score6` against thresholds the caller should also have
    * rounded ([[fsThresholds]] does) — the iqrOutlierFlags boundary
    * discipline, so a sub-gate margin cannot flip a band between
    * engines. Same scale shape as [[fellegiSunterScores]]. Output:
    * (`id_a`, `id_b`, `n_agree`, `score6`, `decision`). */
  def fellegiSunterDecisions(
      candidates: DataFrame,
      idACol: String,
      idBCol: String,
      left: DataFrame,
      leftIdCol: String,
      right: DataFrame,
      rightIdCol: String,
      fields: Seq[FsField],
      upperThreshold: Double,
      lowerThreshold: Double): DataFrame = {
    require(upperThreshold > lowerThreshold,
      s"upperThreshold ($upperThreshold) must exceed lowerThreshold " +
        s"($lowerThreshold) — equal or inverted bands leave no review zone " +
        "semantics to apply")
    scorePairs(candidates, idACol, idBCol, left, leftIdCol,
        right, rightIdCol, fields)
      .withColumn("decision",
        when(col("score6") >= lit(upperThreshold), lit("match"))
          .when(col("score6") <= lit(lowerThreshold), lit("non_match"))
          .otherwise(lit("review")))
  }

  /** Shared scoring core of [[fellegiSunterScores]] /
    * [[fellegiSunterDecisions]] — candidates joined to both record
    * frames, one map-only weight-sum projection. */
  private def scorePairs(
      candidates: DataFrame,
      idACol: String,
      idBCol: String,
      left: DataFrame,
      leftIdCol: String,
      right: DataFrame,
      rightIdCol: String,
      fields: Seq[FsField]): DataFrame = {
    require(fields.nonEmpty, "fellegiSunterScores needs comparison fields")
    require(fields.map(_.name).distinct.size == fields.size,
      s"duplicate comparison fields: ${fields.map(_.name).mkString(", ")}")
    fields.foreach { f =>
      require(left.columns.contains(f.name) && right.columns.contains(f.name),
        s"comparison field '${f.name}' must exist in both record frames")
    }
    val l = left.select((leftIdCol +: fields.map(_.name)).distinct.map(col): _*)
      .alias("__fl")
    val r = right.select((rightIdCol +: fields.map(_.name)).distinct.map(col): _*)
      .alias("__fr")
    // fully qualified join keys: a record frame whose id or field is
    // itself named id_a/id_b (this codebase's own pair convention, so
    // a natural re-linking shape) must not make the keys ambiguous
    val joined = candidates
      .select(col(idACol).as("id_a"), col(idBCol).as("id_b"))
      .alias("__fc")
      .join(l, col("__fc.id_a") === col(s"__fl.$leftIdCol"))
      .join(r, col("__fc.id_b") === col(s"__fr.$rightIdCol"))
    def lf(f: FsField): Column = col(s"__fl.${f.name}").cast("string")
    def rf(f: FsField): Column = col(s"__fr.${f.name}").cast("string")
    val agreeFlags = fields.map { f =>
      // exact fields compare null-safe equality; fuzzy fields compare
      // Jaro-Winkler against the field's threshold (codegen'd native
      // expression) — the NULL-is-no-evidence wrapper is shared
      val agrees =
        if (f.simThreshold >= 1.0) lf(f) === rf(f)
        else graft.expressions.GraftFunctions
          .jaroWinkler(candidates, lf(f), rf(f)) >= lit(f.simThreshold)
      when(lf(f).isNull || rf(f).isNull, lit(null).cast("boolean"))
        .otherwise(agrees)
    }
    val terms = fields.zip(agreeFlags).map { case (f, a) =>
      when(a.isNull, lit(0.0))
        .when(a, lit(f.agreeWeight))
        .otherwise(lit(f.disagreeWeight))
    }
    val nAgree = agreeFlags
      .map(a => when(coalesce(a, lit(false)), 1L).otherwise(0L))
      .reduce(_ + _)
    joined.select(col("__fc.id_a").as("id_a"), col("__fc.id_b").as("id_b"),
        nAgree.as("n_agree"),
        round(terms.reduce(_ + _), 6).as("score6"))
  }

  /** The two decision cutoffs for [[fellegiSunterDecisions]], both on
    * the 6dp gate: `upper` (score ≥ upper ⇒ match) and `lower`
    * (score ≤ lower ⇒ non-match). */
  final case class FsThresholds(upper: Double, lower: Double)

  /** Derive the three-band thresholds from an [[FsEstimate]] and the
    * two target error rates — the Fellegi–Sunter optimality
    * construction itself: under conditional independence every
    * agreement pattern γ has an exact likelihood under match
    * (`Π mᵢ^γᵢ(1−mᵢ)^(1−γᵢ)`) and non-match, so ordering the
    * (≤ 2^k, k ≤ 16 enforced) patterns by their log-likelihood-ratio
    * weight and admitting from the TOP while the admitted patterns'
    * total NON-MATCH probability stays within `muErr` (the false-match
    * budget) yields the upper cutoff; admitting from the BOTTOM while
    * the total MATCH probability stays within `lambdaErr` (the
    * false-non-match budget) yields the lower one. FS proved this
    * band assignment optimal: it minimizes the review region among
    * all rules meeting both error targets. Patterns whose weights
    * collide on the 6dp gate are admitted or excluded TOGETHER (a
    * threshold on the rounded score cannot split them), and the
    * returned cutoffs are the admitted boundary weights rounded at 6
    * — the exact values [[fellegiSunterDecisions]]'s rounded-score
    * comparisons need. Pure driver arithmetic, fully deterministic.
    * Fails loudly when a budget is so tight not even the extreme
    * pattern fits, or so loose the two bands would overlap. The match
    * proportion `p` plays no role here (the budgets are CONDITIONAL
    * error rates); it rides along in the estimate for the caller's
    * prior. */
  def fsThresholds(
      estimate: FsEstimate,
      muErr: Double,
      lambdaErr: Double): FsThresholds = {
    require(muErr > 0.0 && muErr < 1.0,
      s"muErr ($muErr) must be strictly inside (0, 1)")
    require(lambdaErr > 0.0 && lambdaErr < 1.0,
      s"lambdaErr ($lambdaErr) must be strictly inside (0, 1)")
    val k = estimate.fields.size
    require(k >= 1 && k <= 16,
      s"$k fields would mean 2^$k patterns — cap is 16")
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // every pattern's (rounded weight, P(γ|M), P(γ|U)), grouped by the
    // gate-rounded weight: gate collisions must band together
    val byWeight = (0 until (1 << k)).map { pat =>
      var w = 0.0; var pm = 1.0; var pu = 1.0
      var i = 0
      while (i < k) {
        val f = estimate.fields(i)
        if (((pat >> i) & 1) == 1) {
          w += f.agreeWeight; pm *= f.m; pu *= f.u
        } else {
          w += f.disagreeWeight; pm *= 1.0 - f.m; pu *= 1.0 - f.u
        }
        i += 1
      }
      (r6(w), pm, pu)
    }.groupBy(_._1).toSeq
      .map { case (w6, g) => (w6, g.map(_._2).sum, g.map(_._3).sum) }
      .sortBy(_._1)
    // upper: admit groups from the TOP while cumulative u-mass fits
    val desc = byWeight.reverse
    val admitTop = desc.scanLeft(0.0)(_ + _._3).tail.zip(desc)
      .takeWhile { case (cumU, _) => cumU <= muErr }.map(_._2)
    require(admitTop.nonEmpty,
      s"muErr ($muErr) is tighter than even the strongest agreement " +
        s"pattern's non-match probability (${desc.head._3}) — no score can " +
        "be auto-matched under this budget")
    // lower: admit groups from the BOTTOM while cumulative m-mass fits
    val admitBottom = byWeight.scanLeft(0.0)(_ + _._2).tail.zip(byWeight)
      .takeWhile { case (cumM, _) => cumM <= lambdaErr }.map(_._2)
    require(admitBottom.nonEmpty,
      s"lambdaErr ($lambdaErr) is tighter than even the weakest pattern's " +
        s"match probability (${byWeight.head._2}) — no score can be " +
        "auto-rejected under this budget")
    val upper = admitTop.last._1
    val lower = admitBottom.last._1
    require(upper > lower,
      s"error budgets too loose: the match band (≥ $upper) and non-match " +
        s"band (≤ $lower) overlap — tighten muErr/lambdaErr")
    FsThresholds(upper, lower)
  }

  /** Estimated Fellegi–Sunter parameters: the match proportion `p`
    * and per-field (m, u) ready to feed [[fellegiSunterScores]]. */
  final case class FsEstimate(p: Double, fields: Seq[FsField])

  /** EM estimation of the m/u weights from UNLABELED candidate pairs
    * — how the FS parameters are obtained in practice (Winkler's
    * classic application of EM to the latent match indicator): each
    * candidate pair reduces to its binary agreement pattern
    * γ ∈ {0,1}^k, the 2^k pattern COUNTS are the complete sufficient
    * statistics, and EM iterates driver-side on that bounded table —
    * E-step: P(match | γ) under the current (p, m, u); M-step:
    * count-weighted re-estimates. Deterministic by construction:
    * fixed iteration count, fixed double-precision init, no
    * randomness — reruns agree bit-for-bit (spec-pinned), which is
    * why this is safely spec-covered rather than oracle-replayed (EM
    * in SQL would be a recursion nobody audits). A field NULL on
    * either side counts as DISAGREEMENT here (estimation wants a
    * complete binary pattern; the conservative fold) — stated, and
    * different from the scorer's no-evidence rule. Estimates are
    * clamped to [1e-6, 1−1e-6] so a degenerate corpus cannot emit a
    * boundary probability [[FsField]] would reject.
    *
    * Scale shape: one pattern-count aggregation over the candidates
    * (two id-keyed joins + a bitmask groupBy, output ≤ 2^k rows,
    * k ≤ 16 enforced), then pure driver arithmetic on the collected
    * pattern table. */
  def estimateFsParams(
      candidates: DataFrame,
      idACol: String,
      idBCol: String,
      left: DataFrame,
      leftIdCol: String,
      right: DataFrame,
      rightIdCol: String,
      fieldNames: Seq[String],
      iters: Int = 25,
      initP: Double = 0.1,
      initM: Double = 0.9,
      initU: Double = 0.1): FsEstimate =
    estimateFsParamsTraced(candidates, idACol, idBCol, left, leftIdCol,
      right, rightIdCol, fieldNames, iters, initP, initM, initU)._1

  /** [[estimateFsParams]] plus its CONVERGENCE TRACE — the
    * per-iteration observed-data log-likelihood
    * `Σ_γ c_γ · ln(p·P(γ|M) + (1−p)·P(γ|U))` evaluated after each
    * M-step, as a small DataFrame (`iter`, `log_lik`): EM guarantees
    * this series is non-decreasing while the boundary clamp is
    * inactive — the generic position, spec-pinned on a well-separated
    * corpus — so a user can SEE a run that is still climbing at
    * `iters` (raise the knob) or a trace that DIPS (the [1e-6, 1−1e-6]
    * clamp is binding: a parameter was pulled off the M-step maximizer
    * because some field agrees on essentially all or none of the
    * candidates — the monotonicity proof does not cover that corpus,
    * and the dip is the diagnostic). The trace is iters-bounded driver
    * data (a `toDF` of ≤ `iters` rows); the estimation arithmetic is
    * [[estimateFsParams]]'s verbatim. */
  def estimateFsParamsTraced(
      candidates: DataFrame,
      idACol: String,
      idBCol: String,
      left: DataFrame,
      leftIdCol: String,
      right: DataFrame,
      rightIdCol: String,
      fieldNames: Seq[String],
      iters: Int = 25,
      initP: Double = 0.1,
      initM: Double = 0.9,
      initU: Double = 0.1): (FsEstimate, DataFrame) = {
    require(fieldNames.nonEmpty, "estimateFsParams needs comparison fields")
    require(fieldNames.distinct.size == fieldNames.size,
      s"duplicate comparison fields: ${fieldNames.mkString(", ")}")
    require(fieldNames.size <= 16,
      s"${fieldNames.size} fields would mean 2^${fieldNames.size} patterns — cap is 16")
    require(iters >= 1, s"iters ($iters) must be >= 1")
    val k = fieldNames.size
    val l = left.select((leftIdCol +: fieldNames).distinct.map(col): _*)
      .alias("__fl")
    val r = right.select((rightIdCol +: fieldNames).distinct.map(col): _*)
      .alias("__fr")
    val mask = fieldNames.zipWithIndex.map { case (f, i) =>
      val a = col(s"__fl.$f").cast("string")
      val b = col(s"__fr.$f").cast("string")
      when(a.isNotNull && b.isNotNull && a === b, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val patterns = candidates
      .select(col(idACol).as("id_a"), col(idBCol).as("id_b"))
      .alias("__fc") // qualified keys — same hazard as the scorer's
      .join(l, col("__fc.id_a") === col(s"__fl.$leftIdCol"))
      .join(r, col("__fc.id_b") === col(s"__fr.$rightIdCol"))
      .groupBy(mask.as("__pat")).agg(count(lit(1)).as("__c"))
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    require(patterns.nonEmpty, "estimateFsParams: no candidate pairs")
    val total = patterns.map(_._2).sum.toDouble
    def clamp(x: Double) = math.min(1.0 - 1e-6, math.max(1e-6, x))
    var p = initP
    var m = Array.fill(k)(initM)
    var u = Array.fill(k)(initU)
    // observed-data log-likelihood under the CURRENT (p, m, u) — the
    // quantity EM provably never decreases, evaluated on the same
    // bounded pattern table the E-step walks
    def logLik(): Double = {
      var ll = 0.0
      patterns.foreach { case (pat, c) =>
        var pm = p
        var pu = 1.0 - p
        var i = 0
        while (i < k) {
          val g = ((pat >> i) & 1L) == 1L
          pm *= (if (g) m(i) else 1.0 - m(i))
          pu *= (if (g) u(i) else 1.0 - u(i))
          i += 1
        }
        ll += c * math.log(pm + pu)
      }
      ll
    }
    val trace = new scala.collection.mutable.ArrayBuffer[(Int, Double)](iters)
    var it = 0
    while (it < iters) {
      var sw = 0.0
      val swG = new Array[Double](k)
      val snG = new Array[Double](k)
      var sn = 0.0
      patterns.foreach { case (pat, c) =>
        var pm = p
        var pu = 1.0 - p
        var i = 0
        while (i < k) {
          val g = ((pat >> i) & 1L) == 1L
          pm *= (if (g) m(i) else 1.0 - m(i))
          pu *= (if (g) u(i) else 1.0 - u(i))
          i += 1
        }
        val w = pm / (pm + pu)
        sw += c * w
        sn += c * (1.0 - w)
        i = 0
        while (i < k) {
          if (((pat >> i) & 1L) == 1L) {
            swG(i) += c * w
            snG(i) += c * (1.0 - w)
          }
          i += 1
        }
      }
      p = clamp(sw / total)
      m = Array.tabulate(k)(i => clamp(swG(i) / math.max(sw, 1e-300)))
      u = Array.tabulate(k)(i => clamp(snG(i) / math.max(sn, 1e-300)))
      it += 1
      trace += ((it, logLik()))
    }
    val estimate = FsEstimate(p, fieldNames.zipWithIndex.map { case (f, i) =>
      // a non-discriminating field (m <= u after EM) cannot build an
      // FsField — surface it loudly with the estimates in the message
      require(m(i) > u(i),
        s"estimateFsParams: field '$f' converged to m=${m(i)} <= u=${u(i)} " +
          "— it does not discriminate matches on these candidates")
      FsField(f, m(i), u(i))
    })
    val spark = candidates.sparkSession
    import spark.implicits._
    (estimate, trace.toSeq.toDF("iter", "log_lik"))
  }

  /** End-to-end entity resolution — the composition the linkage
    * family exists for: accepted match pairs (the `is_match` output
    * of [[fellegiSunterScores]], or any pair frame) become edges,
    * transitive closure groups them into entities
    * ([[Components.connectedComponents]] — min-reachable-id labels,
    * deterministic), and every record absent from any match keeps
    * itself as a singleton entity. Transitive closure is the honest
    * semantic of pairwise matching (if A≈B and B≈C the three ARE one
    * entity under the match relation) — and also its known hazard
    * (chains merge unlike records through intermediaries), which is
    * why the match threshold, not this operator, is the knob.
    *
    * Scale shape: the CC iteration is edges-bounded (match pairs,
    * not records), the singleton fill is one left join from the
    * record ids onto the component labels. Output:
    * (`record_id`, `entity_id`), entity = the minimum record id in
    * the entity. */
  def resolveEntities(
      records: DataFrame,
      idCol: String,
      matchedPairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    // maxIters is surfaced, not swallowed: a legitimately long match
    // chain (the documented chain-merge shape) needs diameter+1 label
    // iterations, and the CC bound fails loudly — the caller must
    // have the knob the error message tells them to turn
    val labels = Components.connectedComponents(
      matchedPairs.select(col(idACol), col(idBCol)), idACol, idBCol,
      maxIters)
      .withColumnRenamed("node", "record_id")
    records.select(col(idCol).as("record_id"))
      .join(labels, Seq("record_id"), "left_outer")
      .select(col("record_id"),
        coalesce(col("comp"), col("record_id")).as("entity_id"))
  }

  /** Incremental [[resolveEntities]] — the ledger shape of entity
    * resolution: yesterday's entity labels plus TODAY'S new match
    * pairs, without re-clustering the accumulated match graph
    * ([[Components.incrementalComponents]] — new edges contract onto
    * the prior labels, the CC iteration runs batch-bounded on the
    * contracted graph, and min-id labeling makes the fold provably
    * equal to the full recompute, the q194 argument). Records never
    * matched stay singleton entities, exactly as in the batch form —
    * so the incremental output is held to the SAME oracle. */
  def resolveEntitiesIncremental(
      records: DataFrame,
      idCol: String,
      prevLabels: DataFrame,
      newMatchedPairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    val labels = Components.incrementalComponents(
      prevLabels,
      newMatchedPairs.select(col(idACol), col(idBCol)),
      idACol, idBCol, maxIters)
      .withColumnRenamed("node", "record_id")
    records.select(col(idCol).as("record_id"))
      .join(labels, Seq("record_id"), "left_outer")
      .select(col("record_id"),
        coalesce(col("comp"), col("record_id")).as("entity_id"))
  }

  /** Blocking-quality report — the two numbers that judge a blocking
    * scheme BEFORE anyone scores pairs: the reduction ratio
    * (1 − |candidates| / (|L|·|R|): how much of the quadratic
    * comparison space the blocks pruned) and pairs completeness
    * (|candidates ∩ truth| / |truth|: the recall the pruning kept),
    * on a labeled truth sample. Candidates and truth are
    * DISTINCT-counted (a pair emitted by two blocks is one
    * comparison saved is one comparison). All counts integer-exact;
    * the two ratios are single divisions on the 6dp gate.
    *
    * Scale shape: two distinct-aggregations plus one pair-keyed join
    * bounded by the truth sample; |L| and |R| are passed in (the
    * caller already knows its table sizes — recounting 100 TB to
    * label a report is not this operator's job). Output: one row —
    * (`n_left`, `n_right`, `n_candidates`, `n_truth`, `n_found`,
    * `reduction6`, `completeness6`). */
  def blockingReport(
      candidates: DataFrame,
      truePairs: DataFrame,
      nLeft: Long,
      nRight: Long,
      idACol: String = "id_a",
      idBCol: String = "id_b"): DataFrame = {
    require(nLeft > 0L && nRight > 0L,
      s"record counts must be positive (got $nLeft, $nRight)")
    val spark = candidates.sparkSession
    Blocks.scoped { s =>
      val cand = s.checkpoint(candidates
        .select(col(idACol).as("id_a"), col(idBCol).as("id_b")).distinct())
      val truth = s.checkpoint(truePairs
        .select(col(idACol).as("id_a"), col(idBCol).as("id_b")).distinct())
      val nCand = cand.count()
      val nTruth = truth.count()
      val nFound = truth.join(cand, Seq("id_a", "id_b")).count()
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val reduction =
        1.0 - nCand.toDouble / (nLeft.toDouble * nRight.toDouble)
      val completeness =
        if (nTruth == 0L) None else Some(r6(nFound.toDouble / nTruth.toDouble))
      import spark.implicits._
      Seq((nLeft, nRight, nCand, nTruth, nFound, r6(reduction), completeness))
        .toDF("n_left", "n_right", "n_candidates", "n_truth", "n_found",
          "reduction6", "completeness6")
    }
  }
}
