package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Annotation-quality operators for labeled training data: multi-rater
  * chance-corrected agreement (Fleiss' kappa, Krippendorff's alpha),
  * majority-vote label consolidation, and the per-annotator
  * agreement report that finds the rater whose labels are dragging a
  * dataset down. The RLHF/eval-labeling companion to the two-rater
  * [[Eval.cohenKappa]]: a preference or safety label is only as good
  * as the agreement behind it, and raw percent-agreement flatters a
  * skewed label balance for free. No reference counterpart —
  * statistics-pipeline extension (the reference library's home
  * domain).
  *
  * Input shape shared by every operator here: a LONG-format ratings
  * table — one row per (item, rater, label). Rows with a NULL item,
  * rater, or label are excluded (an unlabeled assignment is not a
  * category); duplicate (item, rater) assignments fail loudly — a
  * rater labels an item once, and silently keeping either copy would
  * bias every statistic downstream.
  */
object Annotate {

  /** The shared guarded projection: (item, rater, label) as strings,
    * NULLs dropped, duplicate (item, rater) loud. The duplicate guard
    * rides a grouped count — one map-side-combined pass over
    * assignment cardinality, no window. */
  private def ratings(
      df: DataFrame, itemCol: String, raterCol: String,
      labelCol: String, op: String): DataFrame = {
    val base = df.select(
        col(itemCol).cast("string").as("__it"),
        col(raterCol).cast("string").as("__r"),
        col(labelCol).cast("string").as("__l"))
      .filter(col("__it").isNotNull && col("__r").isNotNull &&
        col("__l").isNotNull)
    base.groupBy("__it", "__r")
      .agg(count(lit(1)).as("__c"), first(col("__l")).as("__l"))
      .select(col("__it"), col("__r"),
        when(col("__c") === 1L, col("__l"))
          .otherwise(raise_error(concat(
            lit(s"$op: rater "), col("__r"),
            lit(" labeled item "), col("__it"),
            lit(" "), col("__c").cast("string"),
            lit(" times — one rating per (item, rater)")))).as("__l"))
  }

  /** Fleiss' kappa — chance-corrected agreement among n raters who
    * each label every item (the classic 1971 multi-rater
    * generalization of percent agreement): `κ = (P̄ − P̄e)/(1 − P̄e)`
    * where `P̄` is the mean per-item pairwise agreement and `P̄e` the
    * agreement raters with these label marginals would reach
    * independently. Requires a CONSTANT rater count per item (Fleiss'
    * precondition) — varying participation fails loudly and is
    * [[krippendorffAlpha]]'s job.
    *
    * Arithmetic is exact until ONE division. With `N` items, `n`
    * raters, `A = Σ_i Σ_k n_ik²` and `B = Σ_k (Σ_i n_ik)²`:
    * `κ = ((A − Nn)·Nn − B(n−1)) / ((n−1)((Nn)² − B))` — every term
    * an integer carried as DECIMAL(38,0) (at petabyte assignment
    * counts `(Nn)²` overflows a long), so both engines compute the
    * identical integers and the readout is one double division on
    * the 6-decimal gate. Degenerate corpus where chance agreement is
    * 1 (every rater constant): κ is NULL — agreement beyond chance
    * is undefined there, not zero.
    *
    * Scale shape: one map-side-combined count onto (item, label)
    * cells, then two bounded aggregations to driver scalars — never
    * a window, never a pairwise expansion (the per-item pair counts
    * collapse into `Σ n_ik²` algebraically). Output: one row —
    * (`n_items`, `n_raters`, `n_labels`, `kappa6`). */
  def fleissKappa(
      df: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    Blocks.scoped { s =>
      fleissKappaFromCells(s.checkpoint(annotationCellsOf(
        df, itemCol, raterCol, labelCol, "fleissKappa")))
    }
  }

  /** One shard's (item, label) rating-cell state — `(__it, __l, __c)`
    * — the SUM-foldable sufficient statistics of the whole agreement
    * family (kappa, alpha, consolidation all read off it). The
    * duplicate-(item, rater) guard runs WITHIN the shard; a fold
    * trusts shard disjointness, the ledger contract every maintained
    * family shares. */
  private[graft] def annotationCellsOf(
      df: DataFrame, itemCol: String, raterCol: String,
      labelCol: String, op: String): DataFrame =
    ratings(df, itemCol, raterCol, labelCol, op)
      .groupBy("__it", "__l").agg(count(lit(1)).as("__c"))

  /** The cell-state fold: union + one cells-bounded re-aggregation;
    * counts merge by SUM, so the batch, incremental, and streaming
    * agreement readouts are formulations of one ground truth. */
  private[graft] def foldAnnotationCells(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__it", "__l")
      .agg(sum(col("__c")).as("__c"))

  /** A [[FoldMonitor]] over the ratings feed's (item, label) cell
    * state, read out by `readout`. */
  private def cellMonitor(name: String, itemCol: String, raterCol: String,
      labelCol: String)(readout: DataFrame => DataFrame): FoldMonitor =
    FoldMonitor(name, _.select(itemCol, raterCol, labelCol),
      annotationCellsOf(_, itemCol, raterCol, labelCol, name),
      foldAnnotationCells, readout)

  /** [[fleissKappa]] as a monitor. Fleiss' constant-panel
    * precondition applies to the ACCUMULATED cells: the replay reads
    * out at the end, once the full panel has landed. */
  def fleissMonitor(
      itemCol: String, raterCol: String, labelCol: String): FoldMonitor =
    cellMonitor("fleissMonitor", itemCol, raterCol, labelCol)(state =>
      fleissKappaFromCells(Blocks.checkpoint(state)))

  /** [[krippendorffAlpha]] as a monitor. Alpha tolerates varying
    * participation, so its readout is meaningful at any point of the
    * feed, not only at panel completion. */
  def alphaMonitor(
      itemCol: String, raterCol: String, labelCol: String): FoldMonitor =
    cellMonitor("alphaMonitor", itemCol, raterCol, labelCol)(state =>
      krippendorffAlphaFromCells(Blocks.checkpoint(state)))

  /** [[consolidateLabels]] as a monitor: the consensus training-label
    * table stays current as annotations land (ties stay
    * deterministic: the argmin reads the accumulated cells). */
  def consensusMonitor(
      itemCol: String, raterCol: String, labelCol: String): FoldMonitor =
    cellMonitor("consensusMonitor", itemCol, raterCol, labelCol)(
      consolidateLabelsFromCells(_, itemCol))

  /** [[fleissKappa]]'s readout over accumulated `(__it, __l, __c)`
    * state — shared verbatim by the batch operator, the incremental
    * fold, and the streaming monitor (the caller owns
    * checkpointing). */
  private[graft] def fleissKappaFromCells(cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    val per = cells.groupBy("__it").agg(
        sum(col("__c")).as("__ni"),
        sum(col("__c").cast("decimal(38,0)") *
          col("__c").cast("decimal(38,0)")).as("__a"))
      val top = per.agg(
        count(lit(1)).as("N"),
        min(col("__ni")).as("lo"), max(col("__ni")).as("hi"),
        sum(col("__a")).as("A")).head()
      val nItems = top.getLong(0)
      require(nItems > 0L, "fleissKappa: no ratings")
      val (lo, hi) = (top.getLong(1), top.getLong(2))
      require(lo == hi,
        s"fleissKappa: rater count varies per item ($lo..$hi) — Fleiss " +
          "requires a constant panel; use krippendorffAlpha for " +
          "varying participation")
      val n = lo
      require(n >= 2L,
        s"fleissKappa: $n rating per item — agreement needs at least 2")
      val bRow = cells.groupBy("__l").agg(sum(col("__c")).as("__ck"))
        .agg(count(lit(1)).as("V"),
          sum(col("__ck").cast("decimal(38,0)") *
            col("__ck").cast("decimal(38,0)")).as("B")).head()
      val nLabels = bRow.getLong(0)
      val a = BigDecimal(top.getDecimal(3))
      val b = BigDecimal(bRow.getDecimal(1))
      val nn = BigDecimal(nItems) * BigDecimal(n)
      val num = (a - nn) * nn - b * BigDecimal(n - 1L)
      val den = BigDecimal(n - 1L) * (nn * nn - b)
      val kappa6: Option[Double] =
        if (den == BigDecimal(0)) None
        else Some(BigDecimal(num.toDouble / den.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      import spark.implicits._
      Seq((nItems, n, nLabels, kappa6))
        .toDF("n_items", "n_raters", "n_labels", "kappa6")
  }

  /** Krippendorff's alpha (nominal data) — the agreement coefficient
    * that tolerates VARYING participation: raters need not label
    * every item (the real shape of a crowd-labeling pipeline, where
    * each item gets whichever 3 of 7 raters were online). Items with
    * fewer than 2 ratings are excluded (nothing to agree on);
    * `α = 1 − D_o/D_e` over observed vs expected disagreement.
    *
    * Arithmetic is exact until ONE division. Per item the observed
    * disagreement term is `(n_i² − Σ_k n_ik²)/(n_i − 1)` — a fraction
    * with a SMALL denominator (n_i ≤ the rater-pool size), so scaling
    * every term by `L = lcm(1..maxN−1)` makes the sum
    * `S = Σ_i L/(n_i−1) · (n_i² − Σ_k n_ik²)` an exact integer; with
    * `C = n_tot² − Σ_k c_k²` (expected-disagreement integer over the
    * pooled label marginals), `α = 1 − S(n_tot−1)/(L·C)` — exact
    * DECIMAL(38,0) integers, one double division, 6-decimal gate.
    * Rater pools past 16 are refused loudly (the lcm guard; widen
    * deliberately if a 17-rater panel ever exists). All-one-label
    * corpus: D_e = 0, α reported NULL (0/0 — agreement is vacuous).
    *
    * Scale shape: identical to [[fleissKappa]] — (item, label) cell
    * counts, two bounded aggregations, driver scalars. Output: one
    * row — (`n_items`, `n_ratings`, `n_labels`, `alpha6`). */
  def krippendorffAlpha(
      df: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame =
    // checkpoint the CELLS (items × labels — the duplicate-guard pass
    // over the raw assignments runs once); the per-item rollup is a
    // cells-bounded re-aggregation wherever it recurs
    Blocks.scoped { s =>
      krippendorffAlphaFromCells(s.checkpoint(annotationCellsOf(
        df, itemCol, raterCol, labelCol, "krippendorffAlpha")))
    }

  /** [[krippendorffAlpha]]'s readout over accumulated
    * `(__it, __l, __c)` state — the SAME state [[fleissKappaFromCells]]
    * reads, so one maintained cell table serves the whole agreement
    * family. */
  private[graft] def krippendorffAlphaFromCells(
      cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    val per = cells.groupBy("__it").agg(
        sum(col("__c")).as("__ni"),
        sum(col("__c").cast("decimal(38,0)") *
          col("__c").cast("decimal(38,0)")).as("__sq"))
      .filter(col("__ni") >= 2L)
    locally {
      val maxN = per.agg(coalesce(max(col("__ni")), lit(0L))).head().getLong(0)
      require(maxN >= 2L, "krippendorffAlpha: no item has 2+ ratings")
      require(maxN <= 16L,
        s"krippendorffAlpha: $maxN raters on one item exceeds the lcm " +
          "guard (16) — widen deliberately for a larger panel")
      val lcmL = (2L to (maxN - 1L)).foldLeft(1L)((acc, k) =>
        acc / gcd(acc, k) * k)
      // S = Σ_i (L/(n_i−1))·(n_i² − Σ_k n_ik²): integer because
      // (n_i−1) divides L by construction
      val niD = col("__ni").cast("decimal(38,0)")
      val sRow = per.agg(
        count(lit(1)).as("n_items"),
        sum(col("__ni")).as("n_tot"),
        sum((lit(lcmL).cast("decimal(38,0)") /
            (niD - lit(1).cast("decimal(38,0)"))).cast("decimal(38,0)") *
          (niD * niD - col("__sq"))).as("S")).head()
      val (nItems, nTot) = (sRow.getLong(0), sRow.getLong(1))
      val s = BigDecimal(sRow.getDecimal(2))
      // pooled label marginals over the SAME pairable items
      val cRow = cells.join(per.select("__it"), Seq("__it"))
        .groupBy("__l").agg(sum(col("__c")).as("__ck"))
        .agg(count(lit(1)).as("V"),
          sum(col("__ck").cast("decimal(38,0)") *
            col("__ck").cast("decimal(38,0)")).as("sq")).head()
      val nLabels = cRow.getLong(0)
      val c = BigDecimal(nTot) * BigDecimal(nTot) - BigDecimal(cRow.getDecimal(1))
      val alpha6: Option[Double] =
        if (c == BigDecimal(0)) None
        else {
          val ratio = (s * BigDecimal(nTot - 1L)).toDouble /
            (BigDecimal(lcmL) * c).toDouble
          Some(BigDecimal(1.0 - ratio)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      import spark.implicits._
      Seq((nItems, nTot, nLabels, alpha6))
        .toDF("n_items", "n_ratings", "n_labels", "alpha6")
    }
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0L) a else gcd(b, a % b)

  /** Krippendorff's alpha with a METRIC distance over NUMERIC levels —
    * the graded-label completion of [[krippendorffAlpha]]: a 1-vs-2
    * disagreement on a 5-point quality scale is not the same miss as
    * 1-vs-5, and the nominal coefficient cannot see the difference.
    * `metric = "interval"` uses squared distance `(v−w)²`
    * (Krippendorff's interval metric); `metric = "linear"` uses
    * `|v−w|` — the ordinal reading for equally-spaced numeric levels.
    * (Krippendorff's own ordinal metric distances by cumulative
    * marginal RANKS; for the equally-spaced scales labeling pipelines
    * actually use, the linear metric is the standard substitute and
    * keeps every distance a plain expression both engines share.)
    * Labels must be NUMERIC — loud otherwise. When every distinct
    * pair of levels is at distance exactly 1 (e.g. levels {0,1}),
    * both metrics provably reduce to the nominal alpha.
    *
    * `α = 1 − D_o/D_e` computes WITHOUT any label-pair join:
    *  - interval: per item `Σ_{c<c'} n_c n_c'(v_c−v_c')²
    *    = n_i·Σn_cv² − (Σn_cv)²` — pure per-item moments; the
    *    expected term is the same identity over the pooled marginals
    *    (one aggregation row);
    *  - linear: per item `Σ_{c<c'} n_c n_c'(v_{c'}−v_c)
    *    = Σ_c n_c(v_c·cnt_below − sum_below)` off an item-partitioned
    *    prefix over the CELLS (≤ scale-size rows per item — bounded,
    *    unlike a window over raw ratings); the marginal term runs the
    *    same prefix fold over the collected level marginals (loud
    *    above 4096 distinct levels — a rating SCALE, not a
    *    measurement stream).
    * Term sums ride 12dp-exact decimals; the readout is one double
    * ratio `1 − (n_tot−1)·S_o/S_e` on the 6-decimal gate. All-equal
    * ratings: D_e = 0, alpha NULL (vacuous agreement). Items with one
    * rating are excluded, [[krippendorffAlpha]]'s rule.
    *
    * Output: one row — (`n_items`, `n_ratings`, `n_labels`, `metric`,
    * `alpha6`). */
  def krippendorffAlphaMetric(
      df: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      metric: String = "interval"): DataFrame = {
    require(metric == "interval" || metric == "linear",
      s"krippendorffAlphaMetric: metric '$metric' must be 'interval' " +
        "(squared distance) or 'linear' (absolute distance)")
    val dt = df.schema(labelCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"krippendorffAlphaMetric: label column '$labelCol' must be " +
        s"numeric for metric distances (got ${dt.simpleString}); use " +
        "krippendorffAlpha for nominal labels")
    Blocks.scoped { s =>
      krippendorffAlphaMetricFromCells(s.checkpoint(annotationCellsOf(
        df, itemCol, raterCol, labelCol, "krippendorffAlphaMetric")), metric)
    }
  }

  /** [[krippendorffAlphaMetric]]'s readout over accumulated
    * `(__it, __l, __c)` state — the FOURTH reader of the maintained
    * cell table (the labels must round-trip as numbers). */
  private[graft] def krippendorffAlphaMetricFromCells(
      cells: DataFrame, metric: String): DataFrame = {
    val spark = cells.sparkSession
    val Dec12 = "decimal(38,12)"
    def d12(c: Column) = round(c, 12).cast(Dec12)
    def dz = lit(0).cast(Dec12)
    val base = cells.select(col("__it"),
      col("__l").cast("double").as("__v"), col("__c"))
    val per0 = base.groupBy("__it").agg(sum(col("__c")).as("__ni"))
      .filter(col("__ni") >= 2L)
    val pairable = base.join(per0, Seq("__it"))
    val cd = col("__c").cast("double")
    val soDec: java.math.BigDecimal = metric match {
      case "interval" =>
        val per = pairable.groupBy("__it").agg(
          max(col("__ni")).as("__ni"),
          coalesce(sum(d12(cd * col("__v"))), dz).as("__sv"),
          coalesce(sum(d12(cd * col("__v") * col("__v"))), dz).as("__sv2"))
        per.agg(coalesce(sum(d12(
            (col("__ni").cast("double") * col("__sv2").cast("double")
              - col("__sv").cast("double") * col("__sv").cast("double"))
              / (col("__ni") - lit(1L)).cast("double"))), dz))
          .head().getDecimal(0)
      case _ =>
        val w = Window.partitionBy("__it").orderBy("__v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val below = pairable
          .withColumn("__cb", coalesce(sum(col("__c")).over(w), lit(0L)))
          .withColumn("__sb",
            coalesce(sum(d12(cd * col("__v"))).over(w), dz))
        val per = below.groupBy("__it").agg(
          max(col("__ni")).as("__ni"),
          coalesce(sum(d12(cd * (col("__v") * col("__cb").cast("double")
            - col("__sb").cast("double")))), dz).as("__t"))
        per.agg(coalesce(sum(d12(col("__t").cast("double")
            / (col("__ni") - lit(1L)).cast("double"))), dz))
          .head().getDecimal(0)
    }
    val tot = pairable.agg(
      count_distinct(col("__it")).as("n_items"),
      coalesce(sum(col("__c")), lit(0L)).as("n_tot"),
      count_distinct(col("__v")).as("n_labels"),
      coalesce(sum(d12(cd * col("__v"))), dz).as("snv"),
      coalesce(sum(d12(cd * col("__v") * col("__v"))), dz).as("snv2"))
      .head()
    val (nItems, nTot, nLabels) =
      (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    require(nItems > 0L,
      "krippendorffAlphaMetric: no item has 2+ ratings")
    val seD: Double = metric match {
      case "interval" =>
        nTot.toDouble * tot.getDecimal(4).doubleValue -
          tot.getDecimal(3).doubleValue * tot.getDecimal(3).doubleValue
      case _ =>
        val marg = pairable.groupBy("__v").agg(sum(col("__c")).as("__ck"))
          .orderBy("__v").collect()
        require(marg.length <= 4096,
          s"krippendorffAlphaMetric: ${marg.length} distinct levels " +
            "exceeds the rating-scale guard (4096) — a linear-metric " +
            "alpha over a measurement stream is not an agreement study")
        // Spark's round(double, 12) semantics: BigDecimal.valueOf
        def r12(x: Double): java.math.BigDecimal =
          java.math.BigDecimal.valueOf(x)
            .setScale(12, java.math.RoundingMode.HALF_UP)
        var cb = 0L
        var sb = java.math.BigDecimal.ZERO
        var se = java.math.BigDecimal.ZERO
        marg.foreach { r =>
          val (v, ck) = (r.getDouble(0), r.getLong(1))
          se = se.add(r12(ck.toDouble *
            (v * cb.toDouble - sb.doubleValue)))
          cb += ck
          sb = sb.add(r12(ck.toDouble * v))
        }
        se.doubleValue
    }
    val alpha6: Option[Double] =
      if (seD == 0.0) None
      else Some(BigDecimal(
          1.0 - (nTot - 1L).toDouble * soDec.doubleValue / seD)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    import spark.implicits._
    Seq((nItems, nTot, nLabels, metric, alpha6))
      .toDF("n_items", "n_ratings", "n_labels", "metric", "alpha6")
  }

  /** Majority-vote label consolidation — the consensus label per item
    * with a DETERMINISTIC tie rule (most votes, ties to the
    * lexicographically smallest label) and its support: the step that
    * turns a ratings table into a training-label table, with the
    * confidence column downstream filters threshold on ("keep items
    * where ≥ 2/3 of raters agreed").
    *
    * Scale shape: one map-side-combined count onto (item, label)
    * cells, then ONE per-item `min(struct(−votes, label))` aggregate —
    * the argmin rides an ordinary hash aggregation, no window over
    * items, no tie-breaking shuffle. Confidence is one division on
    * the 6-decimal gate. Output: one row per item —
    * (`itemCol`, `consensus_label`, `n_ratings`, `n_consensus`,
    * `confidence6`). */
  def consolidateLabels(
      df: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame =
    consolidateLabelsFromCells(
      annotationCellsOf(df, itemCol, raterCol, labelCol,
        "consolidateLabels"),
      itemCol)

  /** [[consolidateLabels]]' readout over accumulated
    * `(__it, __l, __c)` state — the THIRD reader of the one
    * maintained cell table (kappa, alpha, consensus): as annotations
    * land, the training-label table stays current without rescanning
    * a single rating. */
  private[graft] def consolidateLabelsFromCells(
      cells: DataFrame, itemCol: String): DataFrame =
    cells
      .groupBy("__it").agg(
        min(struct((-col("__c")).as("__neg"), col("__l"))).as("__w"),
        sum(col("__c")).as("n_ratings"))
      .select(col("__it").as(itemCol),
        col("__w.__l").as("consensus_label"),
        col("n_ratings"),
        (-col("__w.__neg")).as("n_consensus"),
        round((-col("__w.__neg")).cast("double") /
          col("n_ratings").cast("double"), 6).as("confidence6"))

  /** Per-annotator agreement report — each rater's rate of agreement
    * with the [[consolidateLabels]] consensus, with a Wilson interval
    * ([[Quality.passRateCIFromCounts]] — the honest small-n rate),
    * flagged when the interval's UPPER bound sits below `flagBelow`:
    * the rater is reliably out of line, not just unlucky on a small
    * assignment. A rater's own vote is counted (the consensus is the
    * reference, not a leave-one-out re-vote — documented bias toward
    * agreement, identical for every rater on a fixed panel).
    *
    * Scale shape: the consolidation aggregate, one item-keyed equi
    * join back to the assignments (AQE broadcasts the smaller side),
    * one rater-bounded aggregation, the map-only Wilson closed form.
    * Output: one row per rater — (`raterCol`, `n`, `n_pass`,
    * `rate6`, `lo6`, `hi6`, `flagged`), ordered by rater. */
  def annotatorReport(
      df: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      flagBelow: Double = 0.5, z: Double = 1.96): DataFrame = {
    require(flagBelow > 0.0 && flagBelow < 1.0,
      s"annotatorReport: flagBelow ($flagBelow) must be in (0, 1)")
    val r = ratings(df, itemCol, raterCol, labelCol, "annotatorReport")
    val consensus = consolidateLabels(df, itemCol, raterCol, labelCol)
      .select(col(itemCol).as("__it"),
        col("consensus_label").as("__cons"))
    val counts = r.join(consensus, Seq("__it"))
      .groupBy(col("__r").as(raterCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__l") === col("__cons"), 1L).otherwise(0L))
          .as("n_pass"))
    Quality.passRateCIFromCounts(counts, Seq(raterCol), z)
      .withColumn("flagged", col("hi6") < lit(flagBelow))
      .orderBy(raterCol)
  }
}
