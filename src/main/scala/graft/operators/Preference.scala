package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise-preference operators — the RLHF/eval side of model
  * comparison: a comparisons table (one row per judged pair: which of
  * two models/policies/prompts won) becomes a win matrix with honest
  * intervals, Bradley–Terry strength ratings (the preference-model
  * baseline behind reward-model and arena-style leaderboards), and an
  * intransitivity audit (majority cycles — the "A beats B beats C
  * beats A" pattern that says the single-axis rating is hiding a
  * real multi-dimensional trade-off). No reference counterpart —
  * statistics-pipeline extension.
  *
  * Input shape shared by every operator: one row per comparison with
  * a winner column and a loser column (ties excluded upstream — a tie
  * carries no pairwise evidence in the BT model). Rows where either
  * side is NULL are excluded; a row where winner equals loser fails
  * loudly (a self-comparison is a data bug, not a preference).
  */
object Preference {

  /** The shared guarded projection: (winner, loser) as strings, NULLs
    * dropped, self-comparisons loud. */
  private def comparisons(
      df: DataFrame, winnerCol: String, loserCol: String,
      op: String): DataFrame =
    df.select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull)
      .select(
        when(col("__w") =!= col("__l"), col("__w"))
          .otherwise(raise_error(concat(
            lit(s"$op: self-comparison for model "), col("__w"))))
          .as("__w"),
        col("__l"))

  /** Canonical pairwise win matrix — per unordered model pair
    * (`model_a` < `model_b` lexicographically): total comparisons,
    * wins on each side, and the Wilson interval on P(a beats b)
    * ([[Quality.passRateCIFromCounts]] — the honest rate at small
    * pair counts, which is exactly where new-model matchups live).
    *
    * Scale shape: ONE map-side-combined count onto canonical
    * (a, b, a_won) cells — pair-vocabulary-bounded, never the
    * comparison count — then the map-only Wilson closed form.
    * Output: (`model_a`, `model_b`, `n`, `n_pass` = a's wins,
    * `rate6`, `lo6`, `hi6`), ordered by pair. */
  def pairwiseWinMatrix(
      df: DataFrame, winnerCol: String, loserCol: String,
      z: Double = 1.96): DataFrame = {
    val c = comparisons(df, winnerCol, loserCol, "pairwiseWinMatrix")
      .select(least(col("__w"), col("__l")).as("model_a"),
        greatest(col("__w"), col("__l")).as("model_b"),
        (col("__w") < col("__l")).as("__aWon"))
    val counts = c.groupBy("model_a", "model_b")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__aWon"), 1L).otherwise(0L)).as("n_pass"))
    Quality.passRateCIFromCounts(counts, Seq("model_a", "model_b"), z)
      .orderBy("model_a", "model_b")
  }

  /** Bradley–Terry strength ratings via the MM algorithm (Hunter
    * 2004) — the maximum-likelihood `p_i` under
    * `P(i beats j) = p_i/(p_i + p_j)`, the model behind reward-model
    * preference fitting and arena leaderboards. DETERMINISTIC by
    * construction: a fixed iteration count over the model-bounded
    * win matrix, iteration order fixed (models ascending by name),
    * no randomness — rerun bit-identical, and an independent engine
    * replaying the same IEEE operations in the same order reproduces
    * the doubles exactly (pinned by the oracle). Iterates
    * UNNORMALIZED (the MM update is homogeneous of degree 1, so
    * skipping per-iteration normalization provably changes only the
    * overall scale) and normalizes ONCE at readout to Σp = 1.
    *
    * Requires every model to have at least one win AND one loss: a
    * zero-win model's MLE is 0 and a zero-loss model's diverges —
    * both fail loudly (drop the undefeated/winless model or gather
    * more comparisons; the likelihood has no finite maximizer until
    * the comparison graph is strongly connected).
    *
    * Scale shape: comparisons collapse in ONE map-side-combined pass
    * onto ordered-pair win counts — bounded by the model-vocabulary
    * square, never the comparison count — behind TWO count-first
    * guards: `maxPairs` (default 2²¹) bounds the directed pair rows
    * actually collected (the true driver cost — a dense tournament
    * fills k(k−1) cells), and `maxModels` (default 4096) bounds the
    * k² working matrix the MM loop allocates. The MM
    * loop is driver arithmetic on that bounded matrix, exactly the
    * [[Linkage.estimateFsParams]] discipline. Output: one row per
    * model — (`model`, `n_wins`, `n_comparisons`, `rating6`, `rnk`),
    * rank by (rating6 desc, model) so a sub-gate margin cannot
    * reorder engines. */
  def bradleyTerry(
      df: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 25, maxModels: Int = 4096,
      maxPairs: Long = 2097152L): DataFrame = {
    Blocks.scoped { s =>
      bradleyTerryFromCounts(
        s.checkpoint(winCountsOf(df, winnerCol, loserCol, "bradleyTerry")),
        iters, maxModels, maxPairs)
    }
  }

  /** One shard's directed win-count state — `(__w, __l, __c)`, the
    * SUM-foldable sufficient statistics of the whole preference
    * family (the BT likelihood depends on the comparisons only
    * through these counts). Self-comparisons fail loudly within the
    * shard. */
  private[graft] def winCountsOf(
      df: DataFrame, winnerCol: String, loserCol: String,
      op: String): DataFrame =
    comparisons(df, winnerCol, loserCol, op)
      .groupBy(col("__w"), col("__l")).agg(count(lit(1)).as("__c"))

  /** The win-count fold: union + one pair-bounded re-aggregation;
    * counts merge by SUM, so the batch, incremental, and streaming
    * leaderboards are formulations of one ground truth. */
  private[graft] def foldWinCounts(
      base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("__w", "__l")
      .agg(sum(col("__c")).as("__c"))

  /** A [[FoldMonitor]] over the comparison feed's directed win-count
    * state, read out by `readout`. */
  private def winMonitor(name: String, winnerCol: String, loserCol: String)(
      readout: DataFrame => DataFrame): FoldMonitor =
    FoldMonitor(name, _.select(winnerCol, loserCol),
      winCountsOf(_, winnerCol, loserCol, name), foldWinCounts, readout)

  /** [[pairwiseWinMatrix]] as a monitor: the live head-to-head table
    * with Wilson intervals. */
  def winMatrixMonitor(
      winnerCol: String, loserCol: String, z: Double = 1.96): FoldMonitor =
    winMonitor("winMatrixMonitor", winnerCol, loserCol)(
      pairwiseWinMatrixFromCounts(_, z))

  /** [[bradleyTerry]] as a monitor: the live arena leaderboard. */
  def leaderboardMonitor(
      winnerCol: String, loserCol: String, iters: Int = 25): FoldMonitor =
    winMonitor("leaderboardMonitor", winnerCol, loserCol)(state =>
      bradleyTerryFromCounts(Blocks.checkpoint(state), iters))

  /** [[pairwiseWinMatrix]]'s readout over accumulated `(__w, __l,
    * __c)` state — the SECOND reader of the maintained win counts
    * (after the BT leaderboard): per canonical pair, `n` and a's wins
    * are SUMs over the directed counts, so the folded matrix is
    * integer-identical to the batch one and the Wilson arithmetic is
    * [[Quality.passRateCIFromCounts]] verbatim. */
  private[graft] def pairwiseWinMatrixFromCounts(
      c: DataFrame, z: Double = 1.96): DataFrame = {
    val counts = c.select(
        least(col("__w"), col("__l")).as("model_a"),
        greatest(col("__w"), col("__l")).as("model_b"),
        col("__c"),
        when(col("__w") < col("__l"), col("__c")).otherwise(0L).as("__aw"))
      .groupBy("model_a", "model_b")
      .agg(sum(col("__c")).as("n"), sum(col("__aw")).as("n_pass"))
    Quality.passRateCIFromCounts(counts, Seq("model_a", "model_b"), z)
      .orderBy("model_a", "model_b")
  }

  /** [[bradleyTerry]]'s MM readout over accumulated `(__w, __l, __c)`
    * state — shared verbatim by the batch operator, the incremental
    * fold, and the streaming monitor. */
  private[graft] def bradleyTerryFromCounts(
      c: DataFrame, iters: Int = 25, maxModels: Int = 4096,
      maxPairs: Long = 2097152L): DataFrame = {
    require(iters >= 1 && iters <= 10000,
      s"bradleyTerry: iters ($iters) must be in [1, 10000]")
    val spark = c.sparkSession
    locally {
      // the DRIVER bound is the directed-pair cardinality — the rows
      // about to be collected (already aggregated, so counting them
      // is cheap); k <= maxModels alone would admit a dense 4096-model
      // tournament's ~16.7M pair rows onto the driver
      val nPairs = c.count()
      require(nPairs <= maxPairs,
        s"bradleyTerry: $nPairs directed win-count pairs exceeds " +
          s"maxPairs ($maxPairs) — the collected pair table must stay " +
          "driver-bounded; raise the guard deliberately or shard the " +
          "tournament")
      val k = c.select(explode(array(col("__w"), col("__l"))).as("m"))
        .distinct().count()
      require(k >= 2L, s"bradleyTerry: $k model(s) — need at least 2")
      require(k <= maxModels,
        s"bradleyTerry: $k models exceeds maxModels ($maxModels) — " +
          "the k×k win matrix must stay driver-bounded; raise the " +
          "guard deliberately or shard the tournament")
      val rows = c.collect()
      val models = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
        .distinct.sorted
      val idx = models.zipWithIndex.toMap
      val kk = models.length
      val wins = Array.fill(kk)(0L)
      val wMat = Array.fill(kk, kk)(0L) // wMat(i)(j) = i's wins over j
      rows.foreach { r =>
        val (i, j, w) = (idx(r.getString(0)), idx(r.getString(1)), r.getLong(2))
        wins(i) += w
        wMat(i)(j) += w
      }
      models.indices.foreach { i =>
        require(wins(i) > 0L,
          s"bradleyTerry: model '${models(i)}' never wins — its MLE " +
            "rating is 0 (drop it or gather more comparisons)")
        require(wMat.indices.exists(j => wMat(j)(i) > 0L),
          s"bradleyTerry: model '${models(i)}' never loses — its MLE " +
            "rating diverges (drop it or gather more comparisons)")
      }
      // n_ij = comparisons between i and j, either direction
      val nMat = Array.tabulate(kk, kk)((i, j) => wMat(i)(j) + wMat(j)(i))
      // MM iterations, j ascending inside i ascending — the oracle
      // replays this exact IEEE operation order
      var p = Array.fill(kk)(1.0 / kk)
      var it = 0
      while (it < iters) {
        val next = new Array[Double](kk)
        var i = 0
        while (i < kk) {
          var denom = 0.0
          var j = 0
          while (j < kk) {
            if (j != i && nMat(i)(j) > 0L)
              denom += nMat(i)(j).toDouble / (p(i) + p(j))
            j += 1
          }
          next(i) = wins(i).toDouble / denom
          i += 1
        }
        p = next
        it += 1
      }
      val total = p.foldLeft(0.0)(_ + _)
      val out = models.indices.map { i =>
        val rating = p(i) / total
        (models(i), wins(i), nMat(i).sum,
          BigDecimal(rating)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      // rank on the ROUNDED rating (ties broken by model name) so a
      // sub-gate margin cannot reorder engines; the models already
      // live on the driver, so the rank is plain driver arithmetic —
      // no window in the plan at all
      val ranked = out.sortBy(r => (-r._4, r._1)).zipWithIndex
        .map { case ((m, w, nc, r6), i) => (m, w, nc, r6, i + 1) }
      import spark.implicits._
      ranked.toDF("model", "n_wins", "n_comparisons", "rating6", "rnk")
        .orderBy("rnk")
    }
  }

  /** Majority-tournament intransitivity audit — build the directed
    * majority graph (edge a→b when a beats b in MORE than half their
    * comparisons; exact ties contribute no edge) and count 3-cycles:
    * triples where a→b→c→a. A transitive preference structure has
    * zero; every cycle is a triple of models a single scalar rating
    * CANNOT order — the audit that says whether a leaderboard is an
    * honest summary or an average over contradictions.
    *
    * Scale shape: the win matrix collapses to the pair-bounded edge
    * set in one pass; cycle closure is two equi joins over that edge
    * set (model-vocabulary-bounded, never the comparison count) with
    * the rotation canonicalized (`a` = the triple's smallest model)
    * so each cycle counts exactly once. Output: one row —
    * (`n_models`, `n_pairs`, `n_edges`, `n_tied_pairs`,
    * `n_closed_triples`, `n_cycles`, `cycle_rate6` = cycles over
    * closed triples, NULL when no triple closes). */
  def intransitivityAudit(
      df: DataFrame, winnerCol: String, loserCol: String): DataFrame = {
    val spark = df.sparkSession
    Blocks.scoped { s =>
      val c = s.checkpoint(comparisons(df, winnerCol, loserCol, "intransitivityAudit")
        .select(least(col("__w"), col("__l")).as("a"),
          greatest(col("__w"), col("__l")).as("b"),
          when(col("__w") < col("__l"), 1L).otherwise(0L).as("aw"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n"), sum(col("aw")).as("wa")))
      val nModels = c.select(explode(array(col("a"), col("b"))).as("m"))
        .distinct().count()
      val pairRow = c.agg(count(lit(1)).as("np"),
        sum(when(col("wa") * 2L === col("n"), 1L).otherwise(0L))
          .as("ties")).head()
      val (nPairs, nTies) = (pairRow.getLong(0), pairRow.getLong(1))
      // directed majority edges (tied pairs contribute none)
      val e = s.checkpoint(c.filter(col("wa") * 2L =!= col("n"))
        .select(
          when(col("wa") * 2L > col("n"), col("a")).otherwise(col("b"))
            .as("src"),
          when(col("wa") * 2L > col("n"), col("b")).otherwise(col("a"))
            .as("dst")))
      val nEdges = e.count()
      // closed triples: all three edges exist in SOME direction;
      // canonical rotation: x is the smallest model of the triple
      val und = e.select(col("src").as("x"), col("dst").as("y"))
        .unionByName(e.select(col("dst").as("x"), col("src").as("y")))
      val closed = und.as("e1")
        .join(und.as("e2"), col("e1.y") === col("e2.x"))
        .join(und.as("e3"),
          col("e2.y") === col("e3.x") && col("e3.y") === col("e1.x"))
        // canonical labeling x < y < z counts each triangle once
        // (und holds both directions, so every triangle appears
        // under every vertex ordering)
        .filter(col("e1.x") < col("e1.y") && col("e1.y") < col("e2.y"))
        .select(col("e1.x").as("m1"), col("e1.y").as("m2"),
          col("e2.y").as("m3"))
      val nClosed = closed.count()
      val cyc = e.as("e1")
        .join(e.as("e2"), col("e1.dst") === col("e2.src"))
        .join(e.as("e3"),
          col("e2.dst") === col("e3.src") &&
            col("e3.dst") === col("e1.src"))
        .filter(col("e1.src") < col("e1.dst") &&
          col("e1.src") < col("e2.dst"))
      val nCycles = cyc.count()
      val rate6: Option[Double] =
        if (nClosed == 0L) None
        else Some(BigDecimal(nCycles.toDouble / nClosed.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      import spark.implicits._
      Seq((nModels, nPairs, nEdges, nTies, nClosed, nCycles, rate6))
        .toDF("n_models", "n_pairs", "n_edges", "n_tied_pairs",
          "n_closed_triples", "n_cycles", "cycle_rate6")
    }
  }
}
