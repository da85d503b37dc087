package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns near-duplicate PAIR detection ([[Dedup.minHashNearDupPairs]],
  * [[Dedup.simHashNearDupPairsW]], [[Similarity.lshCosineNearDupPairs]])
  * into duplicate GROUPS, so a dedup pipeline can keep exactly one
  * survivor per group (`groupBy(comp).agg(min(id))`).
  *
  * Algorithm: iterative min-label propagation, DataFrame-native — each
  * node's label becomes the minimum of its own and its neighbors'
  * labels until a fixpoint. One hash join + one map-side-combined
  * aggregation per iteration; converges in at most the graph diameter
  * iterations (near-dup clusters are near-cliques, so typically 1-3).
  * For graphs with long chains at extreme scale, the alternating
  * star-contraction formulation (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14) converges in O(log^2 n) rounds —
  * the same per-round join shape, so it drops in here if diameter ever
  * becomes the bottleneck.
  *
  * Iterative-lineage discipline: the symmetrized edge frame is
  * `localCheckpoint`ed ONCE up front, and each iteration
  * `localCheckpoint`s the new label frame (eagerly). The edge
  * checkpoint matters most: exchange reuse never crosses separate
  * actions, so without it every iteration's `sym.join(labels)` would
  * re-execute the caller's entire upstream pipeline — for a dedup flow
  * that is the full MinHash-LSH pair detection, multiplied by the
  * iteration count. The pair graph is sparse and bounded (near-dup
  * pairs, not the corpus), which is exactly the frame a checkpoint is
  * for. The label checkpoint truncates the per-iteration plan —
  * without it the lineage doubles per iteration and the job dies in
  * the optimizer long before it dies in execution — and makes the
  * convergence check (a scan of the already-materialized frame) cost
  * no recompute.
  */
object Components {

  /** Read a one-long observed metric off a frame that was just
    * eagerly `localCheckpoint`ed: the checkpoint materialization runs
    * the plan's `CollectMetrics` node, so the metric arrives with the
    * checkpoint and the fixpoint test costs ZERO extra jobs (verified:
    * the Observation future is completed synchronously by the
    * checkpoint action). `fallback` recomputes the same value with a
    * scan of the checkpointed blocks — correctness-identical, only
    * paid if the metrics delivery ever fails to land in time. */
  private def observedLong(
      obs: org.apache.spark.sql.Observation, fallback: => Long): Long =
    Observed.row(obs) {
      org.apache.spark.sql.Row(fallback)
    }.getLong(0)

  /** (node, comp) for every node appearing in `edges`, where `comp` is
    * the minimum node id reachable from the node. Deterministic.
    * Fails loudly if `maxIters` is hit before the fixpoint (raise
    * `maxIters` for graphs with diameter > 25 — or switch to star
    * contraction; silent partial clustering would merge/split dedup
    * groups unpredictably). Superseded label generations are released
    * as the iteration advances. */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 25): DataFrame = {
    require(maxIters > 0)
    Blocks.scoped { s =>
      val sym = s.checkpoint(
        edges.select(col(srcCol).as("node"), col(dstCol).as("nb"))
          .unionByName(edges.select(col(dstCol).as("node"), col(srcCol).as("nb")))
          .distinct()) // materialize edges ONCE; iterations read blocks
      // Generation 0 is NOT checkpointed: it is a one-shuffle distinct
      // over the sym BLOCKS, both of iteration 1's reads of it live in
      // the same action (the joined checkpoint), and exchange reuse
      // services the repeated subtree there — an eager materialization
      // job per CC call bought nothing (the q120 lesson applied here).
      var checkpoint: DataFrame = null
      var labels = sym.select("node").distinct()
        .withColumn("comp", col("node"))
      var it = 0
      var converged = false
      while (!converged && it < maxIters) {
        val nbMin = sym
          .join(labels.select(col("node").as("nb"), col("comp").as("nb_comp")), "nb")
          .groupBy("node").agg(min("nb_comp").as("nb_min"))
        // The changed-label count rides the checkpoint job as an
        // observed metric, so the fixpoint test is free — previously a
        // separate per-iteration pass over the labels (at corpus scale,
        // one full label scan per iteration saved).
        val obs = org.apache.spark.sql.Observation()
        val joined = s.checkpoint(labels
          .join(nbMin, Seq("node"), "left")
          .select(col("node"), col("comp").as("__old"),
            least(col("comp"), coalesce(col("nb_min"), col("comp"))).as("comp"))
          .observe(obs,
            count(when(col("comp") < col("__old"), lit(1))).as("__changed")))
        converged = observedLong(obs,
          joined.filter(col("comp") < col("__old")).count()) == 0L
        if (checkpoint != null) s.release(checkpoint)
        checkpoint = joined
        labels = joined.select("node", "comp") // reads the checkpoint, plan stays 1-node
        it += 1
      }
      require(converged,
        s"connectedComponents did not converge within $maxIters iterations " +
          "(graph diameter exceeds the bound); raise maxIters")
      labels
    }
  }

  /** Loan-pattern [[connectedComponents]] for pipelines that consume
    * the labels IMMEDIATELY (aggregate them, join-and-write, collect):
    * hands the label frame to `use`, then deterministically releases
    * the final label checkpoint's blocks — the one block set the plain
    * method must leave alive (the returned plan reads it) and which
    * otherwise survives until some later driver GC. In a long-lived
    * session running many dedup flows, that residue compounds; this
    * variant makes label-block lifetime exactly the `use` scope.
    *
    * Contract (same as [[Blocks.consuming]]): `use` must execute its
    * actions before returning — a lazy frame still reading the labels
    * cannot be recomputed after release. */
  def withConnectedComponents[T](
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 25)(use: DataFrame => T): T =
    Blocks.consuming(connectedComponents(edges, srcCol, dstCol, maxIters))(use)

  /** INCREMENTAL connected components — fold a batch of NEW edges into
    * an existing min-id labeling without rescanning the historical
    * edge set (the [[Dedup.incrementalExactDedup]] / q109 ledger
    * discipline applied to graph state): contracting each existing
    * component to its representative (= its min-id label) preserves
    * connectivity, so the only graph that needs iterating is the
    * CONTRACTED one — new-edge endpoints mapped through the label
    * table (unknown nodes represent themselves), self-loops dropped —
    * which is bounded by the BATCH size, never the accumulated graph.
    * Because every representative is the min id of its class, the min
    * label of a merged set of representatives is the global min id of
    * the merged component — the incremental labels provably equal a
    * full recompute's (q194 holds this to q46's verbatim oracle; the
    * merge==recompute spec covers component-merging, chain-extending,
    * new-component, and no-op batches).
    *
    * `prevLabels` must be a valid min-id labeling ((node, comp), comp
    * = min member id — [[connectedComponents]]' output contract). The
    * cheap half of that contract (comp <= node) is audited loudly
    * inside the remap scan the fold pays anyway; a labeling that
    * violates the deeper half (same component, different labels) is
    * corrupted state no local check can see — regenerate it.
    *
    * Scale shape: two hash joins map endpoints to representatives
    * (label table keyed by node — prunable, broadcast when the batch
    * side is small), the iterative CC runs on the batch-bounded
    * contracted graph, and ONE label-table join remaps merged
    * components. Output: (node, comp) for every previously labeled
    * node plus every new-edge endpoint. */
  def incrementalComponents(
      prevLabels: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 25): DataFrame = {
    val labels = prevLabels.select(col("node"), col("comp"))
      // contract audit folded into the scan the remap pays anyway
      .filter(when(col("comp") > col("node"), raise_error(concat(
          lit("incrementalComponents: prevLabels is not a min-id "),
          lit("labeling: node "), col("node").cast("string"),
          lit(" carries comp "), col("comp").cast("string"))))
        .otherwise(lit(true)))
    val e = newEdges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
    val mapped = e
      .join(labels.select(col("node").as("__s"), col("comp").as("__ra")),
        Seq("__s"), "left")
      .join(labels.select(col("node").as("__d"), col("comp").as("__rb")),
        Seq("__d"), "left")
      .select(coalesce(col("__ra"), col("__s")).as("ra"),
        coalesce(col("__rb"), col("__d")).as("rb"))
    // merges among representatives: batch-bounded CC (an empty
    // contracted graph — no cross-component edges — is fine)
    val merged = connectedComponents(
      mapped.filter(col("ra") =!= col("rb")), "ra", "rb", maxIters)
    val updatedOld = labels
      .join(merged.select(col("node").as("comp"), col("comp").as("__nc")),
        Seq("comp"), "left")
      .select(col("node"), coalesce(col("__nc"), col("comp")).as("comp"))
    val newNodes = e.select(col("__s").as("node"))
      .unionByName(e.select(col("__d").as("node")))
      .distinct()
      .join(labels.select("node"), Seq("node"), "left_anti")
    val updatedNew = newNodes
      .join(merged.select(col("node"), col("comp").as("__nc")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__nc"), col("node")).as("comp"))
    updatedOld.unionByName(updatedNew)
  }

  /** Alternating star-contraction connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14, the
    * alternating algorithm): the drop-in for graphs whose DIAMETER, not
    * size, breaks [[connectedComponents]] — min-label propagation needs
    * ~diameter rounds, star contraction O(log^2 n) regardless of shape
    * (a 10^6-hop chain converges in tens of rounds, not 10^6).
    *
    * Per round, two halving steps over the edge set:
    *   - large-star: for each node u, point every LARGER neighbor at
    *     the minimum of u's closed neighborhood;
    *   - small-star: orient edges larger->smaller, then contract each
    *     node's smaller neighbors (and the node itself) onto their
    *     minimum.
    * Both steps are one map-side-combined min aggregation plus one equi
    * join back — neighbor lists are never collected, so a high-degree
    * hub costs a skewed-but-splittable join (AQE handles it), never a
    * single-task array build. The fixpoint is a forest of stars whose
    * centers are the component minima.
    *
    * Same contract and output schema as [[connectedComponents]]:
    * (node, comp = min reachable node id) for every node appearing in
    * `edges`, deterministic, loud on non-convergence. Each round's edge
    * frame is localCheckpoint'ed (sparse — at most one out-edge per
    * node after the first small-star), keeping lineage flat and the
    * upstream pair pipeline executed exactly once; superseded rounds
    * are released as contraction advances. */
  def connectedComponentsStar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 50): DataFrame = {
    require(maxRounds > 0)
    Blocks.scoped { s =>
      val nodes = s.checkpoint(edges.select(col(srcCol).as("node"))
        .unionByName(edges.select(col(dstCol).as("node")))
        .distinct())
      // Orient larger -> smaller; self-loops carry no connectivity (their
      // nodes still get labeled via `nodes`).
      var cur = s.checkpoint(edges
        .select(greatest(col(srcCol), col(dstCol)).as("u"),
          least(col(srcCol), col(dstCol)).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      // edge-set cardinality carried across rounds as a PLAIN count of
      // the just-checkpointed blocks (a local block scan, one tiny
      // job). The r19 observe fuse here — riding the count on the
      // checkpoint job as a CollectMetrics metric — was measured SLOWER
      // at both 8 and 32 cores (driver: q63 +20%); the block scan it
      // saved is cheaper than the metrics plumbing it added.
      var curCount = cur.count()
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        // large-star over the symmetrized edges:
        // emit (v, min(N(u) ∪ {u})) for every neighbor v > u
        val sym = cur.unionByName(cur.select(col("v").as("u"), col("u").as("v")))
        val lsMin = sym.groupBy("u").agg(min("v").as("mn"))
        val ls = sym.join(lsMin, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
          .distinct()
        // small-star on the larger->smaller orientation:
        // emit (x, min(N(u))) for every x in N(u) ∪ {u}
        val ssMin = ls.groupBy("u").agg(min("v").as("m"))
        val next = s.checkpoint(ls.join(ssMin, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(ssMin.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct())
        // Equal counts + empty anti join ⟺ set equality here, because
        // both edge frames are `.distinct()` by construction (`except`
        // would redundantly re-distinct both sides per round). Counts
        // are plain block scans (see the r19-observe note above); the
        // anti join runs only on rounds whose counts already agree,
        // i.e. normally just the final one.
        val nextCount = next.count()
        converged = nextCount == curCount &&
          next.join(cur, Seq("u", "v"), "left_anti").isEmpty
        s.release(cur)
        cur = next
        curCount = nextCount
        round += 1
      }
      require(converged,
        s"connectedComponentsStar did not converge within $maxRounds rounds; " +
          "raise maxRounds")
      nodes
        .join(cur.select(col("u").as("node"), col("v").as("comp")), Seq("node"), "left")
        .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
    }
  }
}
