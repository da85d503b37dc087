package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative numeric graph kernels over edge lists — the authority/
  * importance side of graph analysis, complementing [[Components]]'
  * connectivity side. Same execution discipline: per-iteration frames
  * are locally checkpointed so iteration k+1 never re-executes the
  * upstream pipeline, and superseded checkpoints are released as the
  * loop advances.
  */
object Graph {

  /** Fixed-iteration PageRank over an edge list:
    * `r_{k+1}(v) = (1-damping)/N + damping * Σ_{u→v} r_k(u)/outdeg(u)`,
    * starting uniform at 1/N. Fixed iterations (not a convergence
    * test) keep the result a pure function of the inputs —
    * reproducible run-to-run and oracle-checkable.
    *
    * Node-set contract: ranks are defined over the DISTINCT SOURCES of
    * `edges`, so every ranked node has out-degree ≥ 1 and no mass is
    * lost to dangling nodes. Feed a SYMMETRIZED edge list (both
    * directions of each undirected pair — the near-dup-graph case, the
    * authority weighting of dedup clusters) and the contract holds by
    * construction; a directed graph with sinks needs dangling-mass
    * redistribution this variant deliberately omits.
    *
    * Scale shape: out-degrees ride the edge list through ONE
    * checkpointed (src, dst, outdeg) frame built up front; each
    * iteration is then one hash join (edges × ranks on src) and one
    * map-side-combined sum on dst — shuffle bounded by edges then
    * nodes, per iteration, like [[Components]]. The node count is the
    * single driver scalar. The returned frame reads its own
    * checkpoint: pass it to [[Blocks.release]] (or `consuming`) once
    * fully consumed. */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      damping: Double = 0.85): DataFrame = Blocks.scoped { s =>
    require(iterations >= 1, s"iterations ($iterations) must be >= 1")
    require(damping > 0 && damping < 1, s"damping ($damping) must be in (0, 1)")
    // Checkpoint the RAW edges first: deg and the degree-carrying join
    // below each embed the edge plan again, so without this the
    // upstream pipeline (q96: the full MinHash pair verify) would
    // execute once per plan occurrence in the ew job instead of once
    // total.
    val e = s.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).cast("double").as("od"))
    // Edges carry the out-degree from here on: one join now instead of
    // one per iteration. Checkpointed — every iteration reads these
    // blocks.
    val ew = s.checkpoint(e.join(deg, "src"))
    s.release(e)
    val n = ew.select(col("src")).distinct().count().toDouble
    require(n > 0, "pageRank needs at least one edge")
    val teleport = (1.0 - damping) / n
    var ranks = s.checkpoint(ew.select(col("src").as("v")).distinct()
      .withColumn("r", lit(1.0 / n)))
    var i = 0
    while (i < iterations) {
      val stepped = s.checkpoint(ew.join(ranks, col("src") === col("v"))
        .groupBy(col("dst").as("dest"))
        .agg((lit(teleport) + lit(damping) * sum(col("r") / col("od"))).as("r2"))
        .select(col("dest").as("v"), col("r2").as("r")))
      s.release(ranks)
      ranks = stepped
      i += 1
    }
    ranks
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge list — the cohesion metric completing the graph
    * family ([[Components]] connectivity, [[pageRank]] authority,
    * this density): a node's `n_tri` is how many of its neighbor
    * pairs are themselves connected, `cc = 2·n_tri / (deg·(deg−1))`.
    *
    * Input edges may be directed/duplicated/self-looped; they are
    * canonicalized to distinct undirected `(min, max)` pairs first.
    *
    * Scale shape — DEGREE-ORDERED ORIENTATION, the standard
    * distributed-triangle discipline: each canonical edge is oriented
    * from its lower-(degree, id) endpoint to the higher, and wedges
    * are generated ONLY at each edge's low-rank end. The wedge count
    * is Σ_u outdeg⁺(u)², which orientation bounds by O(|E|·arboricity)
    * instead of the Σ deg(hub)² a naive id-ordered self-join pays —
    * a celebrity node with 10⁶ neighbors contributes ZERO wedges from
    * its own adjacency because every incident edge points INTO it.
    * Everything is hash joins (degree attach, wedge self-join on the
    * pivot, one (w1, w2) edge-confirm probe); no cartesian anywhere,
    * and AQE broadcasts the degree table when the node set is small.
    *
    * Output: `(node, degree, n_tri, cc)` — one row per node with
    * degree ≥ 1, zero-filled `n_tri`, `cc` = 0.0 for degree-1 nodes.
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    // Attach both endpoint degrees (unhinted: AQE broadcasts small
    // node sets), then orient low-rank -> high-rank. Canonical a < b,
    // so rank(a) < rank(b) exactly when da <= db.
    val ed = e
      .join(deg.select(col("v").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("degree").as("db")), "b")
    // NOT checkpointed: the oriented list is consumed three times, but
    // all three consumers live in ONE action, where Spark's shuffle-file
    // reuse services the repeated subtrees at block-read cost already —
    // an eager localCheckpoint here was measured 2.2-3.2x SLOWER at both
    // 8 and 32 cores (r19 driver: 2.52s -> 7.98s @32c) because it adds a
    // full materialization job plus block-manager churn for subtrees the
    // exchange reuse made nearly free.
    val oriented = ed.select(
      when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
      when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("w"),
      when(col("da") <= col("db"), col("db")).otherwise(col("da")).as("dw"))
    // Wedges at the pivot's low-rank end, ordered so each candidate
    // pair (w1, w2) has rank(w1) < rank(w2) — exactly the orientation
    // the confirming edge carries, so one equi-probe closes it.
    val o1 = oriented.select(col("u"), col("w").as("w1"), col("dw").as("d1"))
    val o2 = oriented.select(col("u"), col("w").as("w2"), col("dw").as("d2"))
    val wedges = o1.join(o2, "u")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("w1") < col("w2")))
    val tri = wedges.join(
        oriented.select(col("u").as("w1"), col("w").as("w2")),
        Seq("w1", "w2"))
      .select(col("u"), col("w1"), col("w2"))
    val perNode = tri.select(col("u").as("node"))
      .unionAll(tri.select(col("w1").as("node")))
      .unionAll(tri.select(col("w2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, col("v") === col("node"), "left")
      .select(col("v").as("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1.0))))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** k-core decomposition (fixed k): iteratively peel every node whose
    * degree among SURVIVING nodes is below `k` until none remains —
    * the standard dense-subgraph extractor (the k-core is the unique
    * maximal subgraph of minimum degree ≥ k). On a near-dup graph it
    * separates structurally-entangled duplicate families (mutually
    * similar triples and larger — candidates for whole-group removal)
    * from incidental pairwise matches, which triangle counts see only
    * locally; on a citation/link graph it is the classic influence
    * core.
    *
    * Peeling is confluent — the removal ORDER cannot change the final
    * core (removing a <k node never raises another node's degree) —
    * so the per-round batch peel here, a recursive SQL replay, and a
    * sequential textbook peel all land on the identical node set:
    * that invariance is what makes the operator oracle-checkable.
    *
    * Scale shape: each round is one map-side-combined degree count +
    * one semi-join of edges against surviving nodes, checkpointed so
    * round r+1 reads round r's blocks instead of replaying the
    * pipeline (the [[pageRank]]/[[Components]] discipline; superseded
    * checkpoints released as the loop advances). Rounds are bounded by
    * `maxRounds` with a LOUD failure — a pathological path graph peels
    * O(diameter) rounds, and silently returning a half-peeled "core"
    * would be a wrong answer, not a slow one.
    *
    * Input edges may be directed/duplicated/self-looped (canonicalized
    * like [[triangleCounts]]). Output: `(node, core_degree)` — the
    * surviving nodes with their degree INSIDE the core; empty when no
    * k-core exists. The frame reads its own checkpoint: release via
    * [[Blocks.release]] once consumed. */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 64): DataFrame = Blocks.scoped { s =>
    require(k >= 1, s"k ($k) must be >= 1")
    require(maxRounds >= 1, s"maxRounds ($maxRounds) must be >= 1")
    var e = s.checkpoint(edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var round = 0
    var done = false
    while (!done) {
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("__d"))
      val dead = s.checkpoint(deg.filter(col("__d") < k).select("v"))
      if (dead.isEmpty) done = true
      else {
        round += 1
        require(round <= maxRounds,
          s"kCore did not converge in $maxRounds rounds (k=$k) — raise " +
            "maxRounds; a long peel chain means O(diameter) rounds")
        val next = s.checkpoint(e
          .join(dead.select(col("v").as("a")), Seq("a"), "left_anti")
          .join(dead.select(col("v").as("b")), Seq("b"), "left_anti")
          .select("a", "b"))
        s.release(e)
        e = next
      }
      s.release(dead)
    }
    s.checkpoint(e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_degree")))
  }
}
