package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.functions.ArrayFunctions

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a sign-LSH
  * (random-hyperplane) bucketed variant as the scale path. LLM-pipeline
  * extension; no reference counterpart.
  */
object Similarity {

  /** Literal column for a query vector. */
  def vectorLit(v: Seq[Float]): Column = array(v.map(lit): _*)

  /** Per-key element-wise mean of embedding vectors — the pooling step
    * that turns chunk embeddings into a document embedding or a class
    * of vectors into its centroid (classification QA, cluster
    * summaries, prototype search). Output is LONG form — one row per
    * (key, dim) with the mean — because long form is what the next
    * aggregation or join wants, and it avoids a collect_list whose
    * per-key width is the full vector set.
    *
    * Scale shape: `posexplode` is map-only; the single shuffle is the
    * (key, dim) partial-sum aggregation — map-side combined, carrying
    * one (sum, count) pair per (key, dim) per task, bounded by
    * keys x dims regardless of corpus size (the same shape as IVF's
    * distributed centroid update, `Ivf.trainOnSample`). Sums
    * accumulate in double on purpose: the oracle-facing surface
    * rounds, and a billion-row sum's ulp wobble sits ~1e-13 relative —
    * far inside the rounding. */
  def meanPoolBy(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(keyCol, "dim")
      .agg(sum(col("__x").cast("double")).as("__s"), count(lit(1)).as("n_vecs"))
      .select(col(keyCol), col("dim"), col("n_vecs"),
        (col("__s") / col("n_vecs")).as("mean"))

  /** Embedding-space drift monitor: PSI between a reference and a
    * current corpus over each vector's cosine to the REFERENCE
    * centroid — the embedding analog of [[Profile.drift]]'s scalar
    * monitor. An embedding model swap, a crawl-source shift, or a
    * preprocessing regression moves the cosine-to-centroid
    * distribution long before anyone inspects vectors by hand; this
    * reduces "did the embedding space move" to the same
    * bucketed-PSI number the scalar monitors already alarm on.
    *
    * Determinism discipline: the centroid's per-dim means are rounded
    * to 6 decimals (the q71 mean-pool gate) and carried as float32
    * literals; each cosine is rounded to 4 decimals (the q17 cosine
    * gate) BEFORE bucketing, so a 1-ulp cross-engine wobble cannot
    * flip a bucket boundary. Bounds are the reference's own rounded
    * [min, max].
    *
    * Scale shape: ONE (dims-bounded) centroid aggregation collected to
    * the driver ([[meanPoolBy]]), map-only cosine scoring through the
    * native codegen expression, and [[Profile.drift]]'s bins-bounded
    * histogram pair. Nothing joins the corpora.
    *
    * Output: [[Profile.drift]]'s (bucket, n_ref, n_cur, psi). */
  def embeddingDrift(
      ref: DataFrame,
      cur: DataFrame,
      vecCol: String,
      bins: Int,
      eps: Double = 1e-6): DataFrame = {
    require(bins >= 1, s"bins ($bins) must be >= 1")
    val cRows = meanPoolBy(ref.select(lit(0L).as("__ck"), col(vecCol)),
        "__ck", vecCol)
      .select(col("dim"), round(col("mean"), 6).as("m")).collect()
    require(cRows.nonEmpty, "embeddingDrift: reference corpus is empty")
    val centroid = cRows.sortBy(_.getInt(0)).map(_.getDouble(1).toFloat).toSeq
    def cosTo(df: DataFrame) = df.select(
      round(graft.expressions.GraftFunctions.cosineF32(df, col(vecCol),
        vectorLit(centroid)), 4).as("__cos"))
    val refCos = cosTo(ref)
    val curCos = cosTo(cur)
    val Array(b) = refCos.agg(min(col("__cos")).as("lo"),
      max(col("__cos")).as("hi")).collect()
    Profile.drift(refCos, curCos, "__cos", bins,
      b.getDouble(0), b.getDouble(1), eps)
  }

  /** Exact top-k by cosine similarity against a single query vector.
    *
    * Scale shape: map-only scoring through the native [[graft.expressions.CosineSimF32]]
    * expression (one fused Janino-compiled loop per row — the
    * interpreted higher-order formulation allocates intermediate arrays
    * per row), then `orderBy(...).limit(k)` which Spark executes as
    * TakeOrderedAndProject — per-partition top-k heaps merged on the
    * driver, no full sort, no shuffle of the corpus. Ties broken by id
    * for determinism.
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame =
    df.select(col(idCol),
        GraftFunctions.cosineF32(df, col(vecCol), vectorLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Embedding-truncation retrieval eval (the Matryoshka/MRL adoption
    * question: how many trailing dimensions can an index drop before
    * retrieval degrades?): for a SAMPLED query set, exact cosine top-k
    * under each prefix-dimension budget is compared against the
    * full-dimension exact top-k, and recall@k is reported per budget —
    * the number that decides whether a 4x-smaller truncated index is
    * safe to ship. Ground truth and candidates both come from the
    * same exact scoring (no ANN in the loop), so the report isolates
    * the TRUNCATION effect alone.
    *
    * Determinism: cosines ride the fused [[graft.expressions
    * .GraftFunctions.cosineF32]] loop (double accumulation in index
    * order — engine-reproducible, the q201 discipline) over column
    * SLICES, ranking ties break by id, so both top-k sets and every
    * recall fraction are exact. Queries also in the corpus never match
    * themselves (id inequality on the pair).
    *
    * Scale shape: queries are LOUDLY bounded (`maxQueries`) and enter
    * the plan as LITERAL vectors (the IVF-centroid discipline — only
    * n_queries × dims floats reach the driver, and the scoring plan
    * has NO join node, nested-loop or otherwise); the corpus is
    * scanned ONCE with per-row work = n_queries × budgets fused
    * cosines (query literals pre-sliced at build time, norms inside
    * the same compiled loop — no interpreted HOF); per-(query,
    * budget) top-k rides the bounded-heap [[graft.functions
    * .Aggregators.topKPerGroup]] (map-side partial heaps, k rows per
    * group in the shuffle — never a corpus-wide sort). Output: one
    * row per budget — (`dims_budget`, `full_dims`, `n_queries`, `k`,
    * `n_hits`, `recall`), recall the single exact division
    * hits/(n_queries*k). */
  def embeddingTruncationReport(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      dimBudgets: Seq[Int],
      k: Int,
      maxQueries: Int = 1024): DataFrame = {
    require(dimBudgets.nonEmpty && dimBudgets.forall(_ >= 1),
      s"dimBudgets ($dimBudgets) must be non-empty positive")
    require(dimBudgets.distinct.size == dimBudgets.size,
      s"dimBudgets ($dimBudgets) must be distinct")
    require(k >= 1, s"k ($k) must be >= 1")
    require(maxQueries >= 1, "maxQueries must be >= 1")
    val spark = corpus.sparkSession
    val qRows = queries.select(col(qIdCol).cast("long").as("__qid"),
        col(qVecCol).as("__qv"))
      .limit(maxQueries + 1).collect() // bounded driver read (guarded)
    require(qRows.length <= maxQueries,
      s"embeddingTruncationReport: over $maxQueries queries — sample the " +
        "query side (the report is per-query exact scoring; its cost is " +
        "n_queries corpus scans' worth of per-row work)")
    require(qRows.nonEmpty, "embeddingTruncationReport: no queries")
    val nq = qRows.length.toLong
    val dimRow = corpus.agg(min(size(col(vecCol))).as("lo"),
      max(size(col(vecCol))).as("hi")).head()
    val dims = dimRow.getInt(0)
    require(dims == dimRow.getInt(1),
      s"embeddingTruncationReport: ragged dims [$dims, ${dimRow.getInt(1)}]")
    require(dimBudgets.forall(_ < dims),
      s"dimBudgets ($dimBudgets) must be < full dims ($dims)")
    val c = corpus.select(col(idCol).cast("long").as("__cid"),
      col(vecCol).as("__cv"))
    // a zero-norm PREFIX (all-zero leading dims) reads 0/0 = NaN from
    // the fused loop — score it 0 so it ranks below any real match
    // (the oracle's CASE WHEN norm = 0 twin)
    def cosTo(qv: Seq[Float], d: Int): Column = {
      val raw =
        if (d == dims)
          GraftFunctions.cosineF32(corpus, vectorLit(qv), col("__cv"))
        else
          GraftFunctions.cosineF32(corpus,
            vectorLit(qv.take(d)), slice(col("__cv"), 1, d))
      when(isnan(raw), lit(0.0)).otherwise(raw)
    }
    val entries: Seq[Column] = for {
      qr <- qRows.toSeq
      d <- dimBudgets :+ dims
    } yield struct(lit(qr.getLong(0)).as("qid"), lit(d).as("d"),
      cosTo(qr.getSeq[Float](1), d).as("cos"))
    val stacked = c
      .select(col("__cid"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.qid").as("__qid"), col("__cid"),
        col("__e.d").as("__d"), col("__e.cos").as("__cos"))
      .filter(col("__qid") =!= col("__cid"))
    val ranked = graft.functions.Aggregators.topKPerGroup(
      stacked, Seq("__qid", "__d"), "__cos", "__cid", k)
    val fullTop = ranked.filter(col("__d") === dims)
      .select(col("__qid"), col("__cid"))
    val hits = ranked.filter(col("__d") =!= dims)
      .join(fullTop, Seq("__qid", "__cid"))
      .groupBy(col("__d")).agg(count(lit(1)).as("n_hits"))
    import spark.implicits._
    dimBudgets.toDF("__d")
      .join(hits, Seq("__d"), "left")
      .select(col("__d").as("dims_budget"), lit(dims).as("full_dims"),
        lit(nq).as("n_queries"), lit(k).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(nq.toDouble * k)).as("recall"))
      .orderBy("dims_budget")
  }

  /** Two-stage truncated-retrieve → full-dim re-rank eval — the funnel
    * [[embeddingTruncationReport]]'s recall numbers motivate: stage 1
    * retrieves top-`m` candidates by PREFIX-dimension cosine (the
    * cheap truncated index), stage 2 re-ranks only those `m` at full
    * dimension, and the report gives recall@k of the funnel against
    * the exact full-dimension top-k, per candidate budget `m` — the
    * curve that picks the smallest stage-1 budget whose funnel recall
    * is indistinguishable from exact search.
    *
    * Determinism and scale shape as [[embeddingTruncationReport]]:
    * bounded literal queries, NO join in scoring (one derived scan
    * per ranking branch — exact, stage-1, and the cosF join-back,
    * each corpus-scan-shaped with per-row fused cosines), both
    * cosines for a pair computed in the same projection, ties by id
    * everywhere; the only windows run over per-query candidate sets
    * (≤ max(m) rows per query), never the corpus. Output: one row per
    * `m` — (`prefix_dims`, `m`, `k`, `n_queries`, `n_hits`,
    * `recall`). */
  def truncatedRerankReport(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      prefixDims: Int,
      mCandidates: Seq[Int],
      k: Int,
      maxQueries: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(mCandidates.nonEmpty && mCandidates.forall(_ >= k),
      s"mCandidates ($mCandidates) must be non-empty, each >= k ($k)")
    require(mCandidates.distinct.size == mCandidates.size,
      s"mCandidates ($mCandidates) must be distinct")
    require(k >= 1, s"k ($k) must be >= 1")
    require(maxQueries >= 1, "maxQueries must be >= 1")
    val spark = corpus.sparkSession
    val qRows = queries.select(col(qIdCol).cast("long").as("__qid"),
        col(qVecCol).as("__qv"))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"truncatedRerankReport: over $maxQueries queries — sample the " +
        "query side")
    require(qRows.nonEmpty, "truncatedRerankReport: no queries")
    val nq = qRows.length.toLong
    val dimRow = corpus.agg(min(size(col(vecCol))).as("lo"),
      max(size(col(vecCol))).as("hi")).head()
    val dims = dimRow.getInt(0)
    require(dims == dimRow.getInt(1),
      s"truncatedRerankReport: ragged dims [$dims, ${dimRow.getInt(1)}]")
    require(prefixDims >= 1 && prefixDims < dims,
      s"prefixDims ($prefixDims) must be in [1, $dims)")
    val mMax = mCandidates.max
    val c = corpus.select(col(idCol).cast("long").as("__cid"),
      col(vecCol).as("__cv"))
    def guard(raw: Column): Column =
      when(isnan(raw), lit(0.0)).otherwise(raw)
    val entries: Seq[Column] = qRows.toSeq.map { qr =>
      val qv = qr.getSeq[Float](1)
      struct(lit(qr.getLong(0)).as("qid"),
        guard(GraftFunctions.cosineF32(corpus,
          vectorLit(qv.take(prefixDims)),
          slice(col("__cv"), 1, prefixDims))).as("cosp"),
        guard(GraftFunctions.cosineF32(corpus,
          vectorLit(qv), col("__cv"))).as("cosf"))
    }
    val scored = c
      .select(col("__cid"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.qid").as("__qid"), col("__cid"),
        col("__e.cosp").as("__cosp"), col("__e.cosf").as("__cosf"))
      .filter(col("__qid") =!= col("__cid"))
    val exact = graft.functions.Aggregators.topKPerGroup(
        scored, Seq("__qid"), "__cosf", "__cid", k)
      .select(col("__qid"), col("__cid"))
    // stage-1 candidates at the LARGEST budget, full-dim score joined
    // back (equi join, candidate-bounded), prefix rank recovered over
    // the <= mMax-row per-query set
    val s1 = graft.functions.Aggregators.topKPerGroup(
      scored, Seq("__qid"), "__cosp", "__cid", mMax)
    val s1f = s1.join(scored.select("__qid", "__cid", "__cosf"),
        Seq("__qid", "__cid"))
      .withColumn("__prank", row_number().over(Window.partitionBy("__qid")
        .orderBy(col("__cosp").desc, col("__cid"))))
    import spark.implicits._
    val funnel = s1f
      .withColumn("m", explode(array(mCandidates.map(lit): _*)))
      .filter(col("__prank") <= col("m"))
      .withColumn("__frank", row_number().over(Window.partitionBy("m", "__qid")
        .orderBy(col("__cosf").desc, col("__cid"))))
      .filter(col("__frank") <= k)
      .select(col("m"), col("__qid"), col("__cid"))
    val hits = funnel.join(exact, Seq("__qid", "__cid"))
      .groupBy("m").agg(count(lit(1)).as("n_hits"))
    mCandidates.toDF("m")
      .join(hits, Seq("m"), "left")
      .select(lit(prefixDims).as("prefix_dims"), col("m"),
        lit(k).as("k"), lit(nq).as("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(nq.toDouble * k)).as("recall"))
      .orderBy("m")
  }

  /** Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    * a splitmix64-style integer mix of (plane, dim) — no RNG state, so
    * every executor and every run derives identical planes. */
  private[operators] def planeComponent(plane: Int, dim: Int): Float = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z & 0xFFFFFFL).toFloat / 0x1000000L.toFloat) - 0.5f
  }

  /** Sign-LSH bucket id: one bit per hyperplane (sign of the dot
    * product), packed into a long. `dims` must match the embedding
    * width. Map-only. `dot` defaults to the generic composed dot
    * product; pass a native one (e.g. [[GraftFunctions.dotF32]]) for
    * float embeddings. */
  def signLshBucket(
      vec: Column,
      planes: Int,
      dims: Int,
      dot: (Column, Column) => Column = ArrayFunctions.dotProduct): Column =
    (0 until planes).map { p =>
      val plane = (0 until dims).map(d => planeComponent(p, d))
      when(dot(vec, vectorLit(plane)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: score only vectors whose LSH bucket is within
    * `maxHamming` bits of the query's bucket, then exact cosine top-k on
    * the candidates.
    *
    * Scale shape: bucket assignment is map-only; the bucket filter
    * prunes the corpus before any scoring; the final top-k is again
    * TakeOrderedAndProject. Recall improves with maxHamming (and the
    * candidate set grows ~ C(planes, maxHamming)/2^planes of the data).
    */
  def annTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      planes: Int = 12,
      maxHamming: Int = 2): DataFrame = {
    val dims = query.length
    val queryBucket = (0 until planes).map { p =>
      val plane = (0 until dims).map(d => planeComponent(p, d))
      val dot = plane.zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum
      if (dot > 0) 1L << p else 0L
    }.sum
    df.withColumn("__bucket",
        signLshBucket(col(vecCol), planes, dims,
          (a, b) => GraftFunctions.dotF32(df, a, b)))
      .filter(bit_count(col("__bucket").bitwiseXOR(lit(queryBucket))) <= maxHamming)
      .select(col(idCol),
        GraftFunctions.cosineF32(df, col(vecCol), vectorLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** ALL-PAIRS embedding near-duplicates via banded sign-LSH buckets —
    * the corpus-scale complement to [[windowedCosinePairs]] (which only
    * examines id-adjacent pairs). Each vector gets a `planes`-bit sign
    * signature; the signature splits into `bands` contiguous bit
    * groups; vectors sharing ANY band's bit pattern become candidate
    * pairs; candidates verify with exact (native codegen) cosine at
    * `threshold`.
    *
    * Scale shape mirrors the MinHash text pipeline: map-only signature
    * -> explode to bands -> one hash shuffle on (band, key) ->
    * bucket-local pair expansion (skew-guarded by `maxBucket` — a giant
    * bucket means a degenerate region, not useful dup candidates) ->
    * distinct -> two hash joins to fetch vectors -> exact verify. Cost
    * tracks colliding pairs, never n². Recall rises with more, smaller
    * bands (collision needs only rows=planes/bands agreeing bits).
    */
  def lshCosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      threshold: Double,
      planes: Int = 16,
      bands: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    require(planes % bands == 0, s"bands ($bands) must divide planes ($planes)")
    require(planes <= 63, "sign signature is packed into one long")
    val rows = planes / bands
    val docs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket",
        signLshBucket(col("v"), planes, dims,
          (a, b) => GraftFunctions.dotF32(df, a, b)))
    val banded = docs.select(col("id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("bucket"), b * rows)
              .bitwiseAND(lit((1L << rows) - 1)).as("key"))
        }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val bucketed = banded
      .groupBy("band", "key").agg(collect_list("id").as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val candidates = bucketed
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    val va = df.select(col(idCol).as("a"), col(vecCol).as("v_a"))
    val vb = df.select(col(idCol).as("b"), col(vecCol).as("v_b"))
    candidates.join(va, "a").join(vb, "b")
      .withColumn("cosine", GraftFunctions.cosineF32(df, col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("cosine"))
  }

  /** Embedding near-duplicate pairs within a doc-id window: exact
    * cosine on (id, id+delta) pairs for delta in 1..window. Linear in
    * corpus size — the deterministic, oracle-checkable complement to
    * LSH-based all-pairs detection.
    *
    * Plan: BUCKETED self-join on `id div window`, the same shape as
    * [[graft.operators.Dedup.windowedNgramJaccardPairs]] — the probe
    * side carries each vector once, the build side twice (its own
    * bucket and the previous one; every (a, b <= a+window) pair lands
    * in one of the two), so each embedding crosses the exchange at
    * most 3 times total. The explode-to-partner-ids shape ships each
    * vector `window+1` times — 26x the shuffle bytes at window=25,
    * and embeddings (768-dim float) are the widest payload in the
    * engine, so the amplification lands where it hurts most at 100 TB.
    * Bucket equality is the join key; `delta in 1..window` stays a
    * post-join filter, so this plans as a hash join, never a nested
    * loop. `div` (exact integral division) rather than `floor(/)`:
    * the double round-trip mis-buckets ids past 2^53. */
  def windowedCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      window: Int,
      threshold: Double): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val docs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bkt = expr(s"CAST(id AS BIGINT) div $window")
    val a = docs.select(col("id").as("id_a"), col("v").as("v_a"), bkt.as("bkt"))
    val b = docs.select(col("id").as("id_b"), col("v").as("v_b"),
      explode(array(bkt, bkt - 1)).as("bkt"))
    a.join(b, "bkt")
      .filter(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + window)
      .withColumn("cosine", GraftFunctions.cosineF32(df, col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Brute-force top-k over int8-QUANTIZED vectors — the search path
    * [[quantizeInt8]] compresses for: the integer dot product `dot_q`
    * is exact (no float accumulation order to worry about), and the
    * dequantized score `dot_q / (scale_d * scale_q)` approximates the
    * raw dot product to quantization error. Plan shape matches
    * [[bruteForceTopK]]: map-only scoring + TakeOrderedAndProject —
    * per-partition heaps of k, never a global sort. The query's own
    * quantization is a constant-foldable literal expression. At 100 TB
    * the win is the 4x scan-footprint cut when the corpus is STORED
    * quantized (persist `quantizeInt8` output once, reuse per query). */
  /** Driver-side twin of [[quantizeInt8]] for a query vector — the same
    * IEEE ops (double scale, round-half-up, clamp), so query codes are
    * bit-identical to quantizing the vector in-engine. */
  def quantizeInt8Local(v: Seq[Float]): (Seq[Int], Double) = {
    val ma = v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
    val scale = if (ma == 0.0) 0.0 else 127.0 / ma
    val codes = v.map(x =>
      math.max(-127L, math.min(127L,
        math.floor(x.toDouble * scale + 0.5).toLong)).toInt)
    (codes, scale)
  }

  def quantizedTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame = {
    val (qCodes, qScale) = quantizeInt8Local(query)
    // Fused native quantize+dot: one codegen'd two-pass loop per row,
    // no per-row code-array allocation (the HOF composition of
    // quantizeInt8 + zip_with + aggregate is ~6x slower, interpreted).
    val d = GraftFunctions.quantizedDot(df, col(vecCol),
      array(qCodes.map(lit): _*))
    df.select(col(idCol), d.getField("dot_q").as("dot_q"),
        d.getField("scale").as("__sd"))
      .withColumn("approx_dot",
        when(col("__sd") === 0.0 || lit(qScale) === 0.0, lit(0.0))
          .otherwise(col("dot_q").cast("double") / (col("__sd") * lit(qScale))))
      .orderBy(col("approx_dot").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dot_q"), col("approx_dot"))
  }

  /** Symmetric int8 quantization of a float-vector column — the
    * vector-index compression step (4x smaller than float32, and the
    * dot-product kernel becomes integer SIMD). Per-vector scale
    * `127 / max|x|`; each component maps to
    * `clamp(floor(x * scale + 0.5), -127, 127)` (round-half-up — NOT
    * engine-dependent banker's rounding, so the quantized bytes are
    * bit-identical across engines and reruns). A zero vector gets
    * scale 0 and all-zero codes rather than an Inf scale.
    *
    * Map-only: no shuffle, no state; returns a struct column
    * `(q: array<int>, scale: double)` so callers keep the scale for
    * dequantization. All arithmetic is in double — float32 inputs are
    * exactly representable, so the oracle reproduces every code. */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = when(maxAbs === 0.0, lit(0.0)).otherwise(lit(127.0) / maxAbs)
    struct(
      transform(vec, x =>
        greatest(lit(-127),
          least(lit(127),
            floor(x.cast("double") * scale + 0.5).cast("int")))).as("q"),
      scale.as("scale"))
  }

  /** Semantic deduplication (SemDeDup-style, Abbas et al. 2023):
    * cluster the embedding space with the shared IVF k-means model
    * ([[Ivf.train]]), compare vectors ONLY within their cell, connect
    * pairs with cosine >= `threshold`, and keep exactly one
    * representative per connected group — the deterministic min-id,
    * the same retention rule as the exact/MinHash dedup family (the
    * paper keeps a centroid-distance extreme; min-id is rerun-stable
    * and engine-portable, which is what an oracle-gated pipeline
    * needs). Returns one row PER INPUT VECTOR: (`idCol`, `rep_id`,
    * `kept`) — `rep_id` = the group representative (itself for
    * singletons), `kept` = whether the vector survives dedup.
    *
    * Scale shape: the cell assignment is the corpus's only full pass
    * (map-only argmax-cosine over centroid literals, the
    * [[Ivf.assign]] kernel); pair expansion is CELL-LOCAL behind the
    * count-first [[BucketGuard]] discipline — each row learns its
    * cell's cardinality from a spillable whole-partition count window
    * BEFORE any `collect_list` materializes a cell, so a degenerate
    * cell (all-identical embeddings) costs disk and a loud
    * `raise_error`, never an executor OOM; `dropOversize=true` trades
    * that error for recall loss, observably. The component step runs
    * on the SPARSE qualifying-pair graph only (near-dup groups, not
    * the corpus). Cell-local restriction is the approximation the
    * paper makes too — `nprobe` is the recall knob
    * ([[Ivf.assignProbes]]): each vector pairs within its nprobe
    * nearest cells, so a qualifying pair is missed only when BOTH
    * vectors' cell rankings diverge past nprobe (at nprobe=1, any
    * straddled argmax boundary loses the pair — measured 11% of twin
    * pairs at sf0.01). The oracle gate (q106) holds the whole pipeline
    * to the EXACT full-corpus pair graph, so at the gated scale the
    * approximation is provably lossless.
    *
    * Cost model, honestly: cell-local pair work is
    * O(n² * nprobe² / k) against brute force's O(n²) — the pruning is
    * real only when k >> nprobe², which is how IVF is sized at corpus
    * scale (k ~ sqrt(n): at 10^10 vectors and 10^5 cells, nprobe=8
    * prunes 99.99% of the pair space). The gate corpus is cluster
    * locality's WORST case — isotropic random vectors sit
    * near-orthogonal to every centroid, cell rankings ride tiny
    * margins, and even cosine-0.95 twins diverge in rank, which is
    * what forces nprobe=6 against the toy k=16 model (at that ratio
    * the pair stage costs ~2x the brute-force pair count; the gate is
    * checking SEMANTICS — pair set, transitive groups, retention —
    * not the prune ratio). Real embedding corpora cluster, which is
    * SemDeDup's premise and what restores the asymptotic win. */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      model: Ivf.Model,
      threshold: Double,
      nprobe: Int = 2,
      maxCell: Int = 10000,
      dropOversize: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1]")
    require(nprobe > 0, s"nprobe ($nprobe) must be positive")
    // Mirrors Dedup.hammingBandedPairs' load-bearing lower bound: with
    // dropOversize=true and maxCell < 2 the keep filter between(2,
    // maxCell) is unsatisfiable and every pair silently disappears.
    require(maxCell >= 2, s"maxCell ($maxCell) must be >= 2 — a pair " +
      "needs two vectors in a cell")
    val ids = emb.select(col(idCol), col(vecCol))
    // clamp: a model with fewer cells than nprobe just probes them all
    val assigned = Ivf.assignProbes(ids, vecCol, model,
      math.min(nprobe, model.k), "__cell")
      .select(col("__cell"),
        struct(col(idCol).as("id"), col(vecCol).as("vec")).as("ds"))
    val celled = BucketGuard.withBucketCount(assigned, Seq("__cell"))
      .groupBy("__cell")
      .agg(max(col(BucketGuard.CountCol)).cast("int").as("__bn"),
        collect_list(when(col(BucketGuard.CountCol) <= maxCell, col("ds")))
          .as("ds"))
    val guarded =
      (if (dropOversize) celled.filter(col("__bn").between(2, maxCell))
      else celled.filter(col("__bn") >= 2 &&
        when(col("__bn") <= maxCell, lit(true)).otherwise(raise_error(concat(
          lit(s"semanticDedup cell exceeded maxCell=$maxCell (size "),
          col("__bn").cast("string"),
          lit(") — raise k (more, smaller cells), raise maxCell, or pass " +
            "dropOversize=true to accept recall loss."))).cast("boolean"))))
      .drop("__bn")
    // A pair sharing several probed cells is scored once per shared
    // cell and deduped AFTER the threshold filter. Measured dead end
    // (round 11): scoring each pair only in its minimum common probed
    // cell — carrying the 6-element probe set per row and filtering on
    // array_intersect/array_min — was 2.4x SLOWER at sf0.1 (18.4 s vs
    // 7.8 s, gc_ms 980): ArrayIntersect allocates a hash set per
    // evaluation, while the duplicate cosines it avoids are fused
    // allocation-free codegen. The duplicates only cost where probe
    // sets overlap, and distinct() on the post-threshold survivors is
    // pair-bounded.
    val pairs = guarded
      .select(explode(col("ds")).as("x"), col("ds"))
      .select(col("x"), explode(col("ds")).as("y"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        GraftFunctions.cosineF32(emb, col("x.vec"), col("y.vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct() // a pair may share up to nprobe cells
    val labels = Components.connectedComponents(pairs, "id_a", "id_b")
    ids.select(col(idCol))
      .join(labels.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("rep_id"))
      .withColumn("kept", col(idCol) === col("rep_id"))
  }

  /** Semantic decontamination — the embedding analog of the MinHash
    * cross-corpus check ([[Dedup.crossCorpusNearDupJoin]], q55): for
    * every EVAL vector, does a TRAIN vector with cosine >= `threshold`
    * exist anywhere in the training corpus? Benchmark paraphrases
    * survive lexical decontamination (different words, same meaning);
    * this is the gate that catches them.
    *
    * Shape ([[semanticDedup]]'s cell machinery applied cross-corpus):
    * BOTH sides are multi-probe-assigned to their `nprobe` nearest IVF
    * cells ([[Ivf.assignProbes]]), the train side's cell populations
    * are capped count-first behind [[BucketGuard]] (a degenerate hot
    * cell raises loudly — or drops observably with `dropOversize` —
    * before any pair expansion), and candidates meet in ONE equi-join
    * on the cell id: the eval side is the small probe side (AQE
    * broadcasts it), the train side never crosses with eval outside
    * the cells eval actually probes, and pair work is bounded by
    * colliding (eval, train) probe rows — never eval x train. A pair
    * sharing several probed cells is scored once per shared cell and
    * deduped AFTER the threshold filter (the q106-measured strategy:
    * duplicate fused-codegen cosines beat per-row probe-set
    * intersection 2.4x). A qualifying pair is missed only when the two
    * vectors' probe sets are disjoint — recall is monotone in
    * `nprobe`, sized by measurement exactly like [[semanticDedup]]
    * (q110's gate holds the output to the EXACT full cross-corpus
    * threshold graph, so at the gated scale the restriction is
    * provably lossless).
    *
    * Output: one row per eval id — `contaminated` flag, the exact
    * count of qualifying train neighbors found, and the minimum
    * qualifying train id (both integer-exact, so the oracle gate never
    * rides a float aggregate). Downstream: `filter(!contaminated)` is
    * the cleaned eval set; the hit columns are the audit trail. */
  def semanticDecontaminate(
      eval: DataFrame,
      train: DataFrame,
      idCol: String,
      vecCol: String,
      model: Ivf.Model,
      threshold: Double,
      nprobe: Int = 2,
      maxCell: Int = 10000,
      dropOversize: Boolean = false): DataFrame = {
    require(nprobe > 0, s"nprobe ($nprobe) must be positive")
    decontaminateAgainstIndex(eval,
      decontaminationIndex(train, idCol, vecCol, model,
        math.min(nprobe, model.k), maxCell, dropOversize),
      idCol, vecCol, model, threshold, math.min(nprobe, model.k))
  }

  /** The train-side half of [[semanticDecontaminate]]: the
    * probe-assigned, count-first-guarded cell table
    * `(__cell, __tid, __tvec)` the eval side joins against. Split out
    * so a caller holding a FROZEN train corpus + model (the streaming
    * ingestion gate, which otherwise re-plans — and therefore
    * re-assigns — the whole train side on EVERY micro-batch) can build
    * the index once, `localCheckpoint` it, and score every batch
    * against the materialized cells; the one-shot batch operator
    * composes the same two halves unchanged. Deterministic given
    * (train, model), so materializing it cannot change any result. */
  private[graft] def decontaminationIndex(
      train: DataFrame,
      idCol: String,
      vecCol: String,
      model: Ivf.Model,
      nprobe: Int,
      maxCell: Int,
      dropOversize: Boolean = false): DataFrame = {
    require(nprobe > 0, s"nprobe ($nprobe) must be positive")
    require(maxCell >= 1, s"maxCell ($maxCell) must be >= 1 — a cross " +
      "pair needs one train vector in the cell")
    val np = math.min(nprobe, model.k)
    val trainP = Ivf.assignProbes(
      train.select(col(idCol).as("__tid"), col(vecCol).as("__tvec")),
      "__tvec", model, np, "__cell")
    // Count-first cap on train cell population (probe rows), so a
    // degenerate cell fails before the join ever expands it.
    BucketGuard.bounded(trainP, Seq("__cell"),
      minSize = 1, maxBucket = maxCell, dropOversize = dropOversize,
      oversizeMsg = n => concat(
        lit(s"semanticDecontaminate train cell exceeded maxCell=$maxCell " +
          "(size "), n.cast("string"),
        lit(") — raise k (more, smaller cells), raise maxCell, or pass " +
          "dropOversize=true to accept recall loss.")))
  }

  /** The eval-side half of [[semanticDecontaminate]]: probe-assign the
    * eval vectors, join the (possibly pre-materialized) train index on
    * the cell id, threshold, dedup, aggregate per eval id. */
  private[graft] def decontaminateAgainstIndex(
      eval: DataFrame,
      trainG: DataFrame,
      idCol: String,
      vecCol: String,
      model: Ivf.Model,
      threshold: Double,
      nprobe: Int): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1]")
    require(nprobe > 0, s"nprobe ($nprobe) must be positive")
    val np = math.min(nprobe, model.k)
    val evalP = Ivf.assignProbes(
      eval.select(col(idCol).as("__eid"), col(vecCol).as("__evec")),
      "__evec", model, np, "__cell")
    val hits = evalP.join(trainG, Seq("__cell"))
      .select(col("__eid"), col("__tid"),
        GraftFunctions.cosineF32(eval, col("__evec"), col("__tvec"))
          .as("__cos"))
      .filter(col("__cos") >= threshold)
      .select(col("__eid"), col("__tid"))
      .distinct() // a pair may share up to nprobe^2 probed cells
      .groupBy("__eid")
      .agg(count(lit(1)).cast("long").as("n_train_hits"),
        min(col("__tid")).as("min_train_id"))
    eval.select(col(idCol))
      .join(hits.withColumnRenamed("__eid", idCol), Seq(idCol), "left")
      .select(col(idCol),
        col("n_train_hits").isNotNull.as("contaminated"),
        coalesce(col("n_train_hits"), lit(0L)).as("n_train_hits"),
        col("min_train_id"))
  }

  /** Embedding-table health report — the QA pass before an embedding
    * column feeds dedup/ANN/eval: per-table norms (a collapsing or
    * exploding encoder shows up as drifting norm statistics),
    * zero-norm counts (unsearchable vectors), and the ANISOTROPY
    * proxy — mean cosine to the table centroid, which for a healthy
    * spread sits near 0 and for the degenerate "all embeddings in one
    * cone" failure approaches 1 (the well-documented representation-
    * collapse signature). Dimensionality must be uniform (checked
    * loudly — a ragged table upstream is a bug, not a statistic).
    *
    * Determinism: per-dimension centroid sums, norm sums, and the
    * cosine mean all accumulate as rounded DECIMALs, so every
    * reported number is independent of partitioning and fold order;
    * outputs round at 6. Scale shape: one posexplode aggregation
    * bounded by dims for the centroid, then ONE map-only pass scoring
    * each vector against the centroid literal + a scalar aggregation
    * — no joins, no windows.
    *
    * Output: one row — (`n`, `dims`, `n_zero_norm`, `mean_norm6`,
    * `min_norm6`, `max_norm6`, `mean_cos_centroid6`). */
  def embeddingHealthReport(
      df: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = Blocks.scoped { scope =>
    val spark = df.sparkSession
    // ONE corpus scan: the three actions below (dim stats, centroid,
    // norm/cos moments) reuse this checkpoint instead of re-scanning
    // the embedding table per action
    val vecs = scope.checkpoint(
      df.select(col(vecCol).as("__v")).filter(col("__v").isNotNull))
    val dimStats = vecs.agg(
      count(lit(1)).as("n"),
      min(size(col("__v"))).as("dmin"),
      max(size(col("__v"))).as("dmax")).head()
    val n = dimStats.getLong(0)
    require(n > 0L, "embeddingHealthReport: no non-null vectors")
    val dims = dimStats.getInt(1)
    require(dims == dimStats.getInt(2) && dims > 0,
      s"embeddingHealthReport: ragged dimensionalities " +
        s"[${dimStats.getInt(1)}, ${dimStats.getInt(2)}] — fix upstream")
    // per-dimension centroid: dims-bounded aggregation, DECIMAL-exact
    val centroid = vecs
      .select(posexplode(col("__v")).as(Seq("__d", "__x")))
      .groupBy("__d")
      .agg(sum(round(col("__x").cast("double"), 12)
        .cast("decimal(38,12)")).as("__s"))
      .orderBy("__d").collect()
      .map(r => (r.getDecimal(1).doubleValue() / n).toFloat)
    val cLit = vectorLit(centroid.toSeq)
    // a perfectly cancelling table has a ZERO centroid — no direction
    // to measure concentration against; report 0, the isotropic limit
    val centroidIsZero = centroid.forall(_ == 0.0f)
    val norm = sqrt(aggregate(col("__v"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val scored = vecs
      .withColumn("__norm", norm)
      .withColumn("__cos",
        if (centroidIsZero) lit(0.0)
        else graft.expressions.GraftFunctions.cosineF32(df, col("__v"), cLit))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast("decimal(38,12)")).cast("double")
    val s = scored.agg(
      sum(when(col("__norm") === 0.0, 1L).otherwise(0L)).as("zeros"),
      dsum(col("__norm")).as("nsum"),
      min(round(col("__norm"), 6)).as("nmin"),
      max(round(col("__norm"), 6)).as("nmax"),
      dsum(when(col("__norm") > 0.0, col("__cos")).otherwise(lit(0.0)))
        .as("csum")).head()
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nonZero = n - s.getLong(0)
    import spark.implicits._
    Seq((n, dims, s.getLong(0),
      r6(s.getDouble(1) / n), s.getDouble(2), s.getDouble(3),
      if (nonZero == 0L) 0.0 else r6(s.getDouble(4) / nonZero)))
      .toDF("n", "dims", "n_zero_norm", "mean_norm6", "min_norm6",
        "max_norm6", "mean_cos_centroid6")
  }
}
